package graft.perfbench

import org.apache.spark.sql.Row
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.mopso.ArchiveEntry

class ChecksSpec extends AnyFunSuite {
  private def hash(rows: Seq[Row]): String =
    (Checks.show _).tupled(Checks.fold(rows.iterator))

  private val rows = Seq(
    Row(1L, "a b c", 0.1 + 0.2, Seq(1.0, 2.0)),
    Row(2L, "d", 3.0, Seq.empty[Double]),
    Row(3L, null, -1.5, Seq(0.5)))

  test("content hash ignores row order") {
    assert(hash(rows) == hash(rows.reverse))
  }

  test("content hash flags a changed, dropped or duplicated row") {
    val base = hash(rows)
    assert(hash(rows.updated(1, Row(2L, "d", 3.5, Seq.empty[Double]))) != base)
    assert(hash(rows.updated(0, Row(1L, "a b c", 0.3, Seq(1.0, 2.5)))) != base)
    assert(hash(rows.tail) != base)
    assert(hash(rows :+ rows.head) != base)
  }

  test("content hash ignores float noise past nine significant digits") {
    val noisy = rows.updated(0, Row(1L, "a b c", 0.3 + 1e-15, Seq(1.0, 2.0)))
    assert(hash(noisy) == hash(rows))
  }

  private def entry(dev: Double, conn: Double) =
    ArchiveEntry(Array(Array(0.0)), Array(dev, conn), Array(0.0))

  private val front = Seq(entry(1, 5), entry(2, 4), entry(3, 3))

  test("a non-dominated archive within its repository passes") {
    assert(Checks.archiveViolations(front, repository = 3).isEmpty)
  }

  test("the archive check rejects a dominated entry") {
    val v = Checks.archiveViolations(front :+ entry(4, 4), repository = 15)
    assert(v == Seq("archive holds a dominated entry"))
  }

  test("the archive check rejects an oversized archive") {
    assert(Checks.archiveViolations(front, repository = 2).exists(
      _.contains("more than 2")))
  }

  test("the archive check rejects empty and non-finite archives") {
    assert(Checks.archiveViolations(Nil, 15) == Seq("archive is empty"))
    assert(Checks.archiveViolations(front :+ entry(0, Double.NaN), 15)
      .contains("archive holds a non-finite fitness"))
  }

  test("every emitted metric and workload name is well formed") {
    val emitted = Layers.names.map(_._1) ++ Main.endToEnd.map(_._1) ++
      Workloads.all.map(_.name)
    assert(emitted.size == emitted.distinct.size)
    assert(Layers.names.size <= 128)
    emitted.foreach(n => assert(Checks.validName(n), n))
    Seq("", "_x", "a b", "a/b", "x" * 65).foreach(n =>
      assert(!Checks.validName(n), n))
  }

  test("BENCHMARK.json lists exactly the names the harness emits") {
    val file = Iterator.iterate(new java.io.File("").getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null).map(new java.io.File(_, "BENCHMARK.json"))
      .find(_.isFile).getOrElse(fail("no BENCHMARK.json above the test"))
    val json = JsonMethods.parse(file)
    def listed(key: String, field: String): Seq[String] =
      (json \ key).children.map(e => (e \ field).values.toString)
    assert(listed("workloads", "name") == Workloads.all.map(_.name))
    assert(listed("end_to_end", "name") == Main.endToEnd.map(_._1))
    assert(listed("end_to_end", "unit") == Main.endToEnd.map(_._2))
    assert(listed("per_layer", "name") == Layers.names.map(_._1))
    assert(listed("per_layer", "unit") == Layers.names.map(_._2))
  }
}
