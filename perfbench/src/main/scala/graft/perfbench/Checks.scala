package graft.perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

import graft.mopso.{Archive, ArchiveEntry}

/** Output checks applied to every timed operation. */
object Checks {

  /** Order-insensitive content hash of a frame: every row is rendered to
    * a canonical string (doubles rounded to 9 significant digits, so a
    * different partial-sum order cannot flip the last bits), hashed to 64
    * bits, and the row hashes are SUMMED, which makes the result
    * independent of row and partition order but sensitive to every row's
    * content and multiplicity. Column order is part of the content.
    *
    * This is the benchmark's sink: like the noop sink it materializes
    * every row and column of the plan, in one job, and it also yields the
    * value the row is checked against.
    */
  def contentHash(df: DataFrame): String = {
    val (n, h) = df.rdd
      .mapPartitions(rows => Iterator.single(fold(rows)))
      .fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
    show(n, h)
  }

  /** Row count and summed row hash of some rows. */
  def fold(rows: Iterator[Row]): (Long, Long) = {
    var n = 0L; var h = 0L
    rows.foreach { r => n += 1; h += rowHash(r) }
    (n, h)
  }

  def show(n: Long, h: Long): String = f"$n:$h%016x"

  def rowHash(r: Row): Long = {
    val s = render(r)
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  private val Digits = new MathContext(9)

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => renderDouble(d)
    case f: Float => renderDouble(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", "\u0001", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", "\u0001", "]")
    case other => other.toString
  }

  private def renderDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(Digits).stripTrailingZeros.toString

  /** What a MOPSO archive must satisfy whatever the run's random draws:
    * non-empty, at most `repository` entries, every fitness value finite,
    * and no entry dominated by another. Returns the violations found.
    */
  def archiveViolations(archive: Seq[ArchiveEntry],
      repository: Int): Seq[String] = {
    val es = archive.toArray
    Seq(
      Option.when(es.isEmpty)("archive is empty"),
      Option.when(es.length > repository)(
        s"archive holds ${es.length} entries, more than $repository"),
      Option.when(es.exists(_.fitness.exists(x => x.isNaN || x.isInfinite)))(
        "archive holds a non-finite fitness"),
      Option.when(es.exists(e => Archive.isDominatedIn(e.fitness, es)))(
        "archive holds a dominated entry")).flatten
  }

  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  /** Metric and workload names: a letter or digit first, then at most 63
    * of `[A-Za-z0-9_.-]`.
    */
  def validName(name: String): Boolean = NamePattern.matches(name)
}
