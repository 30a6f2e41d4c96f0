package graft.perfbench

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The engine only ever sees the parquet they
  * write; nothing here calls into the engine.
  */
object Gen {

  /** Gaussian blobs for `mopso_blobs`: point i has label 1 + i mod k and
    * sits at its label's center plus noise of standard deviation 0.1
    * drawn from `seed`; ids are 0..n-1. Centers are fixed, 10 units out
    * along axis `label - 1`. Tight, fixed clusters keep the k-means init
    * at the same number of Lloyd rounds for every seed: with seeded
    * centers, or unit noise, a seed whose init put two centers in one
    * blob took 29 to 34 k-means jobs instead of 13, and a run's cost
    * followed its seed.
    */
  def blobs(spark: SparkSession, path: String, n: Int, f: Int, k: Int,
      seed: Long): Unit = {
    require(k <= f, "one axis per center")
    val rng = new Random(seed)
    val rows = (0 until n).map { i =>
      val label = i % k
      Row(i.toLong, Array.tabulate(f)(j =>
        (if (j == label) 10.0 else 0.0) + 0.1 * rng.nextGaussian()).toSeq,
        label + 1)
    }
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("features", ArrayType(DoubleType, containsNull = false)),
      StructField("label", IntegerType, nullable = false)))
    write(spark, rows, schema, path, files = 4)
  }

  /** The `lineitem`, `documents` and `embeddings` tables the `query_mix`
    * rows read, with the schemas and sf0.001 row counts of the fixture
    * tables.
    *
    * Table CONTENT is fixed (drawn from [[ContentSeed]]) so that each
    * row's output has one recorded content hash; `seed` decides the
    * physical layout only: the row order inside every file. Row order
    * reaches the plans through file splits, range-partition sampling and
    * first-seen tie breaks, so a row whose answer depends on it fails
    * its hash check instead of going unnoticed.
    */
  def tables(spark: SparkSession, dir: String, seed: Long): Unit = {
    val layout = new Random(seed)
    fixedTables(new Random(ContentSeed)).foreach { case (name, schema, rows) =>
      write(spark, layout.shuffle(rows), schema, s"$dir/$name.parquet",
        files = 1)
    }
  }

  val ContentSeed = 42L

  private val Words = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  private val Day = 86400L
  private val Y1995 = 788918400L // 1995-01-01T00:00:00Z

  private def schemaOf(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })

  private def fixedTables(r: Random): Seq[(String, StructType, Seq[Row])] = {
    val nOrders = 1500; val nParts = 200; val nSupps = 10
    val nLines = 6000; val nDocs = 500; val nVecs = 500; val dim = 64

    // orders carry 1..7 lines, shipped up to 120 days after the order date
    val lineitem = {
      val out = Seq.newBuilder[Row]
      var o = 0
      var count = 0
      while (count < nLines) {
        val orderDay = r.nextInt(2404).toLong
        val lines = math.min(1 + r.nextInt(7), nLines - count)
        (1 to lines).foreach { ln =>
          val qty = (1 + r.nextInt(50)).toDouble
          out += Row(o.toLong % nOrders, r.nextInt(nParts).toLong,
            r.nextInt(nSupps).toLong, ln, qty,
            math.round(qty * (900 + r.nextInt(1200)) * 100) / 100.0,
            r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
            Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
            new Timestamp((Y1995 + (orderDay + 1 + r.nextInt(120)) * Day) *
              1000L))
        }
        count += lines
        o += 1
      }
      out.result()
    }
    // every fifth document near-duplicates an earlier one (a few words
    // swapped), so the dedup closures have real groups to merge
    val texts = new Array[String](nDocs)
    (0 until nDocs).foreach { i =>
      texts(i) =
        if (i >= 10 && i % 5 == 0) {
          val words = texts(r.nextInt(i)).split(" ")
          (0 until 2).foreach(_ => words(r.nextInt(words.length)) =
            Words(r.nextInt(Words.size)))
          words.mkString(" ")
        } else Seq.fill(10 + r.nextInt(90))(Words(r.nextInt(Words.size)))
          .mkString(" ")
    }
    val langs = Seq("en", "en", "en", "es", "zh", "de", "fr")
    val documents = (0 until nDocs).map(i => Row(i.toLong, texts(i),
      langs(r.nextInt(langs.size)), s"src${i % 20}", texts(i).length.toLong))
    def unit(v: Array[Double]): Array[Double] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    val labelCenters = Array.fill(10)(unit(Array.fill(dim)(r.nextGaussian())))
    val embeddings = (0 until nVecs).map { i =>
      val label = r.nextInt(10)
      val v = unit(labelCenters(label).map(_ + 0.15 * r.nextGaussian()))
      Row(i.toLong, v.map(_.toFloat).toSeq, label)
    }

    Seq(
      ("lineitem", schemaOf("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampType), lineitem),
      ("documents", schemaOf("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
        documents),
      ("embeddings", schemaOf("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
        embeddings))
  }

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String, files: Int): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(path)
}
