package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.functions.{Dedup, Similarity}
import graft.mopso.{Config, Mopso, MopsoConfig}

/** One timed call into the engine with its output check: `run` returns
  * None when the output is right, else what is wrong.
  */
final case class Op(name: String, run: () => Option[String])

/** A workload: inputs written once by [[setup]], then closed-loop passes
  * over the same [[ops]] (each op starts when the previous one ends).
  */
trait Workload {
  def name: String
  def setup(spark: SparkSession, dir: String, seed: Long): Unit
  def ops(spark: SparkSession, dir: String, seed: Long): Seq[Op]
}

object Workloads {
  val all: Seq[Workload] = Seq(MopsoBlobs, QueryMix)

  def byName(name: String): Option[Workload] = all.find(_.name == name)

  /** Recorded content hashes of the rows the benchmark checks, read
    * from the `golden.tsv` resource (`row<TAB>hash` lines).
    */
  lazy val golden: Map[String, String] = {
    val in = getClass.getResourceAsStream("/golden.tsv")
    require(in != null, "golden.tsv is missing from the benchmark classpath")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap
    finally in.close()
  }

  def rowOp(spark: SparkSession, dir: String, row: String, opName: String): Op =
    Op(opName, () => {
      val h = Checks.contentHash(SparkEntry.queries(row)(spark, dir))
      golden.get(row) match {
        case Some(`h`) => None
        case Some(want) => Some(s"$row: content hash $h, recorded $want")
        case None => Some(s"$row: content hash $h, none recorded")
      }
    })
}

/** Kernel-bound: the paper's full seeded MOPSO run on seeded blobs. */
object MopsoBlobs extends Workload {
  val name = "mopso_blobs"
  val N = 10000
  val F = 32
  val K = 10

  def path(dir: String) = s"$dir/blobs.parquet"

  /** Avg variant, id-range partitions sized by `partitionsFor`, the
    * reference's 30 iterations.
    */
  val cfg: MopsoConfig = MopsoConfig.avg(MopsoConfig.partitionsFor(N))
    .copy(partitioning = Config.PartByIdRange)

  def setup(spark: SparkSession, dir: String, seed: Long): Unit =
    Gen.blobs(spark, path(dir), N, F, K, seed)

  /** The archive of the last run, for the traced record. */
  @volatile var lastArchiveSize = 0

  /** Fitness values of this JVM's first archive. Same-seed runs in one
    * JVM are not repeatable (see README), so a later archive is checked
    * against the invariants only; a difference is reported, not failed.
    */
  private var firstArchive: Option[Seq[Seq[Double]]] = None
  private var driftReported = false

  def ops(spark: SparkSession, dir: String, seed: Long): Seq[Op] = Seq(
    Op("mopso.run", () => {
      val r = Mopso.run(spark, spark.read.parquet(path(dir)), cfg, seed)
      lastArchiveSize = r.archive.length
      val fits = r.archive.map(_.fitness.toSeq).toSeq.sortBy(_.head)
      firstArchive match {
        case None => firstArchive = Some(fits)
        case Some(first) if first != fits && !driftReported =>
          driftReported = true
          System.err.println("[perfbench] note: same-seed mopso.run " +
            "returned a different archive than this JVM's first run")
        case _ =>
      }
      val shape =
        if (r.totalPoints != N || r.k != K || r.numFeatures != F)
          Seq(s"run saw ${r.totalPoints}x${r.numFeatures}, K=${r.k}")
        else Nil
      (shape ++ Checks.archiveViolations(r.archive.toSeq, cfg.repository))
        .headOption
    }))
}

/** Scheduler-bound: engine rows whose cost is many small jobs, plus one
  * artifact's build beside its serve on the artifact layer.
  */
object QueryMix extends Workload {
  val name = "query_mix"

  /** The clustering family (Clustering), one paper iteration, and a
    * relational control.
    */
  val rows: Seq[String] =
    Seq("c10_conn", "m2_mopso_iteration", "q1_pricing_summary")

  /** The rows, then d11's artifact cycle: invalidate and rebuild the
    * signature store (sign, band, rank and closure; two tables written),
    * then serve from it.
    */
  def ops(spark: SparkSession, dir: String, seed: Long): Seq[Op] =
    rows.map(r => Workloads.rowOp(spark, dir, r, s"row.$r")) ++ Seq(
      Op("build.d11", () => {
        Dedup.invalidateDedupIndex(dir)
        Dedup.writeDedupIndex(spark, dir,
          s"${Similarity.artifactRoot(dir)}/dedup_index")
        None
      }),
      Workloads.rowOp(spark, dir, "d11_incremental_dedup", "serve.d11"))

  def setup(spark: SparkSession, dir: String, seed: Long): Unit =
    Gen.tables(spark, dir, seed)
}
