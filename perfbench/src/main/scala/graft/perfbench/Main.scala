package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR`.
  *
  * One JVM, one `GraftSession.local` with every core of the machine, one
  * client. A run sets up its inputs, runs one cold pass over the
  * workload's ops, then closed-loop warm passes for `--seconds`. The last
  * stdout line is the result record.
  */
object Main {
  /** Set-up (session start, then the input write) is repeated this many
    * times in one JVM; `setup_s` takes the median. The first set-up also
    * loads Spark's classes and JIT-compiles its write path, so the median
    * is a set-up in a warm JVM.
    */
  val SetupReps = 5
  /** Warm passes run even when they overrun the window. The first warm
    * pass still carries JIT warm-up (it takes a quarter to a half longer than
    * the fourth), so `run_s` is the median of the warm passes after it.
    */
  val MinWarmPasses = 4

  /** The untraced run's metrics, with their units. */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "run_s" -> "s", "retained_heap_mb" -> "MB")

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace $t: want 0 or 1")
      },
      need("--work"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workloads.byName(o.workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    System.setProperty("graft.artifacts.root", s"${o.work}/artifacts")
    val cores = Runtime.getRuntime.availableProcessors()
    var session: SparkSession = null
    val setupSecs = (0 until SetupReps).map { i =>
      if (session != null) session.stop()
      time {
        session = graft.core.GraftSession.local("perfbench", cores)
        w.setup(session, s"${o.work}/input-$i", o.seed)
      }._1
    }
    val spark = session
    val dir = s"${o.work}/input-${SetupReps - 1}"
    val ops = w.ops(spark, dir, o.seed)
    val counters = new Counters(spark.sparkContext)
    val result = new Result

    def pass(traced: Boolean): (Double, Seq[(Op, Double, Work)]) = {
      if (traced) spark.sparkContext.addSparkListener(counters)
      val t0 = System.nanoTime()
      val per = ops.map { op =>
        val ((secs, outcome), work) =
          if (traced) counters.measure(time(attempt(op)))
          else (time(attempt(op)), Work())
        result.attempted += 1
        outcome.foreach { why =>
          result.failed += 1
          System.err.println(s"[perfbench] ${op.name} FAILED: $why")
        }
        (op, secs, work)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      if (traced) spark.sparkContext.removeSparkListener(counters)
      (secs, per)
    }

    val coldSec = pass(traced = false)._1
    val warm = ArrayBuffer.empty[Double]
    val tracedPasses = ArrayBuffer.empty[(Double, Seq[(Op, Double, Work)])]
    val windowStart = System.nanoTime()
    def elapsed = (System.nanoTime() - windowStart) / 1e9
    def enough =
      if (o.trace) warm.size >= 3 && tracedPasses.size >= 2
      else warm.size >= MinWarmPasses
    // a pass starts only if, taking as long as the last one, it ends
    // inside the window, so a run does not overrun it by half a pass
    var lastSec = coldSec
    // traced runs follow the first warm pass, which carries most of the
    // JIT warm-up, with traced (t) and untraced (u) passes in the order
    // t u u t t u u t ..., so a warm-up trend cancels out of the tracing
    // overhead measured inside one process
    var i = 0
    while (!enough || elapsed + lastSec <= o.seconds) {
      if (o.trace && i > 0 && Set(0, 3)((i - 1) % 4)) {
        tracedPasses += pass(traced = true)
        lastSec = tracedPasses.last._1
      } else {
        warm += pass(traced = false)._1
        lastSec = warm.last
      }
      i += 1
    }

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val v = Map("setup_s" -> median(setupSecs),
          "run_s" -> median(warm.toSeq.drop(1)),
          "retained_heap_mb" -> retainedHeapMb())
        endToEnd.map { case (n, u) => (n, v(n), u) }
      } else Layers.record(spark, w, dir, o.seed, warm.toSeq,
        tracedPasses.toSeq, counters)
    System.err.println(s"[perfbench] ${o.workload} seed=${o.seed} " +
      s"setup=${setupSecs.map(s => f"$s%.2f").mkString(",")} " +
      f"cold=$coldSec%.2fs warm=${warm.map(s => f"$s%.2f").mkString(",")}")
    spark.stop()
    println(Json.result(result.failed == 0, result.attempted, result.failed,
      metrics))
  }

  final class Result { var attempted = 0; var failed = 0 }

  private def attempt(op: Op): Option[String] =
    try op.run()
    catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }

  def time[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap still in use after full collections: what the run retains. */
  def retainedHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    metrics.foreach { case (n, _, _) =>
      require(Checks.validName(n), s"bad metric name $n")
    }
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
