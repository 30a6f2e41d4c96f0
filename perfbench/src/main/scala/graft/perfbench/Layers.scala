package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.mopso.{Archive, ArchiveEntry, FitnessKernel, Init, Mopso, PartData, Particle, Swarm}

/** The traced run's per-layer record. Every workload emits every name;
  * a layer the workload does not call reads 0.
  */
object Layers {
  private val MB = 1048576.0

  /** All per-layer names with their units, in emission order. */
  val names: Seq[(String, String)] = Seq(
    "sched.jobs" -> "count", "sched.stages" -> "count",
    "sched.tasks" -> "count", "sched.job_busy_s" -> "s",
    "sched.driver_gap_s" -> "s", "sched.task_run_s" -> "s",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB",
    "spill.mb" -> "MB", "input.mb" -> "MB", "exec.peak_mem_mb" -> "MB",
    "mopso.init_s" -> "s", "mopso.iter_s" -> "s",
    "mopso.jobs_per_iter" -> "count",
    "init.kmeans_s" -> "s", "init.kmeans_jobs" -> "count",
    "init.maximin_s" -> "s", "init.maximin_jobs" -> "count",
    "kernel.neighbors_s" -> "s", "kernel.eval_s" -> "s",
    "kernel.neighbor_pairs" -> "count", "kernel.dist_evals" -> "count",
    "kernel.bytes_computed" -> "bytes",
    "swarm.update_s" -> "s", "archive.update_s" -> "s",
    "archive.size" -> "count") ++
    QueryMix.rows.flatMap(r => Seq(s"row.$r.s" -> "s",
      s"row.$r.jobs" -> "count", s"row.$r.shuffle_mb" -> "MB")) ++
    Seq("build.d11.s" -> "s", "build.d11.jobs" -> "count",
      "build.d11.written_mb" -> "MB", "serve.d11.s" -> "s",
      "serve.d11.jobs" -> "count") ++
    Seq("cache.persisted_rdds" -> "count", "trace.overhead_s" -> "s")

  def record(spark: SparkSession, w: Workload, dir: String, seed: Long,
      untraced: Seq[Double], traced: Seq[(Double, Seq[(Op, Double, Work)])],
      counters: Counters): Seq[(String, Double, String)] = {
    val v = scala.collection.mutable.Map.empty[String, Double]
    val (_, last) = traced.last
    val total = last.map(_._3).reduce(_ + _)
    v("sched.jobs") = total.jobs
    v("sched.stages") = total.stages
    v("sched.tasks") = total.tasks
    val busy = Main.median(traced.map(_._2.map(_._3.jobBusySec).sum))
    v("sched.job_busy_s") = busy
    v("sched.driver_gap_s") = Main.median(traced.map(_._1)) - busy
    v("sched.task_run_s") = Main.median(traced.map(_._2.map(_._3.taskRunSec).sum))
    v("shuffle.write_mb") = total.shuffleWriteBytes / MB
    v("shuffle.read_mb") = total.shuffleReadBytes / MB
    v("spill.mb") = total.spillBytes / MB
    v("input.mb") = total.inputBytes / MB
    v("exec.peak_mem_mb") = total.peakExecMemBytes / MB
    last.foreach { case (op, secs, work) =>
      val n = op.name
      v(s"$n.s") = secs
      v(s"$n.jobs") = work.jobs
      if (n.startsWith("row.")) v(s"$n.shuffle_mb") = work.shuffleWriteBytes / MB
      if (n.startsWith("build.")) v(s"$n.written_mb") = work.outputBytes / MB
    }
    v("trace.overhead_s") =
      Main.median(traced.map(_._1)) - Main.median(untraced.drop(1))
    if (w == MopsoBlobs) mopsoProbes(spark, dir, seed, traced, counters, v)
    v("cache.persisted_rdds") = spark.sparkContext.getPersistentRDDs.size
    names.map { case (n, u) => (n, v.getOrElse(n, 0.0), u) }
  }

  /** Calls into the MOPSO layers one at a time, the way `Mopso.run` calls
    * them, and charges each call its own time and jobs.
    */
  private def mopsoProbes(spark: SparkSession, dir: String, seed: Long,
      traced: Seq[(Double, Seq[(Op, Double, Work)])], counters: Counters,
      v: scala.collection.mutable.Map[String, Double]): Unit = {
    val cfg = MopsoBlobs.cfg
    val k = MopsoBlobs.K
    val sc = spark.sparkContext
    val data = spark.read.parquet(MopsoBlobs.path(dir))
    sc.addSparkListener(counters)
    try {
      val ((run0Sec, _), run0) = counters.measure(Main.time(
        Mopso.run(spark, data, cfg.copy(iterMax = 0), seed)))
      val run30 = traced.map(_._2.head)
      v("mopso.init_s") = run0Sec
      v("mopso.iter_s") =
        (Main.median(run30.map(_._2)) - run0Sec) / cfg.iterMax
      v("mopso.jobs_per_iter") =
        (run30.last._3.jobs - run0.jobs).toDouble / cfg.iterMax
      v("archive.size") = MopsoBlobs.lastArchiveSize

      val ((kmSec, _), km) = counters.measure(Main.time(
        Init.kmeansCenters(data.select(col("features")), k, cfg.kmeansIter,
          seed)))
      v("init.kmeans_s") = kmSec
      v("init.kmeans_jobs") = km.jobs

      val points = data.repartitionByRange(cfg.numPartitions, col("id"))
        .select(col("features")).rdd.map(_.getSeq[Double](0).toArray)
        .persist(StorageLevel.MEMORY_AND_DISK)
      points.count()
      val ((mmSec, positions), mm) = counters.measure(Main.time(
        Init.maximinBatch(points, k, cfg.numParticles, seed)))
      v("init.maximin_s") = mmSec
      v("init.maximin_jobs") = mm.jobs
      val blocks = points.glom().collect().filter(_.nonEmpty)
      points.unpersist()

      // kernel self time: the per-block work the fitness tasks run, timed
      // on the driver one block after another
      val (nbSec, parts) = Main.time(blocks.map(b =>
        PartData(b, FitnessKernel.buildNeighbors(b, cfg.lIndex))))
      v("kernel.neighbors_s") = nbSec
      val n = blocks.map(_.length.toLong).sum
      val (evalSec, fits) = Main.time(positions.map { pos =>
        val parts1 = parts.map(pd =>
          FitnessKernel.partitionPartial(pd, pos, cfg.lIndex, n))
        Array(parts1.map(_._1).sum, parts1.map(_._2).sum)
      })
      v("kernel.eval_s") = evalSec
      val pairs = blocks.map(b => b.length.toLong * (b.length - 1)).sum
      val dists = cfg.numParticles.toLong * n * k
      v("kernel.neighbor_pairs") = pairs.toDouble
      v("kernel.dist_evals") = dists.toDouble
      v("kernel.bytes_computed") =
        (pairs + dists).toDouble * 2 * MopsoBlobs.F * java.lang.Double.BYTES

      // driver-side swarm and archive steps of one iteration
      val rng = new scala.util.Random(seed)
      val bounds = Array.tabulate(MopsoBlobs.F) { j =>
        val col = blocks.iterator.flatMap(_.iterator.map(_(j))).toSeq
        (col.max, col.min)
      }
      val particles = positions.zip(fits).map { case (pos, f) =>
        Particle(pos, Swarm.initVelocity(k, MopsoBlobs.F, cfg.vMin, cfg.vMax,
          rng), f, pos, f, Array(0.0))
      }
      val entries = particles.map(p =>
        ArchiveEntry(p.position, p.fitness, p.crowding))
      val archive = Archive.update(entries, cfg.repository, cfg.crowding)
      v("swarm.update_s") = Main.median((0 until 5).map { _ =>
        Main.time {
          val leader = Archive.leader(archive, cfg.leader, cfg.crowding, rng)
          particles.map(Swarm.updateVelocityPosition(_, leader.position,
            bounds, 0.5, cfg, rng))
        }._1
      })
      v("archive.update_s") = Main.median((0 until 5).map { _ =>
        Main.time(Archive.update(archive ++ entries, cfg.repository,
          cfg.crowding))._1
      })
    } finally sc.removeSparkListener(counters)
  }
}
