package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfBenchBus
import org.apache.spark.sql.SparkSession

import graft.util.CacheScope

/** Benchmark JVM: set-up, warm-up and the measured runs of one workload on
  * `local[4]`, one pipeline call at a time. Writes `<work>/result.json` with
  * every run's raw numbers; `perfbench/run.py` checks the outputs and
  * reduces them to metrics.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --work DIR
  */
object Main {
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val work = a("work")
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val rec = new Recorder
    sc.addSparkListener(rec)
    val wl = Workload(a("workload"), a("seed").toLong)
    // a traced invocation alternates untraced and traced calls
    val minRuns = wl.calls

    /** Release everything a run cached and wait for the ContextCleaner to
      * reclaim its checkpointed blocks; returns how many persisted RDDs are
      * still above `base` (a leak). */
    def release(base: Int): Int = {
      spark.catalog.clearCache()
      CacheScope.flushDeferred()
      var tries = 0
      while (sc.getPersistentRDDs.size > base && tries < 40) {
        System.gc()
        Thread.sleep(50)
        tries += 1
      }
      math.max(0, sc.getPersistentRDDs.size - base)
    }

    // ---- set-up: the seed's input
    val dir = s"$work/in"
    val p0 = System.nanoTime()
    wl.prepare(spark, dir)
    val prepareS = secs(p0)
    val base = { release(Int.MaxValue); sc.getPersistentRDDs.size }

    // ---- warm-up on the workload's own input: a fixed number of calls, so
    // the measured calls sit at the same place on the JIT's curve in every
    // invocation. The first call pays class loading, JIT and code
    // generation; the JIT keeps improving a call for many calls after that
    // (README).
    val warmupS = mutable.ArrayBuffer.empty[Double]
    for (i <- 0 until wl.warmups) {
      val out = s"$work/warm$i"
      wl.before(spark, dir, out)
      val t0 = System.nanoTime()
      wl.warm(spark, dir, out, i)
      warmupS += secs(t0)
      release(base)
      Box.deleteDir(out)
    }
    PerfBenchBus.drain(sc)
    rec.take()

    // ---- measured runs: closed loop, one call at a time
    def runOnce(i: Int, traced: Boolean): Map[String, Any] = {
      val out = s"$work/run$i"
      wl.before(spark, dir, out)
      val tr = new Tracer
      val s0 = Box.procStat()
      val t0 = System.nanoTime()
      val error =
        try { if (traced) wl.traced(spark, dir, out, tr) else wl.timed(spark, dir, out); None }
        catch { case e: Throwable => Some(e.toString) }
      val wall = secs(t0)
      val (steal, idle) = Box.stealIdle(s0, Box.procStat())
      PerfBenchBus.drain(sc)
      val (jobs, tasks) = rec.take()
      val extra =
        if (error.isEmpty) wl.after(spark, dir, out) else Map.empty[String, Any]
      val leaked = release(base)
      PerfBenchBus.drain(sc)
      rec.take()
      Map("traced" -> traced, "wall_s" -> wall, "steal" -> steal, "idle" -> idle,
          "jobs" -> jobs.size,
          "task_s" -> tasks.map(_.runMs).sum / 1e3,
          "cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
          "gc_s" -> tasks.map(_.gcMs).sum / 1e3,
          "shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / 1e6,
          "shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / 1e6,
          "spill_mb" -> tasks.map(_.spill).sum / 1e6,
          "leaked_rdds" -> leaked, "error" -> error, "out" -> out) ++ extra ++
        (if (traced) Map("trace" -> tr.toJson(jobs, tasks)) else Map.empty)
    }

    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val loop0 = System.nanoTime()
    while (runs.size < minRuns || secs(loop0) < seconds) {
      // in traced mode, untraced and traced runs alternate so the tracing
      // overhead compares runs taken under the same conditions
      runs += runOnce(runs.size, traced = trace && runs.size % 2 == 1)
    }

    val f0 = System.nanoTime()
    val finish = wl.finish(spark, dir) + ("finish_s" -> secs(f0))
    val result = Map(
      "workload" -> a("workload"), "seed" -> wl.seed, "input_rows" -> wl.inputRows,
      "input_dir" -> dir, "session_s" -> sessionS, "prepare_s" -> prepareS,
      "warmup_s" -> warmupS.toSeq, "runs" -> runs.toSeq, "finish" -> finish,
      "peak_rss_mb" -> Box.peakRssMb())
    spark.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/result.json"),
      Json(result).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
