package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame

import graft.util.Seal

/** One finished task: wall interval (epoch ms) plus the counters the
  * benchmark reports. */
final case class TaskRec(launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
                         gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
                         spill: Long)

/** Records every job start and task end of the session. Nothing in the
  * engine is touched: the listener sits on the session's own event bus. */
final class Recorder extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[(Int, Long)]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add((e.jobId, e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) tasks.add(TaskRec(i.launchTime, i.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Everything recorded since the last call (the caller drains the bus
    * first). */
  def take(): (Vector[(Int, Long)], Vector[TaskRec]) = {
    def drainQ[A](q: ConcurrentLinkedQueue[A]): Vector[A] = {
      val b = Vector.newBuilder[A]
      var x = q.poll()
      while (x != null) { b += x; x = q.poll() }
      b.result()
    }
    (drainQ(jobs), drainQ(tasks))
  }
}

/** Spans around the benchmark's calls into the engine's layers. Times are
  * epoch milliseconds (fractional, from the monotonic clock) so they line
  * up with Spark's job and task timestamps. Work the benchmark does for its
  * own bookkeeping runs inside `aside`; jobs and time there belong to no
  * layer. */
final class Tracer {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private final case class Span(id: Int, parent: Int, name: String,
                                start: Double, var end: Double)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val asides = mutable.ArrayBuffer.empty[(Double, Double)]
  private val notes = mutable.LinkedHashMap.empty[String, Double]

  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.size, stack.headOption.getOrElse(-1), name, nowMs, 0.0)
    spans += s
    stack = s.id :: stack
    try body
    finally { s.end = nowMs; stack = stack.tail }
  }

  def aside[A](body: => A): A = {
    val t0 = nowMs
    try body finally asides += ((t0, nowMs))
  }

  /** `Seal` of a frame the engine leaves lazy, so that its work lands in
    * the span around this call rather than in its consumer's. Such a seal
    * adds one job (its own materialization; the jobs of the frame's plan run
    * either way), counted in the note "trace.extra_seals" so that
    * `perfbench/run.py` can compare the traced run's job count with the
    * untraced call's. */
  def extraSeal(df: DataFrame): DataFrame = {
    note("trace.extra_seals", 1)
    Seal(df)
  }

  /** Add `v` to the layer counter `key` (e.g. "cand.exact.rows_out"). */
  def note(key: String, v: Double): Unit =
    notes(key) = notes.getOrElse(key, 0.0) + v

  def toJson(jobs: Seq[(Int, Long)], tasks: Seq[TaskRec]): Map[String, Any] = Map(
    "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)).toSeq,
    "asides" -> asides.map { case (a, b) => Seq(a, b) }.toSeq,
    "notes" -> notes.toMap,
    "jobs" -> jobs.map { case (id, t) => Seq(id.toLong, t) },
    "tasks" -> tasks.map(t => Seq(t.launchMs, t.finishMs, t.runMs, t.cpuNs,
      t.gcMs, t.shuffleWrite, t.shuffleRead, t.spill)))
}

/** Minimal JSON writer for the result file `perfbench/run.py` reads. */
object Json {
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}

object Box {
  /** (user nice sys idle iowait irq softirq steal) ticks, whole box. */
  def procStat(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
    finally src.close()
  }

  /** (steal, idle) fractions of the whole box between two samples. */
  def stealIdle(s0: Array[Long], s1: Array[Long]): (Double, Double) = {
    val d = s1.zip(s0).map { case (a, b) => a - b }
    val tot = math.max(1L, d.sum).toDouble
    (d(7) / tot, d(3) / tot)
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }

  def copyDir(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val s = java.nio.file.Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally s.close()
  }

  def deleteDir(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }
}
