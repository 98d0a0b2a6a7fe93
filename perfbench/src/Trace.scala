package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed call into a layer: wall interval plus the span it ran under. */
final case class Span(name: String, parent: String, startMs: Long, endMs: Long,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Benchmark-side spans. Each span sets a Spark local property, so every
  * job started inside it (streaming micro-batches included: the stream
  * thread inherits the property at query start) is attributed to it by
  * [[EngineListener]]. Spans are kept in memory and written out at the end
  * of the run. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[String] = Nil

  def span[T](name: String)(body: => T): T = {
    val parent = open.headOption.getOrElse("")
    open = name :: open
    sc.setLocalProperty(Tracer.SpanKey, name)
    val (ms, ns) = (System.currentTimeMillis(), System.nanoTime())
    try body
    finally {
      spans += Span(name, parent, ms, System.currentTimeMillis(), ns,
        System.nanoTime())
      open = open.tail
      sc.setLocalProperty(Tracer.SpanKey, open.headOption.orNull)
    }
  }

  /** Seconds of every closed span named `name`, in order. */
  def seconds(name: String): Seq[Double] =
    spans.filter(_.name == name).map(_.seconds).toSeq

  def json: String = spans.map { s =>
    s"""{"name":"${s.name}","parent":"${s.parent}","start_ms":${s.startMs},""" +
      s""""end_ms":${s.endMs},"seconds":${s.seconds}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Engine counters from Spark's public listener bus, summed per benchmark
  * span (the span open when each job was submitted). */
final class EngineListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var cpuNs, runMs, gcMs = 0L
    var inputBytes, shuffleWrite, shuffleRead, spill = 0L
    var skewMax = 0.0
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  }
  private val bySpan = mutable.Map[String, Acc]()
  private val stageSpan = mutable.Map[Int, String]()
  private val jobSpan = mutable.Map[Int, (String, Long)]()
  private val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  @volatile private var fencesEnded = 0L

  private def acc(s: String) = bySpan.getOrElseUpdate(s, new Acc)

  /** Forget everything counted so far (call after [[drain]]). */
  def reset(): Unit = synchronized(bySpan.clear())

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanKey))).getOrElse("")
    jobSpan(e.jobId) = (span, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
    acc(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, start) =>
      acc(span).jobIntervals += ((start, e.time))
      if (span == EngineListener.Fence) fencesEnded += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      stageSpan.get(id).foreach { span =>
        val a = acc(span)
        a.stages += 1
        taskMs.remove(id).filter(_.size >= 2).foreach { d =>
          val sorted = d.sorted
          val median = sorted(sorted.size / 2).max(1L)
          a.skewMax = a.skewMax.max(sorted.last.toDouble / median)
        }
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val a = acc(span)
      a.tasks += 1
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
        e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Block until every event posted before this call has been delivered:
    * runs one tiny job under a fence span and waits for its end event. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    val before = fencesEnded
    sc.setLocalProperty(Tracer.SpanKey, EngineListener.Fence)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.SpanKey, prev)
    val deadline = System.nanoTime() + 30e9.toLong
    while (fencesEnded == before && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  /** Totals over the spans selected by `keep`, with the driver gap: each
    * span's wall time minus the union of its jobs' intervals. */
  def totals(spans: Seq[Span], keep: String => Boolean): Map[String, Double] =
    synchronized {
      val names = spans.map(_.name).distinct.filter(keep)
      val accs = names.flatMap(bySpan.get)
      def sum(f: Acc => Long) = accs.map(f).sum.toDouble
      val gapS = spans.filter(s => keep(s.name)).map { s =>
        val jobs = bySpan.get(s.name).toSeq.flatMap(_.jobIntervals)
          .map { case (a, b) => (a.max(s.startMs), b.min(s.endMs)) }
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered, curA, curB = 0L
        var first = true
        jobs.foreach { case (a, b) =>
          if (first || a > curB) {
            if (!first) covered += curB - curA
            curA = a; curB = b; first = false
          } else curB = curB.max(b)
        }
        if (!first) covered += curB - curA
        ((s.endMs - s.startMs - covered).max(0L)) / 1e3
      }.sum
      Map(
        "spark.jobs" -> sum(_.jobs),
        "spark.stages" -> sum(_.stages),
        "spark.tasks" -> sum(_.tasks),
        "spark.executor_cpu_s" -> sum(_.cpuNs) / 1e9,
        "spark.executor_run_s" -> sum(_.runMs) / 1e3,
        "spark.gc_s" -> sum(_.gcMs) / 1e3,
        "spark.driver_gap_s" -> gapS,
        "spark.input_bytes" -> sum(_.inputBytes),
        "spark.shuffle_write_bytes" -> sum(_.shuffleWrite),
        "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
        "spark.spill_bytes" -> sum(_.spill),
        "spark.task_skew_max" ->
          (if (accs.isEmpty) 0.0 else accs.map(_.skewMax).max))
    }
}

object EngineListener {
  val Fence = "perfbench.fence"
}

/** Streaming progress, grouped per query run (one run per drained wave). */
final class StreamListener extends StreamingQueryListener {
  private val runs = mutable.LinkedHashMap[java.util.UUID,
    mutable.ArrayBuffer[StreamingQueryProgress]]()
  private var started, terminated = 0

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = synchronized {
    started += 1
    runs(e.runId) = mutable.ArrayBuffer()
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
      : Unit = synchronized {
    runs.getOrElseUpdate(e.progress.runId, mutable.ArrayBuffer()) += e.progress
  }
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = synchronized {
    terminated += 1
  }

  /** Wait until every started query's termination event arrived, then
    * hand over (and forget) the progress of those runs, in start order. */
  def take(): Seq[Seq[StreamingQueryProgress]] = {
    val deadline = System.nanoTime() + 30e9.toLong
    while (synchronized(terminated < started) && System.nanoTime() < deadline)
      Thread.sleep(5)
    synchronized {
      val out = runs.values.map(_.toSeq).toSeq
      runs.clear()
      out
    }
  }
}
