package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One span: a named interval on the monotonic clock, its parent span and
  * the trace it belongs to (a micro-batch id for ingest, a query name for
  * the catalog). */
final case class Span(id: Int, name: String, startNanos: Long, endNanos: Long,
    parent: Int, trace: String) {
  def nanos: Long = endNanos - startNanos
}

/** In-memory span recorder; written out once, when the run ends. While
  * off, [[span]] only runs its body. */
final class Tracer {
  @volatile var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private val epochOffsetNanos = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** A wall-clock instant (epoch ms, as Spark's progress events carry)
    * on the span clock. */
  def fromEpochMs(ms: Long): Long = ms * 1000000L + epochOffsetNanos

  def add(name: String, start: Long, end: Long, parent: Int, trace: String): Int =
    if (!on) 0 else synchronized {
      val id = nextId
      nextId += 1
      spans += Span(id, name, start, end, parent, trace)
      id
    }

  /** Time `body` as a span; `body` receives the span's id to parent
    * children under. */
  def span[T](name: String, trace: String, parent: Int = 0)(body: Int => T): T =
    if (!on) body(0)
    else {
      val id = synchronized { nextId += 1; nextId - 1 }
      val t0 = System.nanoTime()
      try body(id)
      finally synchronized { spans += Span(id, name, t0, System.nanoTime(), parent, trace) }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per span name: each span's duration minus the part of it
    * its children cover, summed by name. */
  def selfNanosByName: Seq[(String, Long)] = {
    val ss = all
    val childNanos = ss.filter(_.parent != 0).groupMapReduce(_.parent)(_.nanos)(_ + _)
    ss.groupMapReduce(_.name)(s => s.nanos - childNanos.getOrElse(s.id, 0L))(_ + _)
      .toSeq.sortBy(-_._2)
  }

  def write(path: String): Unit = {
    val body = all.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNanos},"end_ns":${s.endNanos},""" +
        s""""parent":${s.parent},"trace":"${s.trace}"}"""
    }.mkString("[\n", ",\n", "\n]\n")
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), body.getBytes(UTF_8))
  }
}

/** Task metrics from Spark's own listener bus, totalled overall and per
  * job group (the benchmark names one group per catalog query). */
final class TaskMetricsListener extends SparkListener {
  final class Totals {
    var tasks = 0L; var runNanos = 0L; var cpuNanos = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    val stages = scala.collection.mutable.Set.empty[Int]
    val jobs = scala.collection.mutable.Set.empty[Int]
  }
  val total = new Totals
  val byGroup = scala.collection.mutable.Map.empty[String, Totals]
  private val stageGroup = scala.collection.mutable.Map.empty[Int, String]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val stageTaskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Double]]
  /** max ÷ median task run time of each completed stage with ≥ 2 tasks. */
  val stageSkew = ArrayBuffer.empty[Double]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    e.stageIds.foreach { s =>
      stageJob(s) = e.jobId
      group.foreach(stageGroup(s) = _)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val groups = Seq(total) ++ stageGroup.get(e.stageId).map(g => byGroup.getOrElseUpdate(g, new Totals))
      groups.foreach { t =>
        t.tasks += 1
        t.runNanos += m.executorRunTime * 1000000L
        t.cpuNanos += m.executorCpuTime
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.stages += e.stageId
        stageJob.get(e.stageId).foreach(t.jobs += _)
      }
      stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime.toDouble
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTaskMs.remove(e.stageInfo.stageId).foreach { ms =>
      if (ms.size >= 2) {
        val med = Stats.median(ms.toSeq)
        if (med > 0) stageSkew += ms.max / med
      }
    }
  }
}

/** Every progress event of every streaming query, from Spark's own
  * progress API. */
final class ProgressListener extends StreamingQueryListener {
  val events = ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(events += e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = synchronized(events.toList)
}

/** Per-phase figures read off a set of progress events (data-bearing
  * micro-batches only). */
final case class Phases(progress: Seq[StreamingQueryProgress]) {
  private val batches = progress.filter(_.numInputRows > 0)
  def ms(phase: String): Seq[Double] =
    batches.map(p => Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0))
  def triggerMs: Seq[Double] = ms("triggerExecution")
  def count: Int = batches.size
  /** triggerExecution not covered by the named phases. */
  def unattributedMs: Seq[Double] = batches.map { p =>
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
    d.getOrElse("triggerExecution", 0.0) -
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commit")
        .map(d.getOrElse(_, 0.0)).sum
  }
  def stateOps = batches.flatMap(_.stateOperators)
}
