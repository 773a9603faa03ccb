package graft.bench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back: operations attempted and failed (rows for
  * ingest, queries for the catalog) and its metrics. */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[Metric])

/** The run's shared state: arguments, the Spark session, the tracer. */
final class Ctx(val work: String, val seed: Long, val seconds: Int,
    val trace: Boolean, val cores: Int) {
  var spark: SparkSession = _
  val tracer = new Tracer
  def note(s: String): Unit = println(s)
  private val born = System.nanoTime()
  /** Log how far into the run a step ended. */
  def mark(step: String): Unit = println(f"[time] ${(System.nanoTime() - born) / 1e9}%7.2f s $step")

  /** The session every workload runs on: `local[cores]`, one shuffle
    * partition per core, all scratch space inside the work directory. */
  def buildSession(): SparkSession = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** The program's heap footprint: the heap still occupied right after a
  * collection, summed over the heap pools, at its largest in each round
  * (drain or pass). Unlike the resident set, it does not follow how far
  * the collector has grown the heap. */
object HeapProbe extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var peak = 0L
  private val roundPeaks = ArrayBuffer.empty[Double]

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        .getGcInfo.getMemoryUsageAfterGc.asScala
      val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }

  def startRound(): Unit = synchronized { peak = 0L }
  def endRound(): Unit = synchronized { roundPeaks += peak / (1024.0 * 1024.0) }
  /** Median over the rounds of each round's peak, in MB. */
  def peakMb: Double = synchronized { Stats.median(roundPeaks.toSeq) }
}

object Bench {

  /** The repeatable set-up steps are timed this many times; `setup_s`
    * takes their median. */
  val SetupReps = 3

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Build the session (a JVM builds it once), make the inputs that need
    * it (not timed), time `repeat` [[SetupReps]] times, then the one
    * warm-up (a second one would not be a warm-up). Returns the session
    * build plus the median repetition plus the warm-up. */
  def setupSeconds(ctx: Ctx, inputs: => Unit = ())(repeat: Int => Unit)(warmUp: => Unit): Double = {
    val t0 = System.nanoTime()
    ctx.buildSession()
    val sessionS = secondsSince(t0)
    ctx.mark(f"session build took $sessionS%.3f s")
    inputs
    val repeatS = Stats.median((0 until SetupReps).map { i =>
      val (_, s) = timed(repeat(i))
      ctx.mark(f"set-up $i took $s%.3f s")
      s
    })
    val (_, warmS) = timed(warmUp)
    ctx.mark(f"warm-up took $warmS%.3f s")
    sessionS + repeatS + warmS
  }

  /** How many rounds of `nominalS` (a round's length on the reference
    * host, README) fit in `seconds`, at least one. The count depends on
    * nothing measured, so every run of a workload does the same work and
    * its medians and peaks are read off as many rounds. */
  def roundsIn(seconds: Double, nominalS: Double): Int =
    math.max(1, math.round(seconds / nominalS).toInt)

  /** Run `round` `n` times. Each round starts from a full collection,
    * outside its own timing, so garbage an earlier round left neither
    * slows it nor counts in its heap peak. */
  def rounds[T](n: Int)(round: Int => T): Seq[T] =
    (0 until n).map { i =>
      HeapProbe.startRound()
      System.gc()
      try round(i) finally HeapProbe.endRound()
    }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  /** The end-to-end metrics of a run: medians over its untraced drains
    * (or passes) and their micro-batches (or queries). */
  def endToEnd(ctx: Ctx, walls: Seq[Double], rowsPerDrain: Double,
      batchMs: Seq[Double], setupS: Double): Seq[Metric] = {
    val wallS = Stats.median(walls)
    ctx.note(f"metric wall_s $wallS%.4f s (median of ${walls.size})")
    ctx.note(f"metric peak_rss_mb $peakRssMb%.1f MB (kernel high-water mark; not bounded)")
    ctx.note(Stats.tail(batchMs, 0.9).fold(
      s"metric batch_ms_p90 withheld (n=${batchMs.size}: fewer than 10 samples beyond it)")(
      v => f"metric batch_ms_p90 $v%.2f ms (n=${batchMs.size})"))
    Seq(Metric("wall_s", wallS, "s"),
      Metric("rows_per_s", rowsPerDrain / wallS, "rows/s"),
      Metric("batch_ms_p50", Stats.median(batchMs), "ms"),
      Metric("setup_s", setupS, "s"),
      Metric("peak_heap_mb", HeapProbe.peakMb, "MB"))
  }

  /** Run `body` traced: Spark's task and streaming-progress listeners
    * registered, span recording on. */
  def traced[T](ctx: Ctx)(body: => T): (T, TaskMetricsListener, ProgressListener) = {
    val tasks = new TaskMetricsListener
    val progress = new ProgressListener
    ctx.spark.sparkContext.addSparkListener(tasks)
    ctx.spark.streams.addListener(progress)
    ctx.tracer.on = true
    try (body, tasks, progress)
    finally {
      ctx.tracer.on = false
      ctx.spark.streams.removeListener(progress)
      ctx.spark.sparkContext.removeSparkListener(tasks)
    }
  }

  /** The figures every traced run reports: Spark task totals, the
    * self-time table, and tracing overhead (median traced minus median
    * untraced drain wall of the same run). */
  def traceMetrics(ctx: Ctx, tasks: TaskMetricsListener, tracedWalls: Seq[Double],
      untracedWalls: Seq[Double]): Seq[Metric] = {
    val unattributed = selfTimeTable(ctx, tracedWalls.sum)
    val (t, u) = (Stats.median(tracedWalls), Stats.median(untracedWalls))
    sparkMetrics(tasks, tracedWalls.sum, ctx.cores) ++ Seq(
      Metric("trace.wall_s", t, "s"),
      Metric("trace.untraced_wall_s", u, "s"),
      Metric("trace.overhead_s", t - u, "s"),
      Metric("trace.unattributed_s", unattributed, "s"))
  }

  /** Task-level figures shared by every workload's traced run. */
  def sparkMetrics(l: TaskMetricsListener, wallS: Double, cores: Int): Seq[Metric] = {
    val t = l.total
    Seq(
      Metric("spark.executor_cpu_s", t.cpuNanos / 1e9, "s"),
      Metric("spark.executor_run_s", t.runNanos / 1e9, "s"),
      Metric("spark.busy_share", if (wallS > 0) t.runNanos / 1e9 / (wallS * cores) else 0.0, "ratio"),
      Metric("spark.shuffle_read_bytes", t.shuffleRead.toDouble, "B"),
      Metric("spark.shuffle_write_bytes", t.shuffleWrite.toDouble, "B"),
      Metric("spark.spill_bytes", t.spill.toDouble, "B"),
      Metric("spark.task_skew_p50", Stats.medianOr0(l.stageSkew.toSeq), "ratio"))
  }

  val CatalogQueries = Seq("x33_kmeans_train", "x90_cluster_quality",
    "x105_ivfpq_topk", "x106_ivfpq_recall", "x111_index_maintain")

  /** Every per-layer metric name, so each traced run reports the full
    * set: a layer a workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.list_ms" -> "ms", "sources.parse_ns_per_row" -> "ns/row",
    "sources.latestOffset_ms_p50" -> "ms", "sources.getBatch_ms_p50" -> "ms",
    "sources.capture_ms_per_call" -> "ms", "sources.capture_calls" -> "count",
    "sources.captured_rows" -> "rows", "sources.acks" -> "count",
    "streaming.triggers" -> "count", "streaming.queryPlanning_ms_p50" -> "ms",
    "streaming.addBatch_ms_p50" -> "ms", "streaming.walCommit_ms_p50" -> "ms",
    "streaming.commit_ms_p50" -> "ms", "streaming.unattributed_ms_p50" -> "ms",
    "streaming.batch_ms_p90" -> "ms",
    "streaming.state_rows_total" -> "rows", "streaming.state_dropped_duplicates" -> "rows",
    "streaming.state_dropped_late" -> "rows", "streaming.state_commit_ms_p50" -> "ms",
    "streaming.state_memory_bytes" -> "B",
    "pipeline.ingest_ns_per_row" -> "ns/row", "pipeline.views_ns_per_row" -> "ns/row",
    "pipeline.filtered_rows" -> "rows",
    "sinks.encode_ns_per_row.native" -> "ns/row", "sinks.encode_ns_per_row.rowbinary" -> "ns/row",
    "sinks.encode_ns_per_row.jsoneachrow" -> "ns/row", "sinks.frame_ns_per_byte" -> "ns/B",
    "sinks.bytes_raw.native" -> "B/row", "sinks.bytes_wire.native" -> "B/row",
    "sinks.bytes_raw.rowbinary" -> "B/row", "sinks.bytes_wire.rowbinary" -> "B/row",
    "sinks.bytes_raw.jsoneachrow" -> "B/row", "sinks.bytes_wire.jsoneachrow" -> "B/row",
    "sinks.insert_ms_per_block" -> "ms", "sinks.blocks" -> "count", "sinks.rejects" -> "count") ++
    CatalogQueries.flatMap { q =>
      Seq(s"operators.$q.s" -> "s", s"operators.$q.jobs" -> "count",
        s"operators.$q.stages" -> "count", s"operators.$q.tasks" -> "count",
        s"operators.$q.cpu_s" -> "s", s"operators.$q.shuffle_bytes" -> "B",
        s"operators.$q.spill_bytes" -> "B")
    } ++ Seq(
    "spark.executor_cpu_s" -> "s", "spark.executor_run_s" -> "s", "spark.busy_share" -> "ratio",
    "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.task_skew_p50" -> "ratio",
    "peer.broker_busy_s" -> "s", "peer.receiver_busy_s" -> "s", "peer.connections" -> "count",
    "trace.wall_s" -> "s", "trace.untraced_wall_s" -> "s", "trace.overhead_s" -> "s",
    "trace.unattributed_s" -> "s")

  /** Complete a traced run's metrics: every per-layer name, 0 where the
    * workload has no such layer. */
  def fillPerLayer(ms: Seq[Metric]): Seq[Metric] = {
    val got = ms.map(m => m.name -> m).toMap
    val unknown = got.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    PerLayer.map { case (n, u) => got.getOrElse(n, Metric(n, 0.0, u)) }
  }

  /** Spans that only group others: their self time is the part of the
    * wall no layer accounts for. */
  val Containers = Set("round", "streaming.query", "streaming.trigger", "pass")

  /** Print the per-layer self-time table from the recorded spans;
    * returns the unattributed remainder in seconds. */
  def selfTimeTable(ctx: Ctx, wallS: Double): Double = {
    val rows = ctx.tracer.selfNanosByName
    ctx.note(f"[layers] self time along the blocking steps (traced wall $wallS%.3f s)")
    rows.foreach { case (name, ns) =>
      ctx.note(f"[layers]   ${name}%-34s ${ns / 1e9}%9.3f s ${100 * ns / 1e9 / wallS}%6.1f %%")
    }
    val unattributed = rows.filter(r => Containers(r._1)).map(_._2).sum / 1e9
    ctx.note(f"[layers]   unattributed remainder (self time of ${Containers.mkString(", ")}) ${unattributed}%.3f s")
    unattributed
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    if (workload == "catalog_corpus") { // the recording tool's input
      val ctx = new Ctx(opts("work"), 0L, 0, false, Runtime.getRuntime.availableProcessors())
      try CatalogAnn.writeCorpus(ctx.buildSession(), opts("work")) finally ctx.spark.stop()
      return
    }
    val ctx = new Ctx(opts("work"), opts("seed").toLong, opts("seconds").toInt,
      opts.get("trace").contains("1"), Runtime.getRuntime.availableProcessors())
    Files.createDirectories(Paths.get(ctx.work))
    val outcome =
      try workload match {
        case "ingest_bulk" => IngestBulk.run(ctx)
        case "catalog_ann" => CatalogAnn.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally if (ctx.spark != null) ctx.spark.stop()
    if (ctx.trace) ctx.tracer.write(s"${ctx.work}/spans.json")
    val metrics = outcome.metrics.map(m =>
      s""""${m.name}":{"value":${m.value},"unit":"${m.unit}"}""").mkString("{", ",", "}")
    println(s"""BENCH_RESULT {"attempted":${outcome.attempted},"failed":${outcome.failed},"metrics":$metrics}""")
  }
}
