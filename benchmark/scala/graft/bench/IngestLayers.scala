package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.pipeline.{Ingest, Views}
import graft.sources.{NatsCapture, ReplayMicroBatchStream, ReplayOffset, ReplayPartition, ReplayReader}
import graft.streaming.NatsLikeStream

/** Ingest-side layer pieces: the replay source, progress-derived
  * metrics, span synthesis and the direct source, capture and pipeline
  * timings. */
object IngestLayers {

  val PhaseNames = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commit")
  private def phaseSpan(p: String): String = p match {
    case "latestOffset" | "getBatch" => s"sources.$p"
    case other => s"streaming.$other"
  }

  def replay(spark: SparkSession, backlog: String, rowsPerTrigger: Int): DataFrame =
    spark.readStream
      .format("graft.sources.ReplayStreamProvider")
      .option("path", backlog)
      .option("maxRowsPerTrigger", rowsPerTrigger)
      .load()

  /** One span per data-bearing micro-batch (trace id = its batch id),
    * with the engine's phases laid end to end as its children; the
    * trigger's self time is what no phase accounts for. */
  def batchSpans(t: Tracer, progress: Seq[StreamingQueryProgress], parent: Int, round: Int): Unit =
    progress.filter(_.numInputRows > 0).foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = t.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val trace = s"r$round-batch-${p.batchId}"
      val id = t.add("streaming.trigger", start,
        start + d.getOrElse("triggerExecution", 0L) * 1000000L, parent, trace)
      var at = start
      PhaseNames.foreach { ph =>
        val ms = d.getOrElse(ph, 0L)
        t.add(phaseSpan(ph), at, at + ms * 1000000L, id, trace)
        at += ms * 1000000L
      }
    }

  /** Per-phase and state-operator metrics off Spark's progress events. */
  def progressMetrics(progress: Seq[StreamingQueryProgress]): Seq[Metric] = {
    val ph = Phases(progress)
    val state = ph.stateOps
    def stateSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Double =
      state.map(f).sum.toDouble
    Seq(
      Metric("sources.latestOffset_ms_p50", Stats.medianOr0(ph.ms("latestOffset")), "ms"),
      Metric("sources.getBatch_ms_p50", Stats.medianOr0(ph.ms("getBatch")), "ms"),
      Metric("streaming.triggers", ph.count.toDouble, "count"),
      Metric("streaming.queryPlanning_ms_p50", Stats.medianOr0(ph.ms("queryPlanning")), "ms"),
      Metric("streaming.addBatch_ms_p50", Stats.medianOr0(ph.ms("addBatch")), "ms"),
      Metric("streaming.walCommit_ms_p50", Stats.medianOr0(ph.ms("walCommit")), "ms"),
      Metric("streaming.commit_ms_p50", Stats.medianOr0(ph.ms("commit")), "ms"),
      Metric("streaming.unattributed_ms_p50", Stats.medianOr0(ph.unattributedMs), "ms"),
      Metric("streaming.batch_ms_p90", Stats.tail(ph.triggerMs, 0.9).getOrElse(0.0), "ms"),
      // rows held after the last batch, not summed over batches
      Metric("streaming.state_rows_total",
        progress.lastOption.toSeq.flatMap(_.stateOperators).map(_.numRowsTotal).sum.toDouble, "rows"),
      Metric("streaming.state_dropped_duplicates", state.map(s =>
        Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum.toDouble, "rows"),
      Metric("streaming.state_dropped_late", stateSum(_.numRowsDroppedByWatermark), "rows"),
      Metric("streaming.state_commit_ms_p50", Stats.medianOr0(state.map(_.commitTimeMs.toDouble)), "ms"),
      Metric("streaming.state_memory_bytes",
        progress.lastOption.toSeq.flatMap(_.stateOperators).map(_.memoryUsedBytes).sum.toDouble, "B"))
  }

  def lines(f: String): Long = {
    val s = Files.lines(Paths.get(f), UTF_8)
    try s.count() finally s.close()
  }

  /** Direct source timings over a backlog: the first `latestOffset` of a
    * fresh stream (it lists the directory and counts every line), and the
    * executor-side reader over every file. */
  def sourceMetrics(backlog: String, rowsPerTrigger: Int): Seq[Metric] = {
    val listS = Stats.median((0 until 3).map(_ => Bench.timed(
      new ReplayMicroBatchStream(backlog, rowsPerTrigger)
        .latestOffset(ReplayOffset(0L), ReadLimit.maxRows(rowsPerTrigger.toLong)))._2))
    val files = Files.list(Paths.get(backlog)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".jsonl")).toSeq.sorted
      .map(f => f -> lines(f))
    var rows = 0L
    val parseS = Stats.median((0 until 3).map(_ => Bench.timed(files.foreach { case (f, n) =>
      val r = new ReplayReader(ReplayPartition(f, 0L, n))
      try while (r.next()) rows += 1 finally r.close()
    })._2))
    Seq(Metric("sources.list_ms", listS * 1000, "ms"),
      Metric("sources.parse_ns_per_row", parseS * 1e9 / math.max(rows / 3, 1L), "ns/row"))
  }

  /** Median of three timed `noop` writes of `df`. */
  def noopSeconds(df: DataFrame): Double =
    Stats.median((0 until 3).map(_ => Bench.timed(df.write.format("noop").mode("overwrite").save())._2))

  /** Direct pipeline timings on the same envelopes as a static
    * DataFrame: subject filter + raw projection, then the analytics MV
    * (Variant flavour, as the stream runs it) + month column. */
  def pipelineMetrics(envelopes: DataFrame): Seq[Metric] = {
    val env = envelopes.cache()
    val n = env.count()
    val raw = Ingest.envelopeToRaw(Ingest.subjectFilter(env, NatsLikeStream.SubjectPrefix))
    val ingestS = noopSeconds(raw)
    val rawCached = raw.cache()
    val kept = rawCached.count()
    val viewsS = noopSeconds(Views.withMonth(Views.deriveAnalytics(rawCached, variant = true)))
    rawCached.unpersist(); env.unpersist()
    Seq(Metric("pipeline.ingest_ns_per_row", ingestS * 1e9 / math.max(n, 1L), "ns/row"),
      Metric("pipeline.views_ns_per_row", viewsS * 1e9 / math.max(kept, 1L), "ns/row"),
      Metric("pipeline.filtered_rows", (n - kept).toDouble, "rows"))
  }

  val CaptureBatch = 1000
  val Stream = "GLOBEX"
  val Durable = "nats-clickhouse-durable"
  val Subject = "globex.supprt.>"

  /** Direct capture timing, as `Service --capture` drains a broker: a
    * lean JetStream peer holds the messages, and `NatsCapture.capture`
    * takes them through the durable consumer in 1000-message calls,
    * acking each, into JSONL under `dir`. Returns the metrics, the
    * messages not captured or not acked, and the broker's connections. */
  def captureMetrics(dir: String, subjects: Array[String], payloads: Array[Array[Byte]],
      baseNanos: Long, stepNanos: Long): (Seq[Metric], Long, Int) = {
    val broker = new LeanBroker(Stream, subjects, payloads, baseNanos, stepNanos)
    var captured = 0L
    val ms = try (0 until subjects.length / CaptureBatch).map { c =>
      // one file prefix per call: capture files are named by the
      // millisecond and replaced on a clash
      val (n, s) = Bench.timed(NatsCapture.capture(broker.url, Subject, dir,
        durable = Some(Durable), filePrefix = f"capture-$c%05d"))
      captured += n
      s * 1000
    } finally broker.close() // waits for the last session's acks
    (Seq(Metric("sources.capture_ms_per_call", Stats.median(ms), "ms"),
      Metric("sources.capture_calls", ms.size.toDouble, "count"),
      Metric("sources.captured_rows", captured.toDouble, "rows"),
      Metric("sources.acks", broker.ackCount.toDouble, "count"),
      Metric("peer.broker_busy_s", broker.busySeconds, "s")),
      math.abs(subjects.length - captured) + broker.unacked, broker.connections.get())
  }
}

