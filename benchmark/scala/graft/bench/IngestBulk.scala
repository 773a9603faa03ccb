package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Schemas
import graft.pipeline.{Ddl, Ingest}
import graft.sinks.{JsonLineSerializer, NativeBlockCodec, NativeConnection, NativeFraming, RowBinarySerializer}
import graft.streaming.NatsLikeStream

/** The receiver-side output check of `ingest_bulk`: every on-filter
  * sequence must arrive exactly once with the raw row the batch-mode
  * derivation gives it (compared as Spark's `xxhash64` over the raw
  * columns), and nothing else may arrive. Rows are folded in, not kept. */
final class BulkCheck(expected: Array[Long], on: java.util.BitSet) {
  private val counts = new AtomicIntegerArray(expected.length)
  val unexpected = new AtomicLong()
  val wrong = new AtomicLong()
  private val cols = Schemas.raw.fieldNames.toIndexedSeq

  def accept(b: NativeBlockCodec.DecodedBlock): Unit = {
    val byName = b.columns.map(c => c.name -> c.values).toMap
    val values = cols.map(byName)
    val seqs = byName("sequence")
    var r = 0
    while (r < b.rows) {
      val seq = seqs(r).asInstanceOf[Long]
      if (seq <= 0 || seq >= expected.length || !on.get(seq.toInt)) unexpected.incrementAndGet()
      else {
        if (BulkCheck.rowHash(values, r) != expected(seq.toInt)) wrong.incrementAndGet()
        counts.incrementAndGet(seq.toInt)
      }
      r += 1
    }
  }

  def missing: Long = { var m = 0L; on.stream().forEach(s => if (counts.get(s) == 0) m += 1); m }
  def duplicated: Long = { var d = 0L; on.stream().forEach(s => d += math.max(0, counts.get(s) - 1)); d }
  def failed: Long = missing + duplicated + wrong.get() + unexpected.get()
}

object BulkCheck {
  /** Spark's `xxhash64` (seed 42) over one decoded row, column by column:
    * longs (timestamp micros, sequence) by value, strings as UTF-8, nulls
    * skipped. */
  def rowHash(values: IndexedSeq[IndexedSeq[Any]], r: Int): Long = {
    var h = 42L
    var c = 0
    while (c < values.size) {
      values(c)(r) match {
        case null => ()
        case l: Long => h = XXH64.hashLong(l, h)
        case s: String => h = XXH64.hashUTF8String(UTF8String.fromString(s), h)
        case other => throw new IllegalStateException(s"unexpected value $other")
      }
      c += 1
    }
    h
  }
}

/** `ingest_bulk`: a backlog drain after an outage, on the native wire.
  * JSONL backlog slices of 10k lines with ~1 KB payloads, a seeded share
  * of redelivered duplicates and of off-filter `globex.crmabc.*`
  * subjects; `subjectFilter` → `NatsLikeStream.dedupedRaw` →
  * `BatchInsertSinkProvider` (`wire=native`, 1000-row blocks as
  * `Service` sets them) → the receiver, at 50000 rows per trigger. Event
  * time advances 1 ms per message, so the 10-minute dedup watermark
  * never evicts: the state holds every sequence of the drain. */
object IngestBulk {

  /** ~149.4k lines with the duplicates: three near-full triggers, so the
    * median trigger is never the first (query-start) one of a drain. */
  val Messages = 143000
  val RowsPerTrigger = 50000
  val SliceLines = 10000
  /** Messages the traced run's capture timing drains: five 1000-message
    * calls, as `Service --capture` makes them. */
  val CaptureMessages = 5000
  val BlockRows = NatsLikeStream.MaxRowsPerTrigger
  val BaseMicros = 1705312800000000L
  val StepMicros = 1000L
  /** A drain's length on the reference host (README), which sets how
    * many drains a run of `--seconds` makes. */
  val DrainS = 6.6

  /** Shares in expectation: the seed draws each message off-filter or
    * redelivered with these probabilities, so every seed drains about the
    * same amount of work. Assumed, not taken from traffic (README). */
  val OffFilterShare = 0.10
  val DuplicateShare = 0.05

  def stream(seed: Long, n: Int): Gen.Stream =
    Gen.Stream(seed, n, textChars = 900, offFilter = OffFilterShare, users = 2000,
      baseMicros = BaseMicros, stepMicros = StepMicros)
  def dups(seed: Long): Gen.Dups = Gen.Dups(seed, DuplicateShare, 2000)

  final case class Round(wallS: Double, progress: Seq[StreamingQueryProgress],
      receiverBusyS: Double, connections: Int, blocks: Long, failed: Long)

  /** Expected raw-row hash by sequence, and the on-filter sequences. */
  def expectation(spark: SparkSession, gen: Gen.Stream): (Array[Long], java.util.BitSet) = {
    val raw = Ingest.envelopeToRaw(gen.envelopes(spark, onFilterOnly = true))
    val hashes = raw.select(col("sequence"), xxhash64(Schemas.raw.fieldNames.map(col).toIndexedSeq: _*))
      .collect()
    val expected = new Array[Long](gen.n + 1)
    val on = new java.util.BitSet(gen.n + 1)
    hashes.foreach { r => expected(r.getLong(0).toInt) = r.getLong(1); on.set(r.getLong(0).toInt) }
    (expected, on)
  }

  def query(spark: SparkSession, backlog: String, cp: String, port: Int) =
    NatsLikeStream.dedupedRaw(
        Ingest.subjectFilter(IngestLayers.replay(spark, backlog, RowsPerTrigger), NatsLikeStream.SubjectPrefix))
      .writeStream
      .format("graft.sinks.BatchInsertSinkProvider")
      .option("batchSize", BlockRows)
      .option("url", s"ch://bench:bench@127.0.0.1:$port")
      .option("table", Ddl.AllStreams)
      .option("wire", "native")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()

  def run(ctx: Ctx): Outcome = {
    val gen = stream(ctx.seed, Messages)
    val (_, lines) = Gen.writeBacklog(s"${ctx.work}/backlog", gen, dups(ctx.seed), SliceLines)
    ctx.note(f"input: $lines lines in ${(lines + SliceLines - 1) / SliceLines} slices, " +
      f"off-filter share ${gen.offFilter}%.3f, duplicate share ${dups(ctx.seed).share}%.3f")

    ctx.mark("inputs")
    val check = new java.util.concurrent.atomic.AtomicReference[Option[BulkCheck]](None)
    var receiver: NativeReceiver = null
    // set-up: a fresh receiver, then one warm-up drain of the same backlog
    // into its own checkpoint (the check is not yet armed)
    val setupS = Bench.setupSeconds(ctx) { _ =>
      if (receiver != null) receiver.close()
      receiver = new NativeReceiver(Schemas.raw, ctx.cores, b => check.get().foreach(_.accept(b)))
    }(query(ctx.spark, s"${ctx.work}/backlog", s"${ctx.work}/warm-up/_cp", receiver.port).awaitTermination())
    val spark = ctx.spark
    try {
      ctx.mark("set-up")
      val (expected, on) = expectation(spark, gen)
      ctx.mark("expectation")
      var n = 0
      def measured(seconds: Double): Seq[Round] = Bench.rounds(Bench.roundsIn(seconds, DrainS)) { _ =>
        n += 1
        val c = new BulkCheck(expected, on)
        check.set(Some(c))
        val busy0 = receiver.busyNanos.get(); val conn0 = receiver.connections.get()
        val blocks0 = receiver.blocks.get()
        val t = ctx.tracer
        val t0 = System.nanoTime()
        val progress = t.span("round", s"round-$n") { rid =>
          t.span("streaming.query", s"round-$n", rid) { qid =>
            val q = query(spark, s"${ctx.work}/backlog", s"${ctx.work}/round$n/_cp", receiver.port)
            q.awaitTermination()
            IngestLayers.batchSpans(t, q.recentProgress.toSeq, qid, n)
            q.recentProgress.toSeq
          }
        }
        val wall = Bench.secondsSince(t0)
        check.set(None)
        ctx.mark(f"drain $n took $wall%.3f s, triggers ${Phases(progress).triggerMs.mkString(" ")}")
        Round(wall, progress, (receiver.busyNanos.get() - busy0) / 1e9,
          receiver.connections.get() - conn0, receiver.blocks.get() - blocks0, c.failed)
      }
      val delivered = on.cardinality().toLong
      val untraced = measured(if (ctx.trace) ctx.seconds / 2.0 else ctx.seconds)
      ctx.mark(s"${untraced.size} drains")

      if (!ctx.trace)
        Outcome(untraced.size.toLong * delivered, untraced.map(_.failed).sum, Bench.endToEnd(ctx,
          untraced.map(_.wallS), delivered, untraced.flatMap(r => Phases(r.progress).triggerMs), setupS))
      else {
        val (traced, tasks, progress) = Bench.traced(ctx)(measured(ctx.seconds / 2.0))
        val envelopes = gen.envelopes(spark, onFilterOnly = false)
        // the capture layer, timed on the first on-filter messages
        val captureMessages = Iterator.from(0).map(_.toLong).filter(gen.onFilter).take(CaptureMessages).toArray
        val (capture, notCaptured, brokerConnections) = IngestLayers.captureMetrics(s"${ctx.work}/capture",
          captureMessages.map(gen.subject), captureMessages.map(k => gen.payload(k).getBytes(UTF_8)),
          BaseMicros * 1000, StepMicros * 1000)
        val metrics =
          Bench.traceMetrics(ctx, tasks, traced.map(_.wallS), untraced.map(_.wallS)) ++
          IngestLayers.progressMetrics(progress.all) ++
          IngestLayers.sourceMetrics(s"${ctx.work}/backlog", RowsPerTrigger) ++
          IngestLayers.pipelineMetrics(envelopes) ++
          sinkMetrics(Ingest.envelopeToRaw(Ingest.subjectFilter(envelopes, NatsLikeStream.SubjectPrefix)),
            receiver.port) ++ Seq(
            Metric("sinks.blocks", traced.map(_.blocks).sum.toDouble, "count"),
            Metric("sinks.rejects", receiver.rejects.get().toDouble, "count"),
            Metric("peer.receiver_busy_s", traced.map(_.receiverBusyS).sum, "s"),
            Metric("peer.connections", (traced.map(_.connections).sum + brokerConnections).toDouble, "count"))
        Outcome((untraced.size + traced.size).toLong * delivered + captureMessages.length,
          (untraced ++ traced).map(_.failed).sum + notCaptured, Bench.fillPerLayer(metrics ++ capture))
      }
    } finally receiver.close()
  }

  /** The sink encodings compared on the same raw rows, through the
    * sinks' public serializers, 1000-row blocks: encode ns/row, raw and
    * LZ4-framed bytes/row for Native, RowBinary and JSONEachRow; the
    * framing cost per raw byte; and the native INSERT round trip per
    * block against the receiver. Each timing is the median of three. */
  def sinkMetrics(raw: DataFrame, port: Int): Seq[Metric] = {
    val schema: StructType = raw.schema
    val rows: Array[InternalRow] = raw.limit(20 * BlockRows).queryExecution.toRdd
      .map(_.copy()).collect()
    val blocks = rows.grouped(BlockRows).map(_.toSeq).toSeq
    val n = rows.length.toDouble
    def med3[T](body: => T): (T, Double) = {
      val runs = (0 until 3).map(_ => Bench.timed(body))
      (runs.last._1, Stats.median(runs.map(_._2)))
    }
    def framed(bodies: Seq[Array[Byte]]): Long = {
      val out = new java.io.ByteArrayOutputStream()
      bodies.foreach(NativeFraming.writeFrame(out, _))
      out.size().toLong
    }
    val rb = new RowBinarySerializer(schema)
    val js = new JsonLineSerializer(schema)
    def concat(rows: Seq[InternalRow], f: InternalRow => Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      rows.foreach(r => out.write(f(r)))
      out.toByteArray
    }
    val (native, nativeS) = med3(blocks.map(NativeBlockCodec.encode(schema, _)))
    val (rowBinary, rbS) = med3(blocks.map(concat(_, rb.rowBytes)))
    val (json, jsS) = med3(blocks.map(concat(_, js.rowBytes)))
    val nativeRaw = native.map(_.length.toLong).sum
    val (_, frameS) = med3(framed(native))
    val conn = new NativeConnection("127.0.0.1", port, "bench", "bench", "default")
    val insertMs = try {
      (0 until 3).flatMap(_ => blocks.map(b => Bench.timed(conn.insert(Ddl.AllStreams, schema, b, 60))._2 * 1000))
    } finally conn.close()
    Seq(
      Metric("sinks.encode_ns_per_row.native", nativeS * 1e9 / n, "ns/row"),
      Metric("sinks.encode_ns_per_row.rowbinary", rbS * 1e9 / n, "ns/row"),
      Metric("sinks.encode_ns_per_row.jsoneachrow", jsS * 1e9 / n, "ns/row"),
      Metric("sinks.frame_ns_per_byte", frameS * 1e9 / nativeRaw, "ns/B"),
      Metric("sinks.bytes_raw.native", nativeRaw / n, "B/row"),
      Metric("sinks.bytes_wire.native", framed(native) / n, "B/row"),
      Metric("sinks.bytes_raw.rowbinary", rowBinary.map(_.length.toLong).sum / n, "B/row"),
      Metric("sinks.bytes_wire.rowbinary", framed(rowBinary) / n, "B/row"),
      Metric("sinks.bytes_raw.jsoneachrow", json.map(_.length.toLong).sum / n, "B/row"),
      Metric("sinks.bytes_wire.jsoneachrow", framed(json) / n, "B/row"),
      Metric("sinks.insert_ms_per_block", Stats.median(insertMs), "ms"))
  }
}
