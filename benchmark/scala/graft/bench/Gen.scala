package graft.bench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.{Instant, OffsetDateTime, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.model.Schemas

/** Seeded input generators. Every value is a pure function of
  * `(seed, message index)`, so the broker, the backlog files and the
  * batch-mode expectation each rebuild identical envelopes on their own,
  * with nothing large collected on the driver. */
object Gen {

  /** SplitMix64 finaliser: a well-mixed 64-bit hash of (seed, k, salt). */
  def mix(seed: Long, k: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + k * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, 1). */
  def unit(seed: Long, k: Long, salt: Long): Double =
    (mix(seed, k, salt) >>> 11) * (1.0 / (1L << 53))
  def pick(seed: Long, k: Long, salt: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(mix(seed, k, salt), n.toLong).toInt

  private val words = Array(
    "order", "refund", "delivery", "invoice", "account", "password", "reset",
    "shipping", "status", "ticket", "agent", "customer", "please", "thanks",
    "delay", "address", "payment", "card", "update", "issue", "resolved",
    "escalate", "priority", "today", "tomorrow", "help", "question", "item",
    "café", "naïve", "über", "чай")

  private val froms = Array("client", "agent", "bot")
  private val types = Array("text", "image", "file", "event")
  private val contexts = Array("web", "mobile", "api", "email")

  /** One message stream: `n` messages, ~`textChars` characters of text
    * per payload, `offFilter` share on `globex.crmabc.*` subjects, and
    * event time advancing `stepMicros` per message. */
  final case class Stream(seed: Long, n: Int, textChars: Int,
      offFilter: Double, users: Int, baseMicros: Long, stepMicros: Long) {

    def onFilter(k: Long): Boolean = unit(seed, k, 1) >= offFilter
    def seq(k: Long): Long = k + 1
    def tsMicros(k: Long): Long = baseMicros + seq(k) * stepMicros

    /** Eight dot-segments, the analytics MV's client/project/user/
      * session/from/to/type/context. */
    def subject(k: Long): String = {
      val u = pick(seed, k, 2, users)
      val project = if (onFilter(k)) "globex.supprt" else "globex.crmabc"
      s"$project.u$u.s${u * 8 + pick(seed, k, 3, 8)}.${froms(pick(seed, k, 4, 3))}" +
        s".${froms(pick(seed, k, 5, 3))}.${types(pick(seed, k, 6, 4))}.${contexts(pick(seed, k, 7, 4))}"
    }

    def payload(k: Long): String = {
      val sb = new StringBuilder(textChars + 96)
      sb.append("{\"text\":\"")
      var i = 0L
      val start = sb.length
      while (sb.length - start < textChars) {
        if (i > 0) sb.append(' ')
        sb.append(words(pick(seed, k * 4096 + i, 8, words.length)))
        i += 1
      }
      sb.append("\",\"meta\":\"m").append(pick(seed, k, 9, 100))
        .append("\",\"id\":\"").append(java.lang.Long.toHexString(mix(seed, k, 10)))
        .append("\",\"timestamp\":\"").append(tsMicros(k) / 1000000L)
        .append("\"}")
      sb.toString
    }

    /** Envelope JSONL line, in the shape `NatsCapture` writes. */
    def line(k: Long): String = {
      val t = tsMicros(k)
      val ts = OffsetDateTime.ofInstant(
        Instant.ofEpochSecond(t / 1000000L, (t % 1000000L) * 1000L), ZoneOffset.UTC)
      "{\"subject\":\"" + graft.util.JsonText.escape(subject(k)) +
        "\",\"data\":\"" + graft.util.JsonText.escape(payload(k)) +
        "\",\"metaTimestamp\":\"" + ts + "\",\"streamSeq\":" + seq(k) + "}"
    }

    /** The same envelopes as a static DataFrame (on-filter only when
      * `onFilterOnly`), built executor-side. */
    def envelopes(spark: SparkSession, onFilterOnly: Boolean): DataFrame = {
      val self = this
      val rdd = spark.sparkContext.range(0L, n.toLong, 1L, spark.sparkContext.defaultParallelism)
        .filter(k => !onFilterOnly || self.onFilter(k))
        .map(k => Row(self.subject(k), self.payload(k),
          java.sql.Timestamp.from(Instant.EPOCH.plusNanos(self.tsMicros(k) * 1000L)), self.seq(k)))
      spark.createDataFrame(rdd, Schemas.envelope)
    }
  }

  /** Redelivered duplicates: message k is delivered a second time,
    * `1 + pick(...) % window` positions later, with probability `share`.
    * Same sequence, subject, payload and timestamp — a redelivery. */
  final case class Dups(seed: Long, share: Double, window: Int) {
    def duplicated(k: Long): Boolean = unit(seed, k, 11) < share
    def lag(k: Long): Int = 1 + pick(seed, k, 12, window)
  }

  /** Write the backlog as `perFile`-line JSONL slices; returns the slice
    * paths and the number of lines written. Duplicates of message k are
    * emitted right after message `k + lag(k)` (or at the end). */
  def writeBacklog(dir: String, s: Stream, d: Dups, perFile: Int): (Seq[String], Long) = {
    Files.createDirectories(Paths.get(dir))
    val pending = new java.util.TreeMap[Long, java.util.ArrayList[Long]]()
    val files = Seq.newBuilder[String]
    var out: BufferedWriter = null
    var inFile = 0
    var written = 0L
    def emit(k: Long): Unit = {
      if (out == null || inFile == perFile) {
        if (out != null) out.close()
        val f = Paths.get(dir, f"slice-${written / perFile}%05d.jsonl")
        files += f.toString
        out = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(f), UTF_8), 1 << 16)
        inFile = 0
      }
      out.write(s.line(k)); out.write('\n')
      inFile += 1; written += 1
    }
    try {
      var k = 0L
      while (k < s.n) {
        emit(k)
        if (d.duplicated(k) && s.onFilter(k))
          pending.computeIfAbsent(k + d.lag(k), _ => new java.util.ArrayList[Long]()).add(k)
        val due = pending.remove(k)
        if (due != null) due.forEach(j => emit(j))
        k += 1
      }
      pending.values().forEach(_.forEach(j => emit(j)))
    } finally if (out != null) out.close()
    (files.result(), written)
  }

  /** The catalog corpus: `rows` unit-normalised Gaussian vectors of
    * `dim` float elements with labels 0..9 — the shape of the `embeddings`
    * table the ANN queries read. StrictMath keeps it bit-identical on any
    * JVM, so the recorded result fingerprints stay valid. */
  def writeEmbeddings(spark: SparkSession, dir: String, seed: Long,
      rows: Int, dim: Int): Unit = {
    val rnd = new java.util.SplittableRandom(seed)
    def gauss(): Double = {
      val u1 = 1.0 - rnd.nextDouble()
      val u2 = rnd.nextDouble()
      StrictMath.sqrt(-2.0 * StrictMath.log(u1)) * StrictMath.cos(2.0 * StrictMath.PI * u2)
    }
    val data = (0 until rows).map { i =>
      val v = Array.fill(dim)(gauss())
      val norm = StrictMath.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("label", IntegerType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
