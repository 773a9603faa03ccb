package graft.bench

import java.nio.file.{Files, Paths}
import java.util.Arrays

import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.pipeline.Ingest
import graft.sinks.NativeBlockCodec.{DecodedBlock, DecodedColumn}

/** The benchmark's own checks, checked: the generator is deterministic,
  * every output check fails on each kind of bad output, and the
  * percentile helper reports a tail only when the sample supports it.
  * Run through `python3 benchmark/run.py --self-test`. */
object SelfTest {

  private var failures = 0
  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val work = args(0)
    generator(work)
    percentiles()
    val ctx = new Ctx(work, 1L, 1, false, Runtime.getRuntime.availableProcessors())
    try {
      ctx.buildSession()
      bulkCheck(ctx)
    } finally ctx.spark.stop()
    println(s"self-test: $failures failure(s)")
    if (failures > 0) sys.exit(1)
  }

  def generator(work: String): Unit = {
    def backlog(dir: String, seed: Long): Array[Byte] = {
      val (files, _) = Gen.writeBacklog(dir, IngestBulk.stream(seed, 3000), IngestBulk.dups(seed), 1000)
      files.flatMap(f => Files.readAllBytes(Paths.get(f))).toArray
    }
    val a = backlog(s"$work/gen-a", 7L)
    val b = backlog(s"$work/gen-b", 7L)
    val c = backlog(s"$work/gen-c", 8L)
    expect("backlog: one seed gives byte-identical files", Arrays.equals(a, b))
    expect("backlog: another seed gives different files", !Arrays.equals(a, c))
  }

  def percentiles(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    expect("p90 of 100 samples is reported (10 beyond it)", Stats.tail(xs, 0.9).contains(90.0))
    expect("p90 of 99 samples is withheld (9 beyond it)", Stats.tail(xs.take(99), 0.9).isEmpty)
    expect("p99 of 1000 samples is reported", Stats.tail((1 to 1000).map(_.toDouble), 0.99).contains(990.0))
    expect("median of an even sample", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  /** The ingest_bulk receiver check against mutated deliveries. */
  def bulkCheck(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val gen = IngestBulk.stream(5L, 2000)
    val (expected, on) = IngestBulk.expectation(spark, gen)
    val cols = Schemas.raw.fieldNames.toSeq
    val rows = Ingest.envelopeToRaw(gen.envelopes(spark, onFilterOnly = false))
      .select(cols.map(col): _*).collect()
    val micros = (t: java.sql.Timestamp) => {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000
    }
    def block(rs: Seq[org.apache.spark.sql.Row]): DecodedBlock = DecodedBlock(rs.size,
      cols.zipWithIndex.map { case (c, i) =>
        DecodedColumn(c, "", rs.map { r =>
          r.get(i) match {
            case t: java.sql.Timestamp => micros(t)
            case v => v
          }
        }.toIndexedSeq)
      }.toIndexedSeq)
    val onRows = rows.filter(r => on.get(r.getAs[Long]("sequence").toInt)).toSeq
    val offRow = rows.find(r => !on.get(r.getAs[Long]("sequence").toInt)).get
    def failedWith(rs: Seq[org.apache.spark.sql.Row]): Long = {
      val c = new BulkCheck(expected, on)
      rs.grouped(500).foreach(g => c.accept(block(g)))
      c.failed
    }
    expect("bulk check passes every on-filter row once", failedWith(onRows) == 0)
    expect("bulk check fails on a dropped row", failedWith(onRows.tail) > 0)
    expect("bulk check fails on a duplicated row", failedWith(onRows :+ onRows.head) > 0)
    expect("bulk check fails on an off-filter row", failedWith(onRows :+ offRow) > 0)
    val h = onRows.head
    val changed = org.apache.spark.sql.Row.fromSeq(h.toSeq.updated(cols.indexOf("data"), h.getAs[String]("data") + " "))
    expect("bulk check fails on one changed value", failedWith(changed +: onRows.tail) > 0)
  }
}
