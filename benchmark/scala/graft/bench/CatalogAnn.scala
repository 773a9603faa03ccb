package graft.bench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.util.OperatorCaches

/** `catalog_ann`: a batch job's pass over the ANN family — k-means training,
  * cluster quality, IVF-PQ top-k and recall, index maintenance — each
  * query built by `SparkEntry.queries(q)(spark, dir)` and executed in
  * full, with `OperatorCaches.release` between queries as `graft.Bench`
  * does. The corpus has the shape of the sf0.1 `embeddings` table (2000
  * unit vectors of 64 floats, labels 0..9) and comes from a fixed seed,
  * so the result fingerprints recorded from an oracle-checked run stay
  * valid: the run's seed changes nothing here. No ingest layer runs. */
object CatalogAnn {

  val CorpusSeed = 42L
  val CorpusRows = 2000
  val Dim = 64

  def writeCorpus(spark: SparkSession, dir: String): Unit =
    Gen.writeEmbeddings(spark, dir, CorpusSeed, CorpusRows, Dim)

  final case class Pass(wallS: Double, queryS: Seq[(String, Double)],
      results: Seq[(String, StructType, Array[Row])])

  /** One pass over the queries. Each query's time is the execution of
    * its whole plan, results collected to the driver (at most ~1000 small
    * rows); the pass's wall adds the cache releases between queries. */
  def pass(spark: SparkSession, dir: String, ctx: Ctx, label: String): Pass = {
    val (qs, wall) = Bench.timed(ctx.tracer.span("pass", label) { pid =>
      Bench.CatalogQueries.map { q =>
        spark.sparkContext.setJobGroup(q, q)
        val ((schema, rows), s) = ctx.tracer.span(s"operators.$q", q, pid) { _ =>
          Bench.timed {
            val df = SparkEntry.queries(q)(spark, dir)
            (df.schema, df.collect())
          }
        }
        spark.sparkContext.clearJobGroup()
        OperatorCaches.release(spark)
        (q, s, schema, rows)
      }
    })
    Pass(wall, qs.map(r => r._1 -> r._2), qs.map(r => (r._1, r._3, r._4)))
  }

  def run(ctx: Ctx): Outcome = {
    val corpus = s"${ctx.work}/corpus"

    // set-up: the session, then opening the corpus table (written in
    // between, not timed). No warm-up: a batch job's run has none, so the
    // timed pass is the JVM's first, JIT and code generation included;
    // building each query's plan is part of its time
    val setupS = Bench.setupSeconds(ctx, writeCorpus(ctx.spark, corpus)) { _ =>
      graft.queries.Tables.embeddings(ctx.spark, corpus).schema
    }(())
    val spark = ctx.spark
    ctx.mark("set-up")

    def timedPass(label: String): Pass = {
      val p = Bench.rounds(1)(_ => pass(spark, corpus, ctx, label)).head
      ctx.mark(f"$label took ${p.wallS}%.3f s")
      p
    }
    // the checked outputs, written outside the timed region as parquet
    // for the fingerprint comparison (benchmark/run.py); returns their rows
    def writeResults(p: Pass): Int = {
      p.results.foreach { case (q, schema, rows) =>
        spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"${ctx.work}/out/$q")
      }
      ctx.mark("results written")
      p.results.map(_._3.length).sum
    }

    if (!ctx.trace) {
      val first = timedPass("first pass")
      val resultRows = writeResults(first)
      first.queryS.foreach { case (q, t) => ctx.note(f"query $q $t%.3f s") }
      // a batch here is one query: the pass's mean query time
      Outcome(Bench.CatalogQueries.size.toLong, 0L, Bench.endToEnd(ctx, Seq(first.wallS),
        resultRows, Seq(first.queryS.map(_._2).sum * 1000 / first.queryS.size), setupS))
    } else {
      // the traced run traces the same first pass the untraced run times
      val (first, tasks, _) = Bench.traced(ctx)(timedPass("first pass (traced)"))
      writeResults(first)
      val unattributed = Bench.selfTimeTable(ctx, first.wallS)
      // tracing overhead, on a pair of warm passes: untraced, then traced
      val untracedWarm = timedPass("warm pass")
      val (tracedWarm, _, _) = Bench.traced(ctx)(timedPass("warm pass (traced)"))
      val perQuery = first.queryS.flatMap { case (q, secs) =>
        val t = tasks.byGroup.getOrElse(q, new tasks.Totals)
        Seq(
          Metric(s"operators.$q.s", secs, "s"),
          Metric(s"operators.$q.jobs", t.jobs.size.toDouble, "count"),
          Metric(s"operators.$q.stages", t.stages.size.toDouble, "count"),
          Metric(s"operators.$q.tasks", t.tasks.toDouble, "count"),
          Metric(s"operators.$q.cpu_s", t.cpuNanos / 1e9, "s"),
          Metric(s"operators.$q.shuffle_bytes", (t.shuffleRead + t.shuffleWrite).toDouble, "B"),
          Metric(s"operators.$q.spill_bytes", t.spill.toDouble, "B"))
      }
      Outcome(Bench.CatalogQueries.size.toLong, 0L, Bench.fillPerLayer(perQuery ++
        Bench.sparkMetrics(tasks, first.wallS, ctx.cores) ++ Seq(
          Metric("trace.wall_s", first.wallS, "s"),
          Metric("trace.untraced_wall_s", untracedWarm.wallS, "s"),
          Metric("trace.overhead_s", tracedWarm.wallS - untracedWarm.wallS, "s"),
          Metric("trace.unattributed_s", unattributed, "s"))))
    }
  }
}
