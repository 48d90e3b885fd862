package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.jobs.{TrendsJob, TrendsMain}
import graft.model.DomainFixtures
import graft.queries.DomainQueries
import graft.queries.HighlightQueries.{Params, TrendsTables}
import graft.sink.KeyedPartitionSink

/**
 * daily_backfill: the cron user's job. Set-up writes the five fixture
 * tables once to parquet (the `TrendsMain --tables-dir` layout); the run
 * then sends seed-chosen (day, list) pairs one after another through the
 * three TrendsJob passes into KeyedPartitionSink. Every fifth operation
 * replays an earlier pair, as a re-run of the daily job would.
 */
object Backfill {
  val Lists: Seq[String] = (0 to 6).map(i => s"pub-list-$i")
  val Deprecated = "pub-list-7"
  val ReplayEvery = 5
  val SetupReps = 3
  val WarmPairs = 1
  /** Pairs per second of `--seconds`: every run does the same number of
    * pairs, so the slower first operations weigh the same in each run. */
  val PairsPerSecond = 0.35

  def params(day: String, list: String): Params =
    Params(sinceDate = day, listId = list, deprecatedListId = Deprecated,
      limit = -1)

  private val tableNames = Seq("weaving_status", "highlight",
    "publishers_list", "status_popularity", "weaving_user")

  def materialize(ctx: Ctx, dir: String): Unit = {
    val t = DomainFixtures.tables(ctx.spark, ctx.o.data)
    Seq(t.weavingStatus, t.highlight, t.publishersList, t.statusPopularity,
      t.weavingUser).zip(tableNames).foreach { case (df, n) =>
      df.write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
  }

  /** One pair through the three passes into the sink; returns how many
    * RDDs the passes left persisted after building. */
  def runPair(ctx: Ctx, t: TrendsTables, sink: String, day: String,
              list: String, op: String): Int = {
    val tr = ctx.tracer
    val base = ctx.persisted
    val cfg = TrendsJob.Config(params(day, list), sink)
    val docs = tr.span("build", op) {
      ctx.group("b", op) {
        TrendsJob.passes.map { case (st, ds, rt) =>
          tr.span(s"pass:$st", op)(TrendsJob.runPass(t, cfg, st, ds, rt))
        }.reduce(_ union _)
      }
    }
    val pins = (ctx.persisted -- base).size
    if (tr.on) tr.span("plan", op)(ctx.group("p", op)(docs.queryExecution.executedPlan))
    tr.span("sink", op)(ctx.group("s", op)(KeyedPartitionSink.write(docs, sink)))
    pins
  }

  private def partitionDir(sink: String, day: String, list: String) =
    Paths.get(sink, s"list_id=$list", s"ingest_date=$day")

  /** Digest of a pair's rows as they sit in the sink. */
  def pairDigest(ctx: Ctx, sink: String, day: String, list: String): String = {
    if (!Files.exists(partitionDir(sink, day, list))) return "absent"
    val df = ctx.spark.read.parquet(sink)
      .where(col("list_id") === list && col("ingest_date") === day)
    Canon.digest(df.columns.toSeq, df.collect())._2
  }

  def fileCount(sink: String, day: String, list: String): Long = {
    val d = partitionDir(sink, day, list)
    if (!Files.exists(d)) 0L
    else {
      val s = Files.walk(d)
      try s.iterator().asScala.count(p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
  }

  def run(ctx: Ctx): Unit = {
    val o = ctx.o
    val spark = ctx.spark
    val days = spark.read.parquet(s"${o.data}/orders.parquet")
      .selectExpr("CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS d")
      .distinct().collect().map(_.getDate(0).toString).sorted.toSeq

    // set-up, repeated: materialize the tables and load them
    var tables: TrendsTables = null
    val setupS = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val dir = s"${o.work}/tables-$rep"
      materialize(ctx, dir)
      tables = TrendsMain.loadParquetTables(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }
    ctx.report("setup_reps_s") = setupS
    // warm-up: pairs outside the measured sink
    val w0 = System.nanoTime()
    val warmFailures = (0 until WarmPairs).flatMap { k =>
      try { runPair(ctx, tables, s"${o.work}/warm-sink", days(k), Lists(k), s"warm$k"); None }
      catch { case e: Throwable => Some(s"warm$k: ${e.getMessage}") }
    }
    ctx.report("warmup_s") = (System.nanoTime() - w0) / 1e9
    ctx.report("warmup_failures") = warmFailures

    val sink = s"${o.work}/sink"
    val pairs = ctx.rng.shuffle(for (d <- days; l <- Lists) yield (d, l))
    val written = mutable.ArrayBuffer.empty[(String, String)]
    val opPairs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val gc0 = Jvm.gcSeconds
    ctx.sampleHeap()
    val start = System.nanoTime()
    val nOps = math.ceil(o.seconds * PairsPerSecond).toInt
    var i = 0
    var next = 0
    while (i < nOps && next < pairs.size) {
      val replay = written.nonEmpty && i % ReplayEvery == ReplayEvery - 1
      val (day, list) =
        if (replay) written(ctx.rng.nextInt(written.size))
        else { next += 1; pairs(next - 1) }
      val op = f"op$i%03d"
      val before = if (replay) pairDigest(ctx, sink, day, list) else null
      val base = ctx.persisted
      var pins = 0
      var rec = ctx.timeOp(op, if (replay) "replay" else "day",
        traced = o.trace && i % 2 == 0) {
        pins = runPair(ctx, tables, sink, day, list, op)
      }
      ctx.collectCounters()
      // the caller owns nothing after the write: whatever is still
      // persisted has leaked
      val leaked = (ctx.persisted -- base).size
      if (rec.ok && replay) {
        val after = pairDigest(ctx, sink, day, list)
        if (after != before)
          rec = rec.copy(ok = false, error = "replay changed the sink partition")
      }
      if (!replay) written += ((day, list))
      opPairs += Map("op" -> op, "day" -> day, "list" -> list,
        "files" -> fileCount(sink, day, list), "pins" -> pins,
        "leaked" -> leaked)
      ctx.ops += rec
      ctx.sampleHeap()
      i += 1
    }
    ctx.report("measured_s") = (System.nanoTime() - start) / 1e9
    ctx.report("gc_s") = ctx.gcSince(gc0)
    ctx.report("pairs") = opPairs
    ctx.report("sink") = sink
    ctx.report("oracle") = Map(
      "since_date" -> DomainQueries.SinceDate, "list" -> "pub-list-3",
      "deprecated" -> Deprecated,
      "fixtures" -> DomainQueries.fixtureCte,
      "status" -> DomainQueries.q31Sql,
      "distinct" -> DomainQueries.q32Sql)
    if (o.trace) {
      Layers.batch(ctx)
      val traced = opPairs.zip(ctx.ops).filter(_._2.traced).map(_._1)
      def mean(k: String) = traced.map(_(k).toString.toDouble).sum /
        math.max(1, traced.size)
      ctx.layers("sink.files") = mean("files")
      ctx.layers("ops.cache_pins") = mean("pins")
      ctx.layers("ops.cache_leaked") = mean("leaked")
      ctx.layers("trace.overhead_s") = Layers.overhead(ctx)
      ctx.layers("jvm.gc_s") = ctx.gcSince(gc0)
    }
  }
}
