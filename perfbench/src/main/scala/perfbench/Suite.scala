package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.{SparkEntry, Tables}

/**
 * query_suite: the library surface. A fixed panel of `SparkEntry.queries`
 * entries runs in passes, each pass in a seed-shuffled order; every query
 * is built, executed and collected, and its result is checked against the
 * digest recorded for it (the recording run checks each result against
 * the DuckDB oracle SQL first).
 */
object Suite {
  val SetupReps = 3
  val WarmUp = Seq("q01_scan_filter_project", "q02_groupby_agg", "q03_join_agg")

  /** (query, rows, sha256) lines of the expected-results file. */
  def expected(path: String): Seq[(String, Long, String)] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t")).map(a => (a(0), a(1).toLong, a(2)))

  /** A fresh copy of the data with its own temporary directory: the
    * table metadata memo is keyed by path, so each repetition pays it again. */
  def setupRep(ctx: Ctx, rep: Int): String = {
    val dir = s"${ctx.o.work}/data-$rep"
    Files.createDirectories(Paths.get(dir))
    Files.list(Paths.get(ctx.o.data)).iterator().asScala.foreach { f =>
      Files.copy(f, Paths.get(dir, f.getFileName.toString),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val tmp = s"${ctx.o.work}/tmp-$rep"
    Files.createDirectories(Paths.get(tmp))
    System.setProperty("java.io.tmpdir", tmp)
    Tables.names.foreach(n => Tables.load(ctx.spark, dir, n))
    dir
  }

  /** Releases the result as its caller would; returns how many persisted
    * RDDs outlived that, then clears them so queries stay independent. */
  def release(ctx: Ctx, df: DataFrame, base: Set[Int]): Int = {
    if (df != null) df.unpersist(blocking = true)
    val left = ctx.persisted -- base
    ctx.spark.catalog.clearCache()
    ctx.sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!base(id)) rdd.unpersist(blocking = true)
    }
    left.size
  }

  /** Build, plan (traced only) and collect one query. */
  def runQuery(ctx: Ctx, name: String, dir: String, op: String,
               pins: Int => Unit): (DataFrame, Array[Row]) = {
    val tr = ctx.tracer
    val base = ctx.persisted
    val df = tr.span("build", op)(ctx.group("b", op)(SparkEntry.queries(name)(ctx.spark, dir)))
    pins((ctx.persisted -- base).size)
    if (tr.on) tr.span("plan", op)(ctx.group("p", op)(df.queryExecution.executedPlan))
    val rows = tr.span("exec", op)(ctx.group("x", op)(df.collect()))
    (df, rows)
  }

  def run(ctx: Ctx): Unit = {
    val o = ctx.o
    val panel = expected(o.expected)
    var dir: String = null
    val setupS = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      dir = setupRep(ctx, rep)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    val warmFailures = mutable.ArrayBuffer.empty[String]
    WarmUp.foreach { q =>
      val base = ctx.persisted
      var df: DataFrame = null
      try df = runQuery(ctx, q, dir, s"warm-$q", _ => ())._1
      catch { case e: Throwable => warmFailures += s"$q: ${e.getMessage}" }
      release(ctx, df, base)
    }
    ctx.report("setup_reps_s") = setupS
    ctx.report("warmup_s") = (System.nanoTime() - w0) / 1e9
    ctx.report("warmup_failures") = warmFailures

    val pinsTotal = mutable.ArrayBuffer.empty[Int]
    val leakedTotal = mutable.ArrayBuffer.empty[Int]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val gc0 = Jvm.gcSeconds
    ctx.sampleHeap()
    val start = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    while (passTimes.isEmpty || elapsed + passTimes.max <= o.seconds) {
      val p0 = System.nanoTime()
      ctx.rng.shuffle(panel).foreach { case (name, rows, sha) =>
        // traced runs execute each query twice, traced and untraced in a
        // seed-chosen order, so the tracing overhead is paired per query
        val modes = if (!o.trace) Seq(false)
          else if (ctx.rng.nextBoolean()) Seq(true, false) else Seq(false, true)
        modes.foreach { traced =>
          val op = f"op$i%03d"
          val base = ctx.persisted
          var res: (DataFrame, Array[Row]) = (null, null)
          var pins = 0
          var rec = ctx.timeOp(op, name, traced) {
            res = runQuery(ctx, name, dir, op, pins = _)
          }
          ctx.collectCounters()
          if (rec.ok) {
            val (n, h) = Canon.digest(res._1.columns.toSeq, res._2)
            if (n != rows || h != sha)
              rec = rec.copy(ok = false,
                error = s"result differs from the recorded one ($n rows, expected $rows)")
          }
          val leaked = release(ctx, res._1, base)
          if (traced) { pinsTotal += pins; leakedTotal += leaked }
          ctx.ops += rec
          ctx.sampleHeap()
          i += 1
        }
      }
      passTimes += (System.nanoTime() - p0) / 1e9
    }
    ctx.report("measured_s") = elapsed
    ctx.report("pass_s") = passTimes
    ctx.report("panel_size") = panel.size
    ctx.report("gc_s") = ctx.gcSince(gc0)
    if (o.trace) {
      Layers.batch(ctx)
      val n = math.max(1, pinsTotal.size).toDouble
      ctx.layers("ops.cache_pins") = pinsTotal.sum / n
      ctx.layers("ops.cache_leaked") = leakedTotal.sum / n
      ctx.layers("trace.overhead_s") = pairedOverhead(ctx)
      ctx.layers("jvm.gc_s") = ctx.gcSince(gc0)
    }
  }

  /** Median over queries of (traced − untraced) wall time. */
  def pairedOverhead(ctx: Ctx): Double = {
    val diffs = ctx.ops.filter(_.ok).groupBy(_.kind).values.flatMap { rs =>
      val t = rs.filter(_.traced).map(_.wallS)
      val u = rs.filterNot(_.traced).map(_.wallS)
      if (t.nonEmpty && u.nonEmpty) Some(t.sum / t.size - u.sum / u.size) else None
    }.toSeq.sorted
    if (diffs.isEmpty) 0.0 else diffs(diffs.size / 2)
  }

  /** Runs every query once and writes its result and digest, for
    * record.py to check against the DuckDB oracle. */
  def record(ctx: Ctx): Unit = {
    val dir = setupRep(ctx, 1)
    val out = mutable.LinkedHashMap.empty[String, Any]
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val base = ctx.persisted
      var df: DataFrame = null
      ctx.tracing(true)
      val t0 = System.nanoTime()
      try {
        val (d, rows) = runQuery(ctx, name, dir, name, _ => ())
        df = d
        val dt = (System.nanoTime() - t0) / 1e9
        val (n, h) = Canon.digest(d.columns.toSeq, rows)
        ctx.spark.createDataFrame(rows.toList.asJava, d.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"${ctx.o.work}/record/$name")
        val got = ctx.collectCounters()
        out(name) = Map("rows" -> n, "sha256" -> h, "wall_s" -> dt,
          "build_jobs" -> got.filter(_._1.startsWith("b:")).values.map(_.jobs).sum)
      } catch {
        case e: Throwable =>
          ctx.collectCounters()
          out(name) = Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      release(ctx, df, base)
      System.err.println(s"[record] $name ${out(name)}")
    }
    ctx.report("record") = out
    ctx.report("oracle_sql") = SparkEntry.oracleSql
  }
}
