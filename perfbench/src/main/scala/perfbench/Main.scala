package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options passed by run.py. */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, data: String, work: String,
                      out: String, cores: Int, expected: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", need("data"), need("work"),
      need("out"), m.getOrElse("cores", "4").toInt,
      m.getOrElse("expected", ""))
  }
}

/** One measured operation: a (day, list) pair, a query, or a stream rate
  * segment. Failed operations keep their error and record no time. */
final case class OpRecord(id: String, kind: String, ok: Boolean,
                          wallS: Double, error: String, traced: Boolean) {
  def json: Map[String, Any] = Map("id" -> id, "kind" -> kind, "ok" -> ok,
    "wall_s" -> (if (ok) wallS else null), "error" -> error,
    "traced" -> traced)
}

/** State shared by the workloads of one run. */
final class Ctx(val spark: SparkSession, val o: Opts) {
  val sc = spark.sparkContext
  val tracer = new Tracer
  val listener = new LayerListener
  if (o.trace) sc.addSparkListener(listener)
  val rng = new scala.util.Random(o.seed)
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val report = mutable.LinkedHashMap.empty[String, Any]
  /** Per-layer metrics the workload measured itself. */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Counters of traced operations, summed per layer letter. */
  val counters = mutable.HashMap.empty[String, GroupCounters]
  var heapPeakMb = 0.0
  val heapSamplesMb = mutable.ArrayBuffer.empty[Double]
  private var forcedGcS = 0.0

  /** Ids of the RDDs currently persisted. */
  def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** Runs `body` with the job group "<layer>:<op>". */
  def group[A](layer: String, op: String)(body: => A): A = {
    sc.setJobGroup(s"$layer:$op", layer, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  /** Switches span and counter recording for the next operation. */
  def tracing(on: Boolean): Unit = {
    tracer.on = on
    listener.active = on
  }

  /** Stops recording and folds the operation's counters into the totals
    * per layer letter; returns the per-group counters. */
  def collectCounters(): Map[String, GroupCounters] = {
    tracing(false)
    if (!o.trace) return Map.empty
    org.apache.spark.perfbench.BusAccess.drain(sc)
    val got = listener.take()
    got.foreach { case (g, c) =>
      counters.getOrElseUpdate(g.takeWhile(_ != ':'), new GroupCounters) += c
    }
    got
  }

  /** Heap in use after a forced collection, folded into the peak. */
  def sampleHeap(): Unit = {
    val (mb, dt) = Jvm.heapAfterGc()
    heapPeakMb = math.max(heapPeakMb, mb)
    heapSamplesMb += mb
    forcedGcS += dt
  }

  /** GC seconds since `fromS`, without the collections the harness forced. */
  def gcSince(fromS: Double): Double =
    math.max(0.0, Jvm.gcSeconds - fromS - forcedGcS)

  def timeOp(id: String, kind: String, traced: Boolean)(body: => Unit): OpRecord = {
    tracing(traced)
    val t0 = System.nanoTime()
    val rec = try {
      tracer.span("op", id)(body)
      OpRecord(id, kind, ok = true, (System.nanoTime() - t0) / 1e9, null, traced)
    } catch {
      case e: Throwable =>
        OpRecord(id, kind, ok = false, 0.0, s"${e.getClass.getSimpleName}: ${e.getMessage}", traced)
    }
    rec
  }
}

object Main {

  def session(o: Opts): SparkSession = SparkSession.builder()
    .master(s"local[${o.cores}]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", o.cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"${o.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val launchS = Jvm.sinceLaunchSeconds
    val t0 = System.nanoTime()
    Files.createDirectories(Paths.get(o.work))
    val spark = session(o)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, o)
    ctx.report("workload") = o.workload
    ctx.report("seed") = o.seed
    ctx.report("trace") = o.trace
    ctx.report("cores") = o.cores
    ctx.report("launch_s") = launchS
    ctx.report("session_s") = sessionS
    val runStart = System.nanoTime()
    try {
      o.workload match {
        case "daily_backfill" => Backfill.run(ctx)
        case "query_suite" => Suite.run(ctx)
        case "stream_sync" => Stream.run(ctx)
        case "record_suite" => Suite.record(ctx)
        case w => sys.error(s"unknown workload $w")
      }
      ctx.report("ops") = ctx.ops.map(_.json)
      ctx.report("heap_peak_mb") = ctx.heapPeakMb
      ctx.report("heap_samples_mb") = ctx.heapSamplesMb
      if (o.trace) {
        ctx.report("layers") = ctx.layers
        val tracePath = s"${o.out.stripSuffix(".json")}.trace.json"
        ctx.tracer.write(tracePath, runStart)
        ctx.report("trace_file") = tracePath
      }
      Files.writeString(Paths.get(o.out), Json.render(ctx.report))
    } finally spark.stop()
  }
}
