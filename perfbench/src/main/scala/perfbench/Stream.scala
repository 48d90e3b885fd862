package perfbench

import java.nio.file.{Files, Paths}
import java.sql.{DriverManager, Timestamp}
import java.time.{Instant, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.Tables
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/**
 * stream_sync: the relational → real-time sync as a stream. The events
 * table is replayed in laps (ts shifted by whole days per lap, order
 * disturbed by a seeded jitter kept inside the 1-hour watermark) into a
 * MemoryStream on a fixed schedule — an open loop — at a few fixed rates,
 * and flows through EventStreams.dailyCounts → writeDailyUpsertJdbc into
 * embedded Derby. Each event's latency runs from its scheduled send time to
 * the commit of the micro-batch that upserted it.
 */
object Stream {
  val SetupReps = 3
  /** Offered rates in events/s and each one's share of the run. The first
    * is the nominal rate whose latencies are the end-to-end metrics; the
    * second loads the stream past its capacity. */
  val Rates: Seq[(Double, Double)] = Seq(4000.0 -> 0.65, 16000.0 -> 0.35)
  val Nominal = 0
  val TickS = 0.1
  /** p99 latency limit a rate must meet to count as sustained. */
  val LimitS = 3.0
  val Lateness = "1 hour"
  val MaxJitterMs: Long = 40L * 60 * 1000
  val LapDays = 31
  val Ddl = """CREATE TABLE daily_counts (
              |  day DATE, event_type VARCHAR(32),
              |  n_events BIGINT, total_value DOUBLE)""".stripMargin

  /** Endless seeded feed: lap k is the table shifted by k·LapDays days,
    * sent in order of ts plus a jitter in [0, 40 min). */
  final class Feed(base: Array[Event], rng: scala.util.Random) {
    private var lap = -1
    private var cur: Array[Event] = Array.empty
    private var pos = 0
    val expected = mutable.HashMap.empty[(String, String), (Long, Double)]
    var sent = 0L

    private def nextLap(): Unit = {
      lap += 1
      val shift = lap.toLong * LapDays * 86400000L
      cur = base.map(e => e.copy(ts = new Timestamp(e.ts.getTime + shift)))
        .map(e => (e.ts.getTime + (rng.nextDouble() * MaxJitterMs).toLong, e))
        .sortBy(_._1).map(_._2)
      pos = 0
    }

    def take(n: Int): Seq[Event] = {
      val out = mutable.ArrayBuffer.empty[Event]
      while (out.size < n) {
        if (pos >= cur.length) nextLap()
        out += cur(pos); pos += 1
      }
      out.foreach { e =>
        val day = Instant.ofEpochMilli(e.ts.getTime - 3600000L)
          .atZone(ZoneOffset.UTC).toLocalDate.toString
        val k = (day, e.event_type)
        val (c, s) = expected.getOrElse(k, (0L, 0.0))
        expected(k) = (c + 1, s + e.value)
      }
      sent += out.size
      out.toSeq
    }
  }

  /** One micro-batch as reported by the query's progress. */
  final case class Batch(id: Long, startOffset: Long, endOffset: Long,
                         startMs: Double, commitMs: Double, rows: Long,
                         durations: Map[String, Long], stateRows: Long,
                         stateBytes: Long)

  final class ProgressLog extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    private def off(s: String): Long =
      Option(s).map(_.trim).filter(x => x.nonEmpty && x != "null")
        .map(_.toLong).getOrElse(-1L)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0 && p.sources.nonEmpty) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
        val st = p.stateOperators.headOption
        batches.add(Batch(p.batchId, off(p.sources(0).startOffset),
          off(p.sources(0).endOffset), start,
          start + d.getOrElse("triggerExecution", 0L), p.numInputRows, d,
          st.map(_.numRowsTotal).getOrElse(0L),
          st.map(_.memoryUsedBytes).getOrElse(0L)))
      }
    }
  }

  /** A chunk the generator sent: its stream offset, scheduled send time
    * (epoch ms) and size. */
  final case class Chunk(offset: Long, schedMs: Double, rows: Int, segment: Int)

  def createTable(url: String): Unit = {
    val c = DriverManager.getConnection(url)
    try { val st = c.createStatement(); st.executeUpdate(Ddl); st.close() }
    finally c.close()
  }

  def start(ctx: Ctx, url: String, cp: String): (MemoryStream[Event], StreamingQuery) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ctx.spark.sqlContext
    import ctx.spark.implicits._
    val input = MemoryStream[Event]
    val q = EventStreams.writeDailyUpsertJdbc(
      EventStreams.dailyCounts(input.toDF(), lateness = Lateness),
      url, "daily_counts", cp)
    (input, q)
  }

  def loadEvents(ctx: Ctx): Array[Event] = {
    import ctx.spark.implicits._
    Tables.events(ctx.spark, ctx.o.data).orderBy(col("event_id"))
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .as[Event].collect()
  }

  /** Weighted quantile of (value, weight) samples. */
  def quantile(xs: Seq[(Double, Long)], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sortBy(_._1)
    val total = s.map(_._2).sum.toDouble
    var acc = 0.0
    s.find { case (_, w) => acc += w; acc >= q * total }.map(_._1)
      .getOrElse(s.last._1)
  }

  def run(ctx: Ctx): Unit = {
    val o = ctx.o
    val spark = ctx.spark
    val log = new ProgressLog
    spark.streams.addListener(log)

    // set-up, repeated: Derby table and event load
    var events: Array[Event] = null
    val setupS = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      createTable(s"jdbc:derby:memory:setup$rep;create=true")
      events = loadEvents(ctx)
      (System.nanoTime() - t0) / 1e9
    }
    ctx.report("setup_reps_s") = setupS

    // warm-up: the measured query's first two micro-batches
    val url = "jdbc:derby:memory:sync;create=true"
    createTable(url)
    val feed = new Feed(events, ctx.rng)
    val w0 = System.nanoTime()
    val (input, q) = start(ctx, url, s"${o.work}/sync-cp")
    val warmFailures =
      try {
        (1 to 2).foreach { _ =>
          input.addData(feed.take(500))
          q.processAllAvailable()
        }
        Nil
      } catch { case e: Throwable => Seq(e.getMessage) }
    ctx.report("warmup_s") = (System.nanoTime() - w0) / 1e9
    ctx.report("warmup_failures") = warmFailures
    val warmOffset = log.batches.asScala.map(_.endOffset).maxOption.getOrElse(-1L)

    // open-loop generator: one thread, a chunk every TickS on a fixed
    // schedule; a late tick sends its chunk late but keeps its due time
    val chunks = mutable.ArrayBuffer.empty[Chunk]
    val toggles = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var lateMax = 0.0
    var failure: String = null
    val gc0 = Jvm.gcSeconds
    ctx.sampleHeap()
    val baseNs = System.nanoTime()
    val baseMs = System.currentTimeMillis().toDouble
    def epochMs(ns: Long) = baseMs + (ns - baseNs) / 1e6
    var segStartNs = baseNs
    try {
      Rates.zipWithIndex.foreach { case ((rate, share), seg) =>
        val dur = o.seconds * share
        val ticks = math.round(dur / TickS).toInt
        var sentSeg = 0L
        (0 until ticks).foreach { j =>
          val due = segStartNs + ((j * TickS) * 1e9).toLong
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          lateMax = math.max(lateMax, (System.nanoTime() - due) / 1e9)
          if (o.trace && j % 20 == 0) {
            val on = (j / 20) % 2 == 0
            ctx.tracing(on)
            toggles += ((epochMs(System.nanoTime()), on))
          }
          val n = (math.floor(rate * (j + 1) * TickS) - sentSeg).toInt
          if (n > 0) {
            val off = input.addData(feed.take(n))
            sentSeg += n
            chunks += Chunk(off.json.toLong, epochMs(due), n, seg)
          }
        }
        q.processAllAvailable()
        ctx.tracing(false)
        ctx.sampleHeap()
        segStartNs = System.nanoTime()
      }
    } catch {
      case e: Throwable => failure = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    val measuredS = (System.nanoTime() - baseNs) / 1e9
    if (o.trace) ctx.collectCounters()
    val gcS = ctx.gcSince(gc0)
    q.stop()
    // progress events reach the listener asynchronously
    org.apache.spark.perfbench.BusAccess.drain(ctx.sc)
    val batches = log.batches.asScala.toSeq.filter(_.endOffset > warmOffset)
      .sortBy(_.id)

    // correctness: the table must equal a group-by over every fed event
    val got = mutable.HashMap.empty[(String, String), (Long, Double)]
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT day, event_type, n_events, total_value FROM daily_counts")
      while (rs.next()) got((rs.getDate(1).toString, rs.getString(2))) =
        (rs.getLong(3), rs.getDouble(4))
    } finally conn.close()
    val wrong = feed.expected.count { case (k, (c, s)) =>
      got.get(k).forall { case (gc, gs) =>
        gc != c || math.abs(gs - s) > 1e-9 * math.max(1.0, math.abs(s))
      }
    } + got.keySet.diff(feed.expected.keySet).size
    def batchOf(off: Long) = batches.find(b => b.startOffset < off && off <= b.endOffset)
    val uncommitted = chunks.count(c => batchOf(c.offset).isEmpty)
    val tableError =
      if (failure != null) failure
      else if (uncommitted > 0) s"$uncommitted sent chunks have no committed micro-batch"
      else if (wrong > 0) s"$wrong of ${feed.expected.size} (day, event_type) rows differ from the fed events"
      else null

    // per-event latency: scheduled send → commit of the covering batch
    val perSeg = Rates.indices.map { seg =>
      val cs = chunks.filter(_.segment == seg)
      val lat = cs.flatMap(c => batchOf(c.offset).map(b => ((b.commitMs - c.schedMs) / 1e3, c.rows.toLong)))
      val segBatches = batches.filter(b => cs.exists(c => b.startOffset < c.offset && c.offset <= b.endOffset))
      val backlog = segBatches.map { b =>
        cs.filter(c => c.schedMs <= b.commitMs && c.offset > b.endOffset).map(_.rows.toLong).sum
      }
      val rows = cs.map(_.rows.toLong).sum
      val busyS = segBatches.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3
      val p99 = quantile(lat.toSeq, 0.99)
      val rate = Rates(seg)._1
      Map("rate" -> rate, "rows" -> rows, "batches" -> segBatches.size,
        "lat_p50_s" -> quantile(lat.toSeq, 0.50),
        "lat_p95_s" -> quantile(lat.toSeq, 0.95), "lat_p99_s" -> p99,
        "capacity_per_s" -> (if (busyS > 0) segBatches.map(_.rows).sum / busyS else 0.0),
        "backlog_max_rows" -> backlog.maxOption.getOrElse(0L),
        "sustained" -> (lat.size == cs.size && cs.nonEmpty && p99 <= LimitS &&
          backlog.maxOption.getOrElse(0L) <= rate * LimitS),
        "backlog_rows" -> backlog,
        "batch_ids" -> segBatches.map(_.id))
    }
    batches.foreach { b =>
      ctx.ops += OpRecord(s"batch${b.id}", "batch", tableError == null,
        b.durations.getOrElse("triggerExecution", 0L) / 1e3, tableError,
        traced = o.trace && tracedAt(toggles, b.startMs))
    }
    if (batches.isEmpty)
      ctx.ops += OpRecord("stream", "batch", ok = false, 0.0,
        Option(tableError).getOrElse("no micro-batch committed"), traced = false)
    ctx.report("segments") = perSeg
    ctx.report("limit_s") = LimitS
    ctx.report("gen_late_max_s") = lateMax
    ctx.report("events_sent") = feed.sent
    ctx.report("measured_s") = measuredS
    ctx.report("gc_s") = gcS
    ctx.report("table_error") = tableError

    if (o.trace) {
      val nomIds = perSeg(Nominal)("batch_ids").asInstanceOf[Seq[Long]].toSet
      val nom = batches.filter(b => nomIds(b.id))
      val tracedNom = nom.filter(b => tracedAt(toggles, b.startMs))
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else quantile(xs.map(_ -> 1L), 0.5)
      def phase(k: String) = med(tracedNom.map(_.durations.getOrElse(k, 0L).toDouble))
      val L = ctx.layers
      L("sink.jdbc_upsert_s") = tracedNom.map(_.durations.getOrElse("addBatch", 0L)).sum / 1e3
      L("streaming.trigger_ms") = phase("triggerExecution")
      L("streaming.add_batch_ms") = phase("addBatch")
      L("streaming.query_planning_ms") = phase("queryPlanning")
      L("streaming.wal_commit_ms") = phase("walCommit")
      L("streaming.commit_offsets_ms") = phase("commitOffsets")
      L("streaming.latest_offset_ms") = phase("latestOffset")
      L("streaming.rows_per_batch") = med(tracedNom.map(_.rows.toDouble))
      L("streaming.state_rows") = nom.map(_.stateRows).maxOption.getOrElse(0L).toDouble
      L("streaming.state_mem_bytes") = nom.map(_.stateBytes).maxOption.getOrElse(0L).toDouble
      L("streaming.backlog_rows") = perSeg(Nominal)("backlog_max_rows").asInstanceOf[Long].toDouble
      L("streaming.lat_p99_s") = perSeg(Nominal)("lat_p99_s").asInstanceOf[Double]
      L("gen.late_max_s") = lateMax
      L("jvm.gc_s") = gcS
      L("trace.overhead_s") =
        (med(tracedNom.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)) -
          med(nom.filterNot(b => tracedAt(toggles, b.startMs))
            .map(_.durations.getOrElse("triggerExecution", 0L).toDouble))) / 1e3
      // counters cover every traced window, so average over all traced batches
      val cs = ctx.counters.getOrElse("stream", new GroupCounters)
      val nTraced = math.max(1, batches.count(b => tracedAt(toggles, b.startMs))).toDouble
      L("ops.jobs") = cs.jobs / nTraced
      L("ops.stages") = cs.stages / nTraced
      L("ops.tasks") = cs.tasks / nTraced
      L("ops.task_s") = cs.taskMs / 1e3 / nTraced
      L("trace.traced_ops") = tracedNom.size.toDouble
      // spans rebuilt from the progress phases of traced batches, laid
      // out in the order a micro-batch runs them
      val ns0 = baseNs - ((baseMs - 0) * 1e6).toLong
      def ns(ms: Double) = ns0 + (ms * 1e6).toLong
      batches.filter(b => tracedAt(toggles, b.startMs)).foreach { b =>
        val op = s"batch${b.id}"
        val root = ctx.tracer.add("batch", op, ctx.tracer.rootId, ns(b.startMs), ns(b.commitMs))
        var at = b.startMs
        Seq("latestOffset" -> "source", "walCommit" -> "wal",
          "queryPlanning" -> "plan", "addBatch" -> "sink",
          "commitOffsets" -> "commit").foreach { case (k, name) =>
          val d = b.durations.getOrElse(k, 0L).toDouble
          ctx.tracer.add(name, op, root, ns(at), ns(at + d))
          at += d
        }
      }
    }
  }

  /** Whether tracing was on when a batch starting at `ms` began. */
  def tracedAt(toggles: scala.collection.Seq[(Double, Boolean)], ms: Double): Boolean =
    toggles.filter(_._1 <= ms).lastOption.exists(_._2)
}
