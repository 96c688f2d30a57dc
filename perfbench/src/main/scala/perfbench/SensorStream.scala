package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.{Encoders, GraftBridge, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => SourceOffset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.core.LakeLayout
import graft.streaming.SensorStreamJob

/** A Kafka record as the Kafka source delivers it. */
final case class KafkaRow(key: Array[Byte], value: Array[Byte], topic: String,
    partition: Int, offset: Long, timestamp: Timestamp)

/** A MemoryStream several queries can read: the stock one drops data on
  * the first query's commit, while `SensorStreamJob.start` runs four
  * queries over one source. Data is kept until the stream is dropped.
  * Each micro-batch is read as `partitions` input partitions, like a
  * topic with that many partitions. */
final class SharedMemoryStream(id: Int, spark: SparkSession, partitions: Int)
    extends MemoryStream[KafkaRow](id, spark, Some(partitions))(
      Encoders.product[KafkaRow]) {
  override def commit(end: SourceOffset): Unit = ()
}

/** Seeded sensor readings on an event clock that runs `speedup` times
  * faster than wall time. Each generated row knows whether silver keeps
  * it and whether the aggregation drops it as beyond the watermark, so
  * the expected outputs follow without Spark. */
final class SensorSource(seed: Long, val pools: Int) {
  import SensorSource.Gen
  private val rnd = new scala.util.Random(seed)
  val eventStartMs: Long = Instant.parse("2026-03-01T00:00:00Z").toEpochMilli
  val watermarkMs = 120000L
  private var offset = 0L
  private var clockMs = eventStartMs
  private val recent = mutable.ArrayBuffer.empty[Gen]


  /** Rows kept for the expected outputs. */
  val silverRows = mutable.ArrayBuffer.empty[Gen]

  private val fmts = Seq(
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX"),
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"),
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))

  private def fmt(ms: Long): String =
    fmts(rnd.nextInt(fmts.size)).format(Instant.ofEpochMilli(ms).atOffset(ZoneOffset.UTC))

  private def r2(x: Double) = math.round(x * 100) / 100.0

  private def reading(pool: Int, ts: Long, beyond: Boolean): Gen = {
    val outOfRange = rnd.nextInt(50) == 0
    val ph = if (outOfRange) 14.5 else r2(6.8 + rnd.nextDouble() * 1.2)
    val cl = r2(0.2 + rnd.nextDouble() * 1.8)
    val temp = r2(20 + rnd.nextDouble() * 12)
    val turb = r2(rnd.nextDouble() * 5)
    val level = r2(80 + rnd.nextDouble() * 20)
    val pump = r2(0.1 + rnd.nextDouble() * 0.9)
    val payload = s"""{"pool_id":$pool,"sensor_ts":"${fmt(ts)}","ph":$ph,""" +
      s""""chlorine_mg_l":$cl,"temp_c":$temp,"turbidity_ntu":$turb,""" +
      s""""water_level_pct":$level,"pump_kwh_est":$pump}"""
    Gen(pool, ts, payload, !outOfRange, beyond, ph, cl, temp, pump)
  }

  private def envelope(g: Gen, producerMs: Long): KafkaRow = {
    val o = offset; offset += 1
    KafkaRow(g.pool.toString.getBytes(UTF_8), g.payload.getBytes(UTF_8),
      "smartpool.sensors", g.pool % SensorStream.TopicPartitions, o, new Timestamp(producerMs))
  }

  /** The next row at event time `nowMs`: mostly fresh readings, plus
    * redelivered duplicates, late rows inside the watermark and, once
    * `allowBeyond`, rows far beyond it. */
  def next(nowMs: Long, allowBeyond: Boolean): KafkaRow = {
    clockMs = math.max(clockMs, nowMs)
    val dice = rnd.nextInt(1000)
    val g =
      if (dice < 20 && recent.nonEmpty) recent(rnd.nextInt(recent.size))
      else if (dice < 40) reading(1 + rnd.nextInt(pools),
        clockMs - 20000 - rnd.nextInt(20000), beyond = false)
      else if (dice < 45 && allowBeyond) reading(1 + rnd.nextInt(pools),
        clockMs - 600000 - rnd.nextInt(60000), beyond = true)
      else reading(1 + rnd.nextInt(pools), clockMs - rnd.nextInt(500),
        beyond = false)
    if (!g.beyondWatermark) {
      recent += g
      if (recent.size > 200) recent.remove(0)
    }
    if (g.valid) silverRows += g
    envelope(g, clockMs)
  }

  /** A valid reading far ahead of every other row: it moves the
    * watermark past every open window. */
  def flush(aheadMs: Long): KafkaRow = {
    val g = reading(1, clockMs + aheadMs, beyond = false).copy(valid = true)
    val fixed = g.copy(payload = g.payload.replace("\"ph\":14.5", "\"ph\":7.0"), ph = 7.0)
    silverRows += fixed.copy(beyondWatermark = true) // in silver, in no window
    envelope(fixed, clockMs)
  }

  def windowStart(ts: Long): Long = ts - Math.floorMod(ts, 60000L)

  /** (pool, window start ms) -> (count, avg ph, max ph, avg chlorine,
    * avg temp, pump sum), over the rows the aggregation keeps. */
  def expectedWindows: Map[(Int, Long), (Long, Double, Double, Double, Double, Double)] =
    silverRows.filter(!_.beyondWatermark)
      .groupBy(g => (g.pool, windowStart(g.tsMs)))
      .map { case (k, gs) =>
        val n = gs.size.toDouble
        k -> (gs.size.toLong, gs.map(_.ph).sum / n, gs.map(_.ph).max,
          gs.map(_.chlorine).sum / n, gs.map(_.temp).sum / n, gs.map(_.pump).sum)
      }
}

object SensorSource {
  final case class Gen(pool: Int, tsMs: Long, payload: String,
      valid: Boolean, beyondWatermark: Boolean, ph: Double,
      chlorine: Double, temp: Double, pump: Double)
}

/** Progress of every micro-batch of the four queries. */
final class ProgressLog extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.synchronized { progress += e.progress }
  def of(name: String): Seq[StreamingQueryProgress] =
    progress.synchronized(progress.filter(_.name == name).toSeq)
  /** Epoch ms at which the batch committed. */
  def commitMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")
  def endOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.endOffset).map(_.trim.toLong).getOrElse(-1L)
  def startOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.startOffset).map(_.trim.toLong).getOrElse(-1L)
}

/** `sensor_stream`: the four-query `SensorStreamJob.start` topology fed
  * through a MemoryStream of Kafka-envelope rows. A closed-loop drain of
  * a backlog in 2,000-row chunks, then an open-loop live phase at a
  * fixed rate. */
object SensorStream {
  val QueryNames = Seq("bronze_sensors", "silver_sensors", "sensors_minute_agg",
    "sensors_enriched")
  val ChunkRows = 2000
  val Speedup = 30.0 // event ms per wall ms
  val AggregatingQueries = Set("sensors_minute_agg", "sensors_enriched")
  val LiveRowsPerSec = 300
  val TopicPartitions = 3

  final case class Sizes(pools: Int, drainChunks: Int, liveSeconds: Int,
      liveRate: Int)

  def sizes(ctx: Main.Ctx): Sizes =
    if (ctx.smoke) Sizes(pools = 20, drainChunks = 2, liveSeconds = 2, liveRate = 100)
    else Sizes(pools = 500, drainChunks = math.max(2, ctx.seconds * 3 / 10),
      liveSeconds = math.max(2, ctx.seconds * 2 / 5), liveRate = LiveRowsPerSec)

  /** Event ms advanced per backlog row: a chunk spans one event minute. */
  val backlogStepMs: Double = 60000.0 / ChunkRows

  final class Setup(val spark: SparkSession, val src: SensorSource,
      val mem: SharedMemoryStream, val queries: Seq[StreamingQuery],
      val progress: ProgressLog, val layout: LakeLayout, var eventMs: Double,
      var chunks: Int)

  private def chunk(s: Setup): Seq[KafkaRow] = {
    val rows = (0 until ChunkRows).map { _ =>
      s.eventMs += backlogStepMs
      s.src.next(s.eventMs.toLong, allowBeyond = s.chunks >= 2)
    }
    s.chunks += 1
    rows
  }

  private def drainRound(s: Setup, tracer: Tracer): Unit = {
    val rows = chunk(s)
    tracer.span(s.spark, "streaming.add_data")(s.mem.addData(rows))
    s.queries.foreach(q => tracer.span(s.spark, s"streaming.wait.${q.name}")(
      q.processAllAvailable()))
  }

  def run(ctx: Main.Ctx): Main.Result = {
    val sz = sizes(ctx)
    // set-up: a fresh session, the static dimensions, the four started
    // queries and one warm-up chunk through all of them. It runs once:
    // over ten runs the cold set-up spread no wider than the median of
    // three set-ups, and the two repeats cost a fifth of a run
    val (s, setupS) = ctx.repeatedSetup(1) { rep =>
      val dir = ctx.work.resolve(s"stream-$rep")
      val spark = ctx.session()
      import spark.implicits._
      val layout = LakeLayout(dir.resolve("lake").toString)
      val src = new SensorSource(ctx.seed, sz.pools)
      // static sides of the stream-static joins
      val dims = dir.resolve("dims")
      (1 to sz.pools).map(p => (p, s"pool-$p", Seq("hotel", "private")(p % 2),
        p % 3 == 0)).toDF("pool_id", "pool_name", "owner_type", "is_heated")
        .write.parquet(dims.resolve("pools").toString)
      val days = Seq("2026-03-01", "2026-03-02")
      (for (d <- days; h <- 0 until 24) yield (d, h, 0.1 + h / 100.0))
        .toDF("date", "hour", "price_eur_kwh")
        .withColumn("date", col("date").cast("date"))
        .write.parquet(dims.resolve("prices").toString)
      val progress = new ProgressLog
      spark.streams.addListener(progress)
      val mem = new SharedMemoryStream(1, spark, TopicPartitions)
      val queries = ctx.tracer.span(spark, "streaming.start") {
        SensorStreamJob.start(spark, layout, mem.toDF(),
          spark.read.parquet(dims.resolve("pools").toString),
          spark.read.parquet(dims.resolve("prices").toString),
          triggerSeconds = 0, watermark = "2 minutes")
      }
      val st = new Setup(spark, src, mem, queries, progress, layout,
        src.eventStartMs.toDouble, 0)
      drainRound(st, ctx.tracer) // warm-up chunk
      st
    } { st =>
      st.queries.foreach(_.stop())
      ctx.stop(st.spark)
    }
    val spark = s.spark
    ctx.heap.sample()
    val meter = if (ctx.traced) Some(new Meter(spark).install()) else None
    ctx.meter = meter
    ctx.progress = Some(s.progress)
    val files0 = parquetFiles(s.layout)

    // drain: closed loop, one chunk per round
    val roundMs = mutable.ArrayBuffer.empty[Double]
    (0 until sz.drainChunks).foreach { k =>
      val t0 = System.nanoTime()
      ctx.tracer.span(spark, "streaming.drain_round") {
        ctx.log.attempt("round", s"drain$k")(drainRound(s, ctx.tracer))
      }
      roundMs += Stats.ms(System.nanoTime() - t0)
    }
    val drainRowsPerS = sz.drainChunks * ChunkRows / (roundMs.sum / 1000)
    val drainFiles = parquetFiles(s.layout) - files0
    val drainMark = meter.map(_.mark())
    // streaming jobs are tagged by query, not by round: take the drain's
    // counters before the live phase adds to them
    val drainCounters = meter.map(_.sum(_ => true))
    ctx.heap.sample()

    // live: open loop at a fixed rate; each add carries the rows that are
    // due, stamped with their due times
    val liveEvent0 = s.eventMs
    val dueByOffset = mutable.Map.empty[Long, Array[Long]]
    val eventByRow = mutable.ArrayBuffer.empty[(Long, Long)] // (event ms, due ms)
    var lagMax = 0L
    var backlogMax = 0L
    val total = sz.liveRate * sz.liveSeconds
    val liveStart = System.currentTimeMillis()
    val silverProgress0 = s.progress.of("silver_sensors").size
    var sent = 0
    // a query that dies fails the phase's wait; the run still reports
    ctx.log.attempt("phase", "live")(ctx.tracer.span(spark, "streaming.live") {
      while (sent < total) {
        val now = System.currentTimeMillis()
        val dueCount = math.min(total, ((now - liveStart) * sz.liveRate / 1000).toInt)
        if (dueCount > sent) {
          val dues = (sent until dueCount).map(i => liveStart + i * 1000L / sz.liveRate)
          val rows = dues.map { d =>
            val ev = liveEvent0 + (d - liveStart) * Speedup
            s.eventMs = ev
            eventByRow += ((ev.toLong, d))
            s.src.next(ev.toLong, allowBeyond = true)
          }
          val off = ctx.tracer.span(spark, "streaming.add_data") {
            s.mem.addData(rows)
          }.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.LongOffset].offset
          dueByOffset(off) = dues.map(_.toLong).toArray
          lagMax = math.max(lagMax, System.currentTimeMillis() - dues.head)
          sent = dueCount
          val done = s.progress.of("silver_sensors").lastOption
            .map(s.progress.endOffset).getOrElse(-1L)
          val pending = dueByOffset.iterator.filter(_._1 > done).map(_._2.length).sum
          backlogMax = math.max(backlogMax, pending.toLong)
        }
        Thread.sleep(5)
      }
      s.queries.foreach(_.processAllAvailable())
    })
    ctx.heap.sample()

    // flush: two rows far ahead close every window of the run
    ctx.log.attempt("phase", "flush")(ctx.tracer.span(spark, "streaming.flush") {
      s.mem.addData(Seq(s.src.flush(600000L)))
      s.queries.foreach(_.processAllAvailable())
      s.mem.addData(Seq(s.src.flush(601000L)))
      s.queries.foreach(_.processAllAvailable())
    })
    ctx.tracer.span(spark, "streaming.stop") { s.queries.reverse.foreach(_.stop()) }
    GraftBridge.waitListenerEmpty(spark)
    spark.streams.removeListener(s.progress)

    check(spark, s).foreach(m => ctx.log.fail("check", "sensor_stream", m))
    // every live micro-batch of the silver query is an op
    val liveSilver = s.progress.of("silver_sensors").drop(silverProgress0)
    liveSilver.foreach(p => ctx.log.ops += Op("microbatch",
      s"silver_sensors#${p.batchId}", ok = true))

    // silver latency: due time of each live row -> commit of the silver
    // batch that holds its offset
    val silverLat = mutable.ArrayBuffer.empty[Double]
    liveSilver.foreach { p =>
      val c = s.progress.commitMs(p)
      (s.progress.startOffset(p) + 1 to s.progress.endOffset(p)).foreach { o =>
        dueByOffset.get(o).foreach(_.foreach(d => silverLat += (c - d).toDouble))
      }
    }
    val alertLat = alertLatencies(s, eventByRow.toSeq)
    val e2e = Map(
      "setup_s" -> (Stats.median(setupS), "s"),
      "round_p50_ms" -> (Stats.median(roundMs.toSeq), "ms"),
      "rows_per_s" -> (drainRowsPerS, "rows/s"),
      "heap_peak_mb" -> (ctx.heap.peakMb, "MB"))
    val workload = Map(
      "drain_rows_per_s" -> (drainRowsPerS, "rows/s"),
      "silver_latency_p50_ms" -> (Stats.median(silverLat.toSeq), "ms"),
      "silver_latency_p99_ms" -> (Stats.quantile(silverLat.toSeq, 0.99), "ms"),
      "alert_latency_p50_ms" -> (Stats.median(alertLat), "ms"),
      "alert_latency_p99_ms" -> (Stats.quantile(alertLat, 0.99), "ms"))

    val layer = mutable.Map.empty[String, (Double, String)]
    layer ++= streamingLayer(s.progress)
    layer("streaming.backlog_max_rows") = (backlogMax.toDouble, "count")
    layer("streaming.generator_lag_ms_max") = (lagMax.toDouble, "ms")
    meter.foreach { m =>
      // spark.* over the drain phase, per round
      val jobs = m.jobsSince((0, 0)).take(drainMark.get._1)
      val acts = m.actionsSince((0, 0)).take(drainMark.get._2)
      layer ++= Layers.spark(m, drainCounters.get, jobs, acts, roundMs.sum,
        sz.drainChunks.toDouble, drainFiles.toDouble)
      layer("trace.round_p50_ms") = (Stats.median(roundMs.toSeq), "ms")
      layer("trace.unattributed_ms") =
        (Layers.unattributed(ctx.tracer, "streaming.drain_round"), "ms")
      m.remove()
    }
    Main.Result(e2e, layer.toMap,
      detail = Map("workload_metrics" -> workload.map { case (k, (v, u)) =>
          k -> Map("value" -> v, "unit" -> u) },
        "round_ms" -> roundMs.toSeq, "setup_s_reps" -> setupS,
        "live_offsets" -> dueByOffset.size,
        "silver_latency_samples" -> silverLat.size,
        "alert_latency_samples" -> alertLat.size),
      sizes = Map("pools" -> sz.pools, "drain_chunks" -> sz.drainChunks,
        "chunk_rows" -> ChunkRows, "live_seconds" -> sz.liveSeconds,
        "live_rows_per_s" -> sz.liveRate, "event_clock_speedup" -> Speedup,
        "trigger" -> "ProcessingTime(0)", "watermark" -> "2 minutes"),
      spark = spark)
  }

  private def parquetFiles(layout: LakeLayout): Long = {
    val root = java.nio.file.Paths.get(layout.root)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val w = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
      } finally w.close()
    }
  }

  /** From the due time of the first live row that moves the enriched
    * query's watermark past a window's end, to the commit of the batch
    * that emits that window. */
  private def alertLatencies(s: Setup, live: Seq[(Long, Long)]): Seq[Double] = {
    val enriched = s.progress.of("sensors_enriched")
      .map(p => (Option(p.eventTime.get("watermark"))
        .map(w => Instant.parse(w).toEpochMilli).getOrElse(0L), s.progress.commitMs(p)))
    val wm = s.src.watermarkMs
    val firstLiveEvent = live.headOption.map(_._1).getOrElse(Long.MaxValue)
    // windows by end; the trigger is the first live row whose event time
    // reaches end + watermark delay, and each emitted window row is one
    // sample (the alert reaches that pool)
    s.src.expectedWindows.keys.groupBy(_._2 + 60000L).toSeq.flatMap {
      case (end, ks) if end + wm > firstLiveEvent =>
        val lat = for {
          t <- live.find(_._1 - wm >= end)
          e <- enriched.find(_._1 >= end)
        } yield (e._2 - t._2).toDouble
        lat.toSeq.flatMap(l => Seq.fill(ks.size)(l))
      case _ => Nil
    }
  }

  private def streamingLayer(p: ProgressLog): Map[String, (Double, String)] =
    QueryNames.flatMap { q =>
      val ps = p.of(q)
      def dur(k: String) = ps.map(x => Option(x.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
      val base = Seq(
        s"streaming.$q.batches" -> (ps.size.toDouble, "count"),
        s"streaming.$q.trigger_ms_p50" -> (Stats.median(dur("triggerExecution")), "ms"),
        s"streaming.$q.add_batch_ms_p50" -> (Stats.median(dur("addBatch")), "ms"),
        s"streaming.$q.wal_commit_ms_p50" -> (Stats.median(dur("walCommit")), "ms"),
        s"streaming.$q.planning_ms_p50" -> (Stats.median(dur("queryPlanning")), "ms"),
        s"streaming.$q.input_rows" -> (ps.map(_.numInputRows.toDouble).sum, "count"))
      val state = if (AggregatingQueries.contains(q)) {
        val ops = ps.flatMap(_.stateOperators.toSeq)
        Seq(
          s"streaming.$q.state_rows_max" -> (ops.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0), "count"),
          s"streaming.$q.state_bytes_max" -> (ops.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0), "bytes"),
          s"streaming.$q.rows_dropped_by_watermark" -> (ops.map(_.numRowsDroppedByWatermark.toDouble).sum, "count"))
      } else Nil
      base ++ state
    }.toMap

  /** Silver row count and the final window aggregates against the
    * generator's expectation. */
  def check(spark: SparkSession, s: Setup): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val silver = spark.read.parquet(s.layout.silver("sensors")).count()
    if (silver != s.src.silverRows.size)
      bad += s"silver rows $silver != ${s.src.silverRows.size}"
    val want = s.src.expectedWindows
    val got = spark.read.parquet(s.layout.gold("sensors_enriched"))
      .select(col("pool_id"), col("window_start"), col("num_readings"),
        col("avg_ph"), col("max_ph"), col("avg_chlorine"), col("avg_temp"),
        col("pump_kwh_sum")).collect()
      .map(r => (r.getInt(0), r.getTimestamp(1).getTime) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7))).toMap
    if (got.size != want.size) bad += s"enriched windows ${got.size} != ${want.size}"
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    val wrong = want.count { case (k, w) =>
      got.get(k).forall(g => g._1 != w._1 || !close(g._2, w._2) ||
        !close(g._3, w._3) || !close(g._4, w._4) || !close(g._5, w._5) ||
        !close(g._6, w._6))
    }
    if (wrong > 0) bad += s"$wrong window aggregates differ"
    bad.toSeq
  }
}
