package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.{DriverManager, Timestamp}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.batch.{ElectricityBatchJob, StructuredBatchJob}
import graft.core.{LakeLayout, TableIO}
import graft.model.Schemas
import graft.sources.{IncrementalJdbc, JdbcWatermark}

/** Seeded source data for `batch_daily`, with a Spark-free ground truth.
  *
  * EP1 source: an embedded Derby database holding `pools_dim` and
  * `maintenance_events` without key constraints, so duplicate ids exist
  * in the source. Each day inserts new rows, re-inserts some event ids
  * and updates some pools with a later `updated_at` (late updates), and
  * adds orphan pool ids and unknown intervention types, which silver
  * must drop. Every row gets a distinct `updated_at`, as the watermark's
  * (updated_at, pk) order requires.
  *
  * EP2 source: Hive-style `date=` CSV landing partitions in one of the
  * A, B or C schema variants (chosen by the seed: the variant dispatch
  * is per read, so one landing root holds one variant). Each date holds
  * three files with overlapping hours; from the second day on, one late
  * file is re-landed into the previous date, which the `>=` date
  * watermark re-reads.
  */
final class BatchSource(seed: Long, work: Path, val pools0: Int,
    val historyDays: Int, val eventsPerDay: Int) {
  private val rnd = new scala.util.Random(seed)
  val url = s"jdbc:derby:${work.resolve("derby")}/db;create=true"
  val landing: Path = work.resolve("landing")
  val variant: String = Seq("A", "B", "C")((seed % 3).toInt.abs)
  val day0: LocalDate = LocalDate.of(2026, 1, 1)

  import BatchSource._

  // ground truth state
  val pools = mutable.Map.empty[Int, PoolRow] // latest version per id
  val events = mutable.Map.empty[Int, EventRow] // latest version per id
  val prices = mutable.Map.empty[(String, Int), Double] // (date, hour)
  private val csvRowsByDay = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private var nextPool = 1
  private var nextEvent = 1
  private var clockMicros = 0L
  var sourceBytes = 0L

  // rows the last day delivered: JDBC rows, and the rows of the two
  // landing dates EP2 reads (the new date and the re-read boundary)
  var lastDayJdbcRows = 0L
  var lastDayCsvRows = 0L

  private def stamp(day: Int): Timestamp = {
    clockMicros += 1 + rnd.nextInt(997)
    val t = Timestamp.valueOf(day0.plusDays(day.toLong).atStartOfDay()
      .plusNanos(clockMicros * 1000L))
    t
  }

  private val owners = Seq("hotel", "private", "community", "sports_center", "airbnb")
  private val products = Seq("dichloro", "trichloro", "acid", "sodium")

  private def exec(c: java.sql.Connection, sql: String): Unit = {
    val st = c.createStatement(); try st.execute(sql) finally st.close()
  }

  def create(): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      exec(c, """CREATE TABLE pools_dim (pool_id INT, pool_name VARCHAR(64),
        location VARCHAR(32), volume_liters INT, is_heated BOOLEAN,
        owner_type VARCHAR(32), updated_at TIMESTAMP)""")
      exec(c, """CREATE TABLE maintenance_events (id INT, pool_id INT,
        event_time TIMESTAMP, intervention_type VARCHAR(32),
        product_type VARCHAR(32), product_amount DOUBLE, notes VARCHAR(64),
        updated_at TIMESTAMP)""")
    } finally c.close()
  }

  private def newPool(day: Int, id: Int): PoolRow =
    PoolRow(id, s"pool-$id-v$day", s"city-${rnd.nextInt(20)}",
      10000 + 1000 * rnd.nextInt(60), rnd.nextBoolean(),
      owners(rnd.nextInt(owners.size)), stamp(day))

  private def newEvent(day: Int, id: Int, pool: Int, kind: String): EventRow = {
    val t = Timestamp.valueOf(day0.plusDays(day.toLong).atStartOfDay()
      .plusSeconds(rnd.nextInt(86400).toLong))
    val amount = if (rnd.nextInt(10) == 0) None
      else Some(math.round(rnd.nextDouble() * 500) / 100.0)
    EventRow(id, pool, t, kind, Some(products(rnd.nextInt(products.size))),
      amount, if (rnd.nextBoolean()) Some(s"note $id") else None, stamp(day))
  }

  private def kind(): String =
    Schemas.interventionTypes(rnd.nextInt(Schemas.interventionTypes.size))

  /** Mutates the database for one day (day 0 .. historyDays-1 is the
    * bootstrap history) and lands that day's CSV partition. */
  def mutate(day: Int, bootstrap: Boolean): Unit = {
    val c = DriverManager.getConnection(url)
    c.setAutoCommit(false)
    val poolIns = c.prepareStatement(
      "INSERT INTO pools_dim VALUES (?, ?, ?, ?, ?, ?, ?)")
    val evIns = c.prepareStatement(
      "INSERT INTO maintenance_events VALUES (?, ?, ?, ?, ?, ?, ?, ?)")
    var jdbcRows = 0L
    def insPool(p: PoolRow, truth: Boolean): Unit = {
      poolIns.setInt(1, p.id); poolIns.setString(2, p.name)
      poolIns.setString(3, p.location); poolIns.setInt(4, p.volume)
      poolIns.setBoolean(5, p.heated); poolIns.setString(6, p.owner)
      poolIns.setTimestamp(7, p.updated); poolIns.addBatch()
      if (truth) pools(p.id) = p
      sourceBytes += s"${p.id},${p.name},${p.location},${p.volume},${p.heated},${p.owner},${p.updated}\n".length
      jdbcRows += 1
    }
    def insEvent(e: EventRow, valid: Boolean): Unit = {
      evIns.setInt(1, e.id); evIns.setInt(2, e.pool)
      evIns.setTimestamp(3, e.time); evIns.setString(4, e.kind)
      e.product.fold(evIns.setNull(5, java.sql.Types.VARCHAR))(evIns.setString(5, _))
      e.amount.fold(evIns.setNull(6, java.sql.Types.DOUBLE))(evIns.setDouble(6, _))
      e.notes.fold(evIns.setNull(7, java.sql.Types.VARCHAR))(evIns.setString(7, _))
      evIns.setTimestamp(8, e.updated); evIns.addBatch()
      if (valid) events(e.id) = e else events.remove(e.id)
      sourceBytes += s"${e.id},${e.pool},${e.time},${e.kind},${e.product.getOrElse("")},${e.amount.getOrElse("")},${e.notes.getOrElse("")},${e.updated}\n".length
      jdbcRows += 1
    }
    try {
      val newPools = if (day == 0) pools0 else rnd.nextInt(2)
      (0 until newPools).foreach { _ =>
        insPool(newPool(day, nextPool), truth = true); nextPool += 1 }
      if (day > 0) {
        // duplicate pool ids: a later version of existing pools
        (0 until 1 + rnd.nextInt(2)).foreach { _ =>
          val id = 1 + rnd.nextInt(nextPool - 1)
          insPool(newPool(day, id), truth = true)
        }
      }
      val n = eventsPerDay
      (0 until n).foreach { _ =>
        val e = newEvent(day, nextEvent, 1 + rnd.nextInt(nextPool - 1), kind())
        insEvent(e, valid = true); nextEvent += 1
      }
      // orphan foreign keys and unknown types: silver drops them
      (0 until n / 50 + 1).foreach { _ =>
        insEvent(newEvent(day, nextEvent, 1000000 + rnd.nextInt(1000), kind()),
          valid = false); nextEvent += 1
        insEvent(newEvent(day, nextEvent, 1 + rnd.nextInt(nextPool - 1),
          "bogus_type"), valid = false); nextEvent += 1
      }
      // late updates: duplicate event ids re-inserted with a later
      // updated_at and new values (latest wins)
      if (nextEvent > 10) (0 until n / 20 + 1).foreach { _ =>
        val id = 1 + rnd.nextInt(nextEvent - 1)
        events.get(id).foreach { old =>
          val e = newEvent(day, id, old.pool, kind())
            .copy(time = old.time)
          insEvent(e, valid = true)
        }
      }
      poolIns.executeBatch(); evIns.executeBatch()
      c.commit()
    } finally { poolIns.close(); evIns.close(); c.close() }
    lastDayJdbcRows = jdbcRows
    land(day)
    if (!bootstrap && day > 0) reland(day - 1)
    lastDayCsvRows = csvRowsByDay(day) + csvRowsByDay(day - 1)
  }

  private def dateStr(day: Int) = day0.plusDays(day.toLong).toString

  /** Price rows for some hours of a date, in the run's variant. One
    * region: variants B and C carry none (it defaults to ES), and every
    * variant must deliver the same rows. */
  private def csvRows(day: Int, hours: Seq[Int], bump: Double): Seq[(Int, Double, String)] = {
    val d = dateStr(day)
    hours.map { h =>
      val p = math.round((40 + rnd.nextDouble() * 100 + bump) * 100) / 100.0
      val line = variant match {
        case "A" => f"${d}T$h%02d:00:00Z,$h,$p,${p / 1000.0}%.6f,ES,synthetic"
        case "B" => f"$d $h%02d:00:00,$p"
        case _ => s"$h,$p"
      }
      (h, p, line)
    }
  }

  private def header = variant match {
    case "A" => "ts_utc,hour,price_eur_mwh,price_eur_kwh,region,source"
    case "B" => "ts,price_eur_mwh"
    case _ => "hour,price_eur_mwh"
  }

  /** Writes one CSV file; later file names win latest-file-wins dedup. */
  private def writeFile(day: Int, name: String, rows: Seq[(Int, Double, String)]): Unit = {
    val dir = landing.resolve(s"date=${dateStr(day)}")
    Files.createDirectories(dir)
    val body = (header +: rows.map(_._3)).mkString("", "\n", "\n")
    Files.write(dir.resolve(name), body.getBytes(UTF_8))
    sourceBytes += body.length
    csvRowsByDay(day) += rows.size
    rows.foreach { case (h, p, _) => prices((dateStr(day), h)) = p }
  }

  /** Three files per date with overlapping hours. */
  private def land(day: Int): Unit = {
    writeFile(day, "part-00.csv", csvRows(day, 0 until 12, 0))
    writeFile(day, "part-01.csv", csvRows(day, 8 until 20, 5))
    writeFile(day, "part-02.csv", csvRows(day, 16 until 24, 10))
  }

  /** The late file: corrected prices for some hours of an earlier date. */
  private def reland(day: Int): Unit =
    writeFile(day, "part-late.csv", csvRows(day, 4 until 10, 20))

  /** Closes the embedded database (Derby reports success as an error). */
  def shutdown(): Unit =
    try DriverManager.getConnection(url.replace(";create=true", ";shutdown=true"))
    catch { case _: java.sql.SQLException => () }

  def maxEventId: Int = nextEvent - 1
  def maxPoolId: Int = nextPool - 1

  /** Expected gold daily metrics: (pool, date) -> (n_events, cost). */
  def expectedDaily: Map[(Int, String), (Long, Double)] = {
    val valid = events.values.filter(e => pools.contains(e.pool))
    valid.groupBy(e => (e.pool, e.time.toLocalDateTime.toLocalDate.toString))
      .map { case (k, es) =>
        val cost = es.toSeq.map { e =>
          val p = pools(e.pool)
          e.kind match {
            case "chlorine" => e.amount.getOrElse(0.0) * 3.5
            case "refill" => p.volume / 1000.0 * 1.8
            case "ph_correction" => e.amount.getOrElse(0.0) * 2.1
            case "filter_backwash" => 4.0
            case _ => 0.0
          }
        }.sum
        k -> (es.size.toLong, cost)
      }
  }

  def expectedSilverEvents: Long =
    events.values.count(e => pools.contains(e.pool)).toLong

  /** Expected electricity daily stats: (date, region) -> (n, sum). */
  def expectedElectricity: Map[(String, String), (Long, Double)] =
    prices.groupBy { case ((d, _), _) => (d, "ES") }
      .map { case (k, m) => k -> (m.size.toLong, m.values.sum) }
}

object BatchSource {
  final case class PoolRow(id: Int, name: String, location: String,
      volume: Int, heated: Boolean, owner: String, updated: Timestamp)
  final case class EventRow(id: Int, pool: Int, time: Timestamp,
      kind: String, product: Option[String], amount: Option[Double],
      notes: Option[String], updated: Timestamp)
}

/** `batch_daily`: one bootstrap day over the generated history, then K
  * incremental days; each day runs EP1 (JDBC → watermark →
  * StructuredBatchJob) and EP2 (ElectricityBatchJob). */
object BatchDaily {
  final case class Sizes(pools: Int, historyDays: Int, eventsPerDay: Int,
      days: Int)

  /** The paper's batch volume: the source database's seed of 5 pools and
    * 16 maintenance events, 24 price rows a day over a 30-day history.
    * The paper has no daily event generator; each day here adds the
    * seed's 16 events. */
  def sizes(ctx: Main.Ctx): Sizes =
    if (ctx.smoke) Sizes(pools = 5, historyDays = 2, eventsPerDay = 16, days = 2)
    else Sizes(pools = 5, historyDays = 30, eventsPerDay = 16,
      days = math.max(2, ctx.seconds * 3 / 10))

  final class Day(spark: SparkSession, src: BatchSource, layout: LakeLayout,
      tracer: Tracer, cores: Int) {
    var wmPools: Option[JdbcWatermark] = None
    var wmEvents: Option[JdbcWatermark] = None

    def run(): Unit = {
      val props = Map("driver" -> "org.apache.derby.iapi.jdbc.AutoloadedDriver")
      val (pools, events) = tracer.span(spark, "sources.jdbc_read") {
        (IncrementalJdbc.readPartitioned(spark, src.url, "pools_dim",
          "updated_at", "pool_id", wmPools, 1L, src.maxPoolId.toLong, cores,
          IncrementalJdbc.AnsiCastDialect, props),
        IncrementalJdbc.readPartitioned(spark, src.url, "maintenance_events",
          "updated_at", "id", wmEvents, 1L, src.maxEventId.toLong, cores,
          IncrementalJdbc.AnsiCastDialect, props))
      }
      val (np, ne) = tracer.span(spark, "sources.watermark") {
        (IncrementalJdbc.nextWatermark(pools, "updated_at_str", "pool_id", wmPools),
          IncrementalJdbc.nextWatermark(events, "updated_at_str", "id", wmEvents))
      }
      tracer.span(spark, "batch.ep1") {
        StructuredBatchJob.run(spark, layout, pools.drop("updated_at_str"),
          events.drop("updated_at_str"))
      }
      wmPools = np; wmEvents = ne
      tracer.span(spark, "batch.ep2") {
        ElectricityBatchJob.run(spark, layout, src.landing.toString)
      }
    }
  }

  /** Compares the lake with the generator's ground truth; returns the
    * mismatches. */
  def check(spark: SparkSession, src: BatchSource, layout: LakeLayout): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val sp = TableIO.readSnapshot(spark, layout.silver("pools_dim")).count()
    if (sp != src.pools.size) bad += s"silver pools $sp != ${src.pools.size}"
    val se = TableIO.readSnapshot(spark, layout.silver("maintenance_events")).count()
    if (se != src.expectedSilverEvents)
      bad += s"silver events $se != ${src.expectedSilverEvents}"
    val daily = TableIO.readSnapshot(spark, layout.gold("daily_metrics"))
      .select(col("pool_id"), col("event_date").cast("string"),
        col("n_events"), col("total_cost_eur")).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val want = src.expectedDaily
    if (daily.size != want.size) bad += s"gold daily rows ${daily.size} != ${want.size}"
    val wrong = want.count { case (k, (n, c)) =>
      daily.get(k).forall { case (gn, gc) => gn != n || math.abs(gc - c) > 1e-3 }
    }
    if (wrong > 0) bad += s"$wrong gold (pool, day) cost sums differ"
    val elec = TableIO.read(spark, layout, layout.gold("electricity_daily"))
      .select(col("date").cast("string"), col("region"), col("n_hours"),
        col("sum_price")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val ewant = src.expectedElectricity
    if (elec.size != ewant.size) bad += s"electricity daily rows ${elec.size} != ${ewant.size}"
    val ewrong = ewant.count { case (k, (n, s)) =>
      elec.get(k).forall { case (gn, gs) => gn != n || math.abs(gs - s) > 1e-3 }
    }
    if (ewrong > 0) bad += s"$ewrong electricity (date, region) sums differ"
    val silverE = TableIO.read(spark, layout, layout.silver("electricity_prices")).count()
    if (silverE != src.prices.size) bad += s"silver prices $silverE != ${src.prices.size}"
    bad.toSeq
  }

  def run(ctx: Main.Ctx): Main.Result = {
    val sz = sizes(ctx)
    final class Setup(val spark: SparkSession, val src: BatchSource,
        val layout: LakeLayout, val dir: Path)
    // set-up: a fresh session, the Derby database with the history and
    // the history's landing partitions
    val (st, setupS) = ctx.repeatedSetup(3) { rep =>
      val dir = ctx.work.resolve(s"batch-$rep")
      val spark = ctx.session()
      val src = new BatchSource(ctx.seed, dir, sz.pools, sz.historyDays,
        sz.eventsPerDay)
      src.create()
      (0 until sz.historyDays).foreach(d => src.mutate(d, bootstrap = true))
      new Setup(spark, src, LakeLayout(dir.resolve("lake").toString), dir)
    } { s =>
      ctx.stop(s.spark)
      s.src.shutdown()
      Files2.deleteTree(s.dir)
    }
    val spark = st.spark
    val src = st.src
    ctx.heap.sample()
    val meter = if (ctx.traced) Some(new Meter(spark).install()) else None
    ctx.meter = meter
    val day = new Day(spark, src, st.layout, ctx.tracer, ctx.cores)

    val t0 = System.nanoTime()
    ctx.tracer.span(spark, "bootstrap") {
      ctx.log.attempt("day", "bootstrap")(day.run())
    }
    val bootstrapS = (System.nanoTime() - t0) / 1e9
    ctx.heap.sample()

    val dayMs = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var jdbcRows = 0L
    val m0 = meter.map(_.mark())
    val spans0 = ctx.tracer.spans.size
    (0 until sz.days).foreach { k =>
      src.mutate(sz.historyDays + k, bootstrap = false)
      rows += src.lastDayJdbcRows + src.lastDayCsvRows
      jdbcRows += src.lastDayJdbcRows
      val t = System.nanoTime()
      ctx.tracer.span(spark, "day") {
        ctx.log.attempt("day", s"day${k + 1}")(day.run())
      }
      dayMs += Stats.ms(System.nanoTime() - t)
    }
    val m1 = meter.map(_.mark())
    check(spark, src, st.layout).foreach(m => ctx.log.fail("check", "final", m))
    ctx.heap.sample()
    val lakeBytes = Files2.treeBytes(java.nio.file.Paths.get(st.layout.root))

    val dayP50 = Stats.median(dayMs.toSeq)
    val rowsPerS = rows / (dayMs.sum / 1000)
    val e2e = Map(
      "setup_s" -> (Stats.median(setupS), "s"),
      "round_p50_ms" -> (dayP50, "ms"),
      "rows_per_s" -> (rowsPerS, "rows/s"),
      "heap_peak_mb" -> (ctx.heap.peakMb, "MB"))
    val workload = Map(
      "bootstrap_s" -> (bootstrapS, "s"),
      "day_p50_s" -> (dayP50 / 1000, "s"),
      "stored_bytes_per_input_byte" -> (lakeBytes.toDouble / src.sourceBytes, "ratio"))

    val layer = mutable.Map.empty[String, (Double, String)]
    meter.foreach { m =>
      val n = sz.days.toDouble
      val jobs = m.jobsSince(m0.get).take(m1.get._1 - m0.get._1)
      val acts = m.actionsSince(m0.get).take(m1.get._2 - m0.get._2)
      val daySpans = ctx.tracer.spans.drop(spans0).map(_.id.toString).toSet
      layer ++= Layers.spark(m, m.sum(daySpans.contains), jobs, acts, dayMs.sum, n,
        acts.map(_.filesWritten).sum.toDouble)
      layer ++= Layers.core(acts, n)
      layer ++= layers(ctx.tracer, spans0, acts, n, jdbcRows, rows)
      layer("trace.round_p50_ms") = (dayP50, "ms")
      layer("trace.unattributed_ms") = (Layers.unattributed(ctx.tracer, "day"), "ms")
      m.remove()
    }
    Main.Result(e2e, layer.toMap,
      detail = Map("workload_metrics" -> workload.map { case (k, (v, u)) =>
          k -> Map("value" -> v, "unit" -> u) },
        "day_ms" -> dayMs.toSeq, "setup_s_reps" -> setupS),
      sizes = Map("pools" -> sz.pools, "history_days" -> sz.historyDays,
        "events_per_day" -> sz.eventsPerDay,
        "incremental_days" -> sz.days, "csv_variant" -> src.variant,
        "jdbc_partitions" -> ctx.cores),
      spark = spark)
  }

  /** `sources.*` and `batch.*` per incremental day. An action belongs to
    * EP2 when it touches the landing zone or an electricity table, else
    * to EP1; its medallion layer is the lake path it writes, or else the
    * most downstream lake path it reads. */
  def layers(t: Tracer, fromSpan: Int, acts: Seq[ActionRec], n: Double,
      jdbcRows: Long, rows: Long): Map[String, (Double, String)] = {
    val spans = t.spans.drop(fromSpan)
    def spanMs(name: String) =
      spans.filter(_.name == name).map(s => Stats.ms(s.endNs - s.startNs)).sum
    def paths(a: ActionRec) = a.writePath.toSeq ++ a.readPaths
    def layerOf(a: ActionRec): String =
      Seq("gold", "silver", "bronze").find(l => paths(a).exists(_.contains(s"/$l/")))
        .getOrElse("other")
    def ep2(a: ActionRec) = paths(a).exists(p =>
      p.contains("electricity") || p.contains("landing"))
    def ms(ep: Boolean, l: String) =
      acts.filter(a => ep2(a) == ep && layerOf(a) == l).map(_.durationMs).sum / n
    // EP1's data-quality asserts read silver and write nothing
    val dq = acts.filter(a => !ep2(a) && a.writePath.isEmpty && !a.readsJdbc &&
      layerOf(a) == "silver").map(_.durationMs).sum / n
    val csv = acts.filter(_.csvFilesRead > 0)
    val silverRows = acts.filter(_.writePath.exists(_.contains("/silver/")))
      .map(_.rowsWritten).sum
    // partitions read per day over partitions that got new files that day
    // (the new date, plus the previous date's late file)
    val newPartitions = 2.0
    Map(
      "sources.jdbc_read_ms" -> (acts.filter(_.readsJdbc).map(_.durationMs).sum / n, "ms"),
      "sources.jdbc_rows" -> (jdbcRows / n, "count"),
      "sources.watermark_ms" -> (spanMs("sources.watermark") / n, "ms"),
      "sources.csv_scan_ms" -> (csv.map(_.durationMs).sum / n, "ms"),
      "sources.csv_files_read" -> (csv.map(_.csvFilesRead).sum / n, "count"),
      "sources.csv_prune_ratio" -> (csv.map(_.csvPartitionsRead).sum / n / newPartitions, "ratio"),
      "batch.ep1.bronze_ms" -> (ms(ep = false, "bronze"), "ms"),
      "batch.ep1.silver_ms" -> (ms(ep = false, "silver"), "ms"),
      "batch.ep1.gold_ms" -> (ms(ep = false, "gold"), "ms"),
      "batch.ep1.dq_ms" -> (dq, "ms"),
      "batch.ep2.bronze_ms" -> (ms(ep = true, "bronze"), "ms"),
      "batch.ep2.silver_ms" -> (ms(ep = true, "silver"), "ms"),
      "batch.ep2.gold_ms" -> (ms(ep = true, "gold"), "ms"),
      "batch.silver_rows_rewritten_per_new_row" -> (silverRows.toDouble / rows, "ratio"))
  }
}
