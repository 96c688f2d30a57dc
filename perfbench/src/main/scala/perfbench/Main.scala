package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.Sessions

/** Entry point of the pipeline benchmark.
  *
  * {{{
  * Main --workload <batch_daily|sensor_stream|catalog_hot> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> [--size full|smoke]
  *      [--sf-dir <dir>] [--expected <file>]
  * Main --digests --from <verify-out-dir>
  * }}}
  *
  * Prints the full record as one JSON line prefixed `PERFBENCH_RECORD `
  * and writes it (plus spans in traced runs) under the work dir.
  */
object Main {
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
    def flag(k: String): Boolean = m.get(k).contains("true")
  }

  def parse(args: Array[String]): Args = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        m(k) = args(i + 1); i += 2
      } else { m(k) = "true"; i += 1 }
    }
    Args(m.toMap)
  }

  /** Everything a workload needs from the harness. */
  final class Ctx(val args: Args) {
    val workload: String = args("workload")
    val seed: Long = args("seed").toLong
    val seconds: Int = args("seconds").toInt
    val traced: Boolean = args("trace") == "1"
    val smoke: Boolean = args.get("size").contains("smoke")
    val cores: Int = Runtime.getRuntime.availableProcessors()
    val work: Path = Paths.get(args("work")).toAbsolutePath
    val log = new OpLog
    val heap = new HeapProbe
    val tracer = new Tracer(traced, s"$workload-$seed-${System.currentTimeMillis()}")
    /** Set by traced runs; their jobs and micro-batches become child spans. */
    var meter: Option[Meter] = None
    var progress: Option[ProgressLog] = None

    /** A fresh session from the product's factory, as `JobMains` makes it. */
    def session(): SparkSession =
      Sessions.local(cores = cores, appName = s"perfbench-$workload")

    def stop(s: SparkSession): Unit = {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    /** Runs `once` `reps` times and keeps the last result; the earlier
      * ones are torn down with `teardown`. Returns the result and the
      * set-up wall times in seconds. */
    def repeatedSetup[T](reps: Int)(once: Int => T)(teardown: T => Unit)
        : (T, Seq[Double]) = {
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var last: Option[T] = None
      (1 to reps).foreach { rep =>
        last.foreach(teardown)
        val t0 = System.nanoTime()
        last = Some(once(rep))
        times += (System.nanoTime() - t0) / 1e9
      }
      (last.get, times.toSeq)
    }
  }

  /** What a workload hands back: end-to-end metrics, per-layer metrics
    * (traced runs) and free-form detail for the record. */
  final case class Result(endToEnd: Map[String, (Double, String)],
      perLayer: Map[String, (Double, String)],
      detail: Map[String, Any], sizes: Map[String, Any],
      spark: SparkSession)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    if (args.flag("digests")) { Digests.main(args); return }
    val ctx = new Ctx(args)
    Files.createDirectories(ctx.work)
    val cpu0 = CpuTicks.read()
    val res = ctx.workload match {
      case "batch_daily" => BatchDaily.run(ctx)
      case "sensor_stream" => SensorStream.run(ctx)
      case "catalog_hot" => CatalogHotRun.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spark = res.spark
    val prov = Provenance(spark, ctx) ++ Map("sizes" -> res.sizes,
      "cpu_steal_pct" -> CpuTicks.stealPct(cpu0, CpuTicks.read()))
    val perLayer = if (ctx.traced) Layers.complete(res.perLayer) else Map.empty[String, (Double, String)]
    val errorRate =
      if (ctx.log.attempted == 0) 1.0
      else ctx.log.failed.toDouble / ctx.log.attempted
    def metricJson(m: Map[String, (Double, String)]) =
      m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap
    val record = Map(
      "workload" -> ctx.workload,
      "seed" -> ctx.seed,
      "trace" -> ctx.traced,
      "correct" -> (ctx.log.failed == 0 && ctx.log.attempted > 0),
      "attempted" -> ctx.log.attempted,
      "failed" -> ctx.log.failed,
      "error_rate" -> errorRate,
      "failures" -> ctx.log.failures,
      "metrics" -> metricJson(if (ctx.traced) perLayer else res.endToEnd),
      "end_to_end" -> metricJson(res.endToEnd),
      "per_layer" -> metricJson(perLayer),
      "detail" -> (res.detail + ("heap_samples_mb" -> ctx.heap.samples.toSeq)),
      "provenance" -> prov)
    val json = Json(record)
    Files.writeString(ctx.work.resolve("record.json"), json)
    if (ctx.traced) writeSpans(ctx)
    spark.stop()
    println("PERFBENCH_RECORD " + json)
  }

  /** Writes the traced run's spans, one JSON object a line: the
    * benchmark's spans around its calls into each layer, the Spark jobs
    * they started (children through the span local property) and the
    * streaming micro-batches. Times are epoch ms. */
  private def writeSpans(ctx: Ctx): Unit = {
    val t = ctx.tracer
    def line(id: String, name: String, parent: String, start: Double,
        end: Double) = Json(Map("run_id" -> t.runId, "id" -> id,
      "name" -> name, "parent" -> parent, "start_ms" -> start, "end_ms" -> end))
    val harness = t.spans.sortBy(_.startNs).map(s => line(s.id.toString,
      s.name, s.parent.toString, s.startEpochMs.toDouble,
      s.startEpochMs + (s.endNs - s.startNs) / 1e6))
    val jobs = ctx.meter.toSeq.flatMap(_.jobsSince((0, 0))).map(j =>
      line(s"job-${j.id}", if (j.streamQuery.nonEmpty) "spark.job.stream" else "spark.job",
        if (j.span.nonEmpty) j.span else "0", j.startMs.toDouble, j.endMs.toDouble))
    val batches = ctx.progress.toSeq.flatMap(p => p.progress.synchronized(p.progress.toSeq))
      .map(p => line(s"batch-${p.name}-${p.batchId}", s"streaming.${p.name}.batch", "0",
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        java.time.Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.get("triggerExecution").toDouble))
    Files.writeString(ctx.work.resolve("spans.jsonl"),
      (harness ++ jobs ++ batches).mkString("", "\n", "\n"))
  }
}

/** Machine-wide CPU ticks from /proc/stat: a run on a shared virtual
  * machine records how much CPU time the host took away (steal), so a
  * slow run can be told from a slow program. */
object CpuTicks {
  /** (steal, total) ticks; (0, 0) where /proc/stat is unavailable. */
  def read(): (Long, Long) = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  } catch { case _: Exception => (0L, 0L) }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) 100.0 * (b._1 - a._1) / (b._2 - a._2) else 0.0
}

/** Stamps a record with what ran: versions, confs, sizes and an MD5 of
  * the compiled classes (the scheme of `graft.Bench.classesSha`). */
object Provenance {
  def apply(spark: SparkSession, ctx: Main.Ctx): Map[String, Any] = {
    val confs = spark.conf.getAll.toSeq
      .filter { case (k, _) => k.startsWith("spark.sql.") ||
        k == "spark.master" || k.startsWith("spark.default") }
      .sortBy(_._1).toMap
    Map(
      "seed" -> ctx.seed,
      "nproc" -> ctx.cores,
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.version"),
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "spark_confs" -> confs,
      "classes_md5" -> graft.Bench.classesSha(),
      "size" -> (if (ctx.smoke) "smoke" else "full"),
      "seconds" -> ctx.seconds)
  }
}
