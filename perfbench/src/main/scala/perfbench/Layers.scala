package perfbench

/** Per-layer metrics, named after the repository's packages. Every
  * traced run reports the whole registered set: a layer a workload does
  * not use reads 0, which is its prediction for that workload. */
object Layers {
  type Metrics = Map[String, (Double, String)]

  val sparkNames: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.in_job_ms" -> "ms",
    "spark.driver_only_ms" -> "ms", "spark.planning_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.files_written" -> "count")

  val sourcesNames: Seq[(String, String)] = Seq(
    "sources.jdbc_read_ms" -> "ms", "sources.jdbc_rows" -> "count",
    "sources.watermark_ms" -> "ms", "sources.csv_scan_ms" -> "ms",
    "sources.csv_files_read" -> "count", "sources.csv_prune_ratio" -> "ratio")

  val batchNames: Seq[(String, String)] = Seq(
    "batch.ep1.bronze_ms", "batch.ep1.silver_ms", "batch.ep1.gold_ms",
    "batch.ep1.dq_ms", "batch.ep2.bronze_ms", "batch.ep2.silver_ms",
    "batch.ep2.gold_ms").map(_ -> "ms") :+
    ("batch.silver_rows_rewritten_per_new_row" -> "ratio")

  val coreNames: Seq[(String, String)] = Seq(
    "core.commits" -> "count", "core.files_written" -> "count",
    "core.bytes_written" -> "bytes", "core.write_ms" -> "ms",
    "core.read_ms" -> "ms")

  val streamingNames: Seq[(String, String)] =
    SensorStream.QueryNames.flatMap { q =>
      Seq(s"streaming.$q.batches" -> "count",
        s"streaming.$q.trigger_ms_p50" -> "ms",
        s"streaming.$q.add_batch_ms_p50" -> "ms",
        s"streaming.$q.wal_commit_ms_p50" -> "ms",
        s"streaming.$q.planning_ms_p50" -> "ms",
        s"streaming.$q.input_rows" -> "count") ++
        (if (SensorStream.AggregatingQueries.contains(q))
          Seq(s"streaming.$q.state_rows_max" -> "count",
            s"streaming.$q.state_bytes_max" -> "bytes",
            s"streaming.$q.rows_dropped_by_watermark" -> "count")
        else Nil)
    } ++ Seq("streaming.backlog_max_rows" -> "count",
      "streaming.generator_lag_ms_max" -> "ms")

  val traceNames: Seq[(String, String)] = Seq(
    "trace.round_p50_ms" -> "ms", "trace.unattributed_ms" -> "ms")

  val catalogNames: Seq[(String, String)] =
    CatalogHot.classes.map(_._1).flatMap(c => Seq(
      s"catalog.$c.wall_s" -> "s", s"catalog.$c.jobs" -> "count",
      s"catalog.$c.driver_only_ms" -> "ms",
      s"catalog.$c.executor_cpu_ms" -> "ms",
      s"catalog.$c.shuffle_bytes" -> "bytes",
      s"catalog.$c.files_written" -> "count")) ++
      CatalogHot.ids.map(id => s"catalog.$id.wall_s" -> "s")

  /** Every name, in report order. */
  val all: Seq[(String, String)] = sparkNames ++ sourcesNames ++ batchNames ++
    coreNames ++ streamingNames ++ catalogNames ++ traceNames

  /** `measured` completed with zeros for every layer not measured. */
  def complete(measured: Metrics): Metrics = {
    val unknown = measured.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"unregistered per-layer metrics: $unknown")
    all.map { case (n, u) => n -> measured.getOrElse(n, (0.0, u)) }.toMap
  }

  /** `spark.*`, per round, from the counters `c` of the measured rounds. */
  def spark(m: Meter, c: Counters, jobs: Seq[JobRec], acts: Seq[ActionRec],
      wallMs: Double, rounds: Double, filesWritten: Double): Metrics = {
    val inJob = m.inJobMs(jobs)
    Map(
      "spark.jobs" -> (c.jobs / rounds, "count"),
      "spark.stages" -> (c.stages / rounds, "count"),
      "spark.tasks" -> (c.tasks / rounds, "count"),
      "spark.in_job_ms" -> (inJob / rounds, "ms"),
      "spark.driver_only_ms" -> ((wallMs - inJob) / rounds, "ms"),
      "spark.planning_ms" -> (acts.map(_.planningMs).sum / rounds, "ms"),
      "spark.executor_cpu_ms" -> (c.cpuNs / 1e6 / rounds, "ms"),
      "spark.shuffle_write_bytes" -> (c.shuffleWriteBytes / rounds, "bytes"),
      "spark.files_written" -> (filesWritten / rounds, "count"))
  }

  /** `core.*`: the table writes (commits) and reads of the actions. */
  def core(acts: Seq[ActionRec], rounds: Double): Metrics = {
    val (w, r) = acts.partition(_.writePath.isDefined)
    Map(
      "core.commits" -> (w.size / rounds, "count"),
      "core.files_written" -> (w.map(_.filesWritten).sum / rounds, "count"),
      "core.bytes_written" -> (w.map(_.bytesWritten).sum / rounds, "bytes"),
      "core.write_ms" -> (w.map(_.durationMs).sum / rounds, "ms"),
      "core.read_ms" -> (r.map(_.durationMs).sum / rounds, "ms"))
  }

  /** Round wall time not covered by the round's direct child spans. */
  def unattributed(t: Tracer, roundName: String): Double = {
    val rounds = t.spans.filter(_.name == roundName)
    if (rounds.isEmpty) 0.0
    else {
      val ids = rounds.map(_.id).toSet
      val child = t.spans.filter(s => ids.contains(s.parent))
        .map(s => s.endNs - s.startNs).sum
      Stats.ms(rounds.map(s => s.endNs - s.startNs).sum - child) / rounds.size
    }
  }
}
