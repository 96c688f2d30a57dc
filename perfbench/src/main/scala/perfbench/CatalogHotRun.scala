package perfbench

import scala.collection.mutable

object CatalogHotRun {
  def run(ctx: Main.Ctx): Main.Result = {
    val a = ctx.args
    val sfDir = a("sf-dir")
    val expected = CatalogHot.loadExpected(java.nio.file.Paths.get(a("expected")))
    val passes = math.max(1, ctx.seconds / 10)

    // set-up: a fresh session plus the untimed warm-up pass; the cold
    // warm-up pass costs most of a run, so it is not repeated
    val (spark, setupS) = ctx.repeatedSetup(1) { _ =>
      val s = ctx.session()
      val w = new CatalogHot(s, sfDir, expected, ctx.seed, ctx.tracer, new OpLog)
      w.pass(-1)
      s
    }(ctx.stop)
    ctx.heap.sample()

    val meter = if (ctx.traced) Some(new Meter(spark).install()) else None
    val w = new CatalogHot(spark, sfDir, expected, ctx.seed, ctx.tracer, ctx.log)
    val passMs = mutable.ArrayBuffer.empty[Double]
    val runs = mutable.ArrayBuffer.empty[CatalogHot.QueryRun]
    (0 until passes).foreach { k =>
      val t0 = System.nanoTime()
      val rs = ctx.tracer.span(spark, "catalog.pass")(w.pass(k))
      passMs += Stats.ms(System.nanoTime() - t0)
      runs ++= rs
      ctx.heap.sample()
    }

    val e2e = Map(
      "setup_s" -> (Stats.median(setupS), "s"),
      "round_p50_ms" -> (Stats.median(passMs.toSeq), "ms"),
      "rows_per_s" -> (runs.map(_.rows).sum / (passMs.sum / 1000), "rows/s"),
      "heap_peak_mb" -> (ctx.heap.peakMb, "MB"))

    val layer = mutable.Map.empty[String, (Double, String)]
    meter.foreach { m =>
      m.drain()
      val spanName = ctx.tracer.spans.map(s => s.id.toString -> s.name).toMap
      val jobs = m.jobsSince((0, 0))
      val acts = m.actionsSince((0, 0))
      def queryOf(tag: String) = spanName.get(tag)
        .filter(_.startsWith("catalog.q")).map(_.stripPrefix("catalog."))
      val execQuery = jobs.flatMap(j => queryOf(j.span).map(j.executionId -> _)).toMap
      val n = passes.toDouble
      CatalogHot.classes.foreach { case (cls, ids) =>
        val pick = (tag: String) => queryOf(tag).exists(ids.contains)
        val c = m.sum(pick)
        val js = jobs.filter(j => pick(j.span))
        val wall = runs.filter(r => ids.contains(r.id)).map(_.wallMs).sum
        val files = acts.filter(a => execQuery.get(a.executionId.toString)
          .exists(ids.contains)).map(_.filesWritten).sum
        layer(s"catalog.$cls.wall_s") = (wall / n / 1000, "s")
        layer(s"catalog.$cls.jobs") = (c.jobs / n, "count")
        layer(s"catalog.$cls.driver_only_ms") = ((wall - m.inJobMs(js)) / n, "ms")
        layer(s"catalog.$cls.executor_cpu_ms") = (c.cpuNs / 1e6 / n, "ms")
        layer(s"catalog.$cls.shuffle_bytes") = (c.shuffleWriteBytes / n, "bytes")
        layer(s"catalog.$cls.files_written") = (files / n, "count")
      }
      CatalogHot.ids.foreach { id =>
        layer(s"catalog.$id.wall_s") =
          (runs.filter(_.id == id).map(_.wallMs).sum / n / 1000, "s")
      }
      layer ++= Layers.spark(m, m.sum(_ => true), jobs, acts, passMs.sum, n,
        acts.map(_.filesWritten).sum.toDouble)
      layer ++= Layers.core(acts, n)
      layer("trace.round_p50_ms") = (Stats.median(passMs.toSeq), "ms")
      layer("trace.unattributed_ms") = (Layers.unattributed(ctx.tracer, "catalog.pass"), "ms")
      m.remove()
    }
    Main.Result(e2e, layer.toMap,
      detail = Map(
        "pass_ms" -> passMs.toSeq,
        "setup_s_reps" -> setupS,
        "query_ms" -> runs.groupBy(_.id).map { case (k, v) =>
          k -> Stats.median(v.map(_.wallMs).toSeq) }),
      sizes = Map("sf_dir" -> sfDir, "passes" -> passes,
        "queries" -> CatalogHot.ids),
      spark = spark)
  }
}

/** Writes the expected-digest file for the catalog workload from the
  * parquet dumps `graft.Verify` left in `--from <dir>`: the outputs an
  * oracle check passed. */
object Digests {
  def main(a: Main.Args): Unit = {
    val dir = a("from")
    val spark = graft.core.Sessions.local(appName = "perfbench-digests")
    println(s"# digests of the graft.Verify dumps in $dir")
    CatalogHot.ids.foreach { id =>
      val df = spark.read.parquet(s"$dir/${CatalogHot.resolve(id)}")
      println(s"$id ${CatalogHot.digest(df)}")
    }
    spark.stop()
  }
}
