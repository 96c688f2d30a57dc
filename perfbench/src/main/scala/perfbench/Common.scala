package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer: the record is flat maps, seqs and numbers. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => str(other.toString)
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); NaN on an empty input. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def ms(ns: Long): Double = ns / 1e6
}

/** One attempted op (a day, a micro-batch round or a query). A failure
  * keeps its exception class and message; nothing is recorded as a
  * sentinel value. */
final case class Op(kind: String, name: String, ok: Boolean,
    errorClass: String = "", errorMessage: String = "")

final class OpLog {
  val ops = mutable.ArrayBuffer.empty[Op]

  /** Runs `body`, records it, and returns its value (None on failure). */
  def attempt[T](kind: String, name: String)(body: => T): Option[T] =
    try {
      val r = body
      ops += Op(kind, name, ok = true)
      Some(r)
    } catch {
      case scala.util.control.NonFatal(e) =>
        ops += Op(kind, name, ok = false, e.getClass.getName,
          String.valueOf(e.getMessage).take(500))
        None
    }

  /** A failed output check on an op that itself ran. */
  def fail(kind: String, name: String, message: String): Unit =
    ops += Op(kind, name, ok = false, "perfbench.CheckFailed", message)

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)
  def failures: Seq[Map[String, Any]] = ops.filterNot(_.ok).toSeq.map(o =>
    Map("kind" -> o.kind, "name" -> o.name, "class" -> o.errorClass,
      "message" -> o.errorMessage))
}

/** Span recorder for traced runs. The benchmark opens a span around
  * every call it makes into a layer; the span id is set as a Spark local
  * property on the calling thread, so the Spark jobs of that call carry
  * it and become child spans. In untraced runs `span` only runs the
  * body. */
final class Tracer(val enabled: Boolean, val runId: String) {
  import Tracer.Span

  val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack.empty[Long]

  def span[T](spark: SparkSession, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      stack.push(id)
      val epoch = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Tracer.SpanKey, prev)
        spans.synchronized {
          spans += Span(id, name, parent, t0, t1, epoch)
        }
      }
    }
}

object Tracer {
  val SpanKey = "perfbench.span"
  final case class Span(id: Long, name: String, parent: Long,
      startNs: Long, endNs: Long, startEpochMs: Long)
}

/** Per-job record kept by [[Meter]]. Times are epoch ms (listener). */
final case class JobRec(id: Int, startMs: Long, var endMs: Long,
    span: String, streamQuery: String, executionId: String)

/** Counters kept per job tag (a harness span id or a streaming query
  * id). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleWriteBytes += o.shuffleWriteBytes
  }
}

/** One finished action seen by the QueryExecutionListener. */
final case class ActionRec(executionId: Long, durationMs: Double,
    planningMs: Double, writePath: Option[String], readPaths: Seq[String],
    readsJdbc: Boolean, filesWritten: Long, bytesWritten: Long,
    rowsWritten: Long, csvFilesRead: Long, csvPartitionsRead: Long)

/** The benchmark's meter: a SparkListener for jobs, stages and tasks and
  * a QueryExecutionListener for planning time, scans and write commits.
  * It is registered only in traced runs. Reading it first drains the
  * listener bus, so counts are exact. */
final class Meter(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val lock = new Object
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageTag = mutable.Map.empty[Int, String]
  val byTag = mutable.Map.empty[String, Counters]
  val actions = mutable.ArrayBuffer.empty[ActionRec]

  def install(): Meter = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def remove(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = GraftBridge.waitListenerEmpty(spark)

  private def tagOf(p: java.util.Properties): (String, String, String) =
    if (p == null) ("", "", "")
    else (Option(p.getProperty(Tracer.SpanKey)).getOrElse(""),
      Option(p.getProperty("sql.streaming.queryId")).getOrElse(""),
      Option(p.getProperty("spark.sql.execution.id")).getOrElse(""))

  private def counters(tag: String): Counters =
    byTag.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val (span, sq, exec) = tagOf(e.properties)
    val tag = if (sq.nonEmpty) s"stream:$sq" else span
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, span, sq, exec)
    e.stageIds.foreach(s => stageTag(s) = tag)
    counters(tag).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      val info = e.stageInfo
      val c = counters(stageTag.getOrElse(info.stageId, ""))
      c.stages += 1
      c.tasks += info.numTasks
      val m = info.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }

  /** Every physical node, looking inside adaptive plans and their query
    * stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val planning = try qe.tracker.phases.values.map(_.durationMs).sum
      catch { case _: Throwable => 0L }
    val plan = try nodes(qe.executedPlan) catch { case _: Throwable => Nil }
    val writes = plan.collect { case d: DataWritingCommandExec => d }
    val writePath = writes.collectFirst { case d =>
      d.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
        case other => other.nodeName
      }
    }
    def metric(name: String) = writes.map(d =>
      d.cmd.metrics.get(name).map(_.value).getOrElse(0L)).sum
    val csvScans = plan.collect {
      case f: FileSourceScanExec if f.relation.fileFormat.toString == "CSV" => f
    }
    def scanMetric(name: String) = csvScans.map(f =>
      f.metrics.get(name).map(_.value).getOrElse(0L)).sum
    val rels = try qe.optimizedPlan.collect { case l: LogicalRelation => l.relation }
      catch { case _: Throwable => Nil }
    val reads = rels.collect {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
    }.flatten
    val jdbc = rels.exists(_.getClass.getSimpleName == "JDBCRelation")
    lock.synchronized {
      actions += ActionRec(qe.id, durationNs / 1e6, planning.toDouble,
        writePath, reads, jdbc, metric("numFiles"), metric("numOutputBytes"),
        metric("numOutputRows"), scanMetric("numFiles"),
        scanMetric("numPartitions"))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe, 0L)

  /** Marks: the sizes of the job and action logs, to slice by phase. */
  def mark(): (Int, Int) = { drain(); lock.synchronized((jobs.size, actions.size)) }

  def jobsSince(m: (Int, Int)): Seq[JobRec] = lock.synchronized(
    jobs.valuesIterator.drop(m._1).toSeq)
  def actionsSince(m: (Int, Int)): Seq[ActionRec] = lock.synchronized(
    actions.drop(m._2).toSeq)

  /** Wall ms covered by at least one of the given jobs. */
  def inJobMs(js: Seq[JobRec]): Double = {
    val iv = js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs))
      .sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Sum of counters over tags accepted by `pick`. */
  def sum(pick: String => Boolean): Counters = lock.synchronized {
    val c = new Counters
    byTag.foreach { case (t, x) => if (pick(t)) c.add(x) }
    c
  }
}

/** Heap after a full GC, sampled at phase boundaries. Each GC follows
  * a 100 ms pause in which Spark's cleaner releases what the previous
  * one made unreachable (broadcasts, shuffles, stopped sessions); a
  * sample is taken once two GCs in a row agree within 1 %. */
final class HeapProbe {
  val samples = mutable.ArrayBuffer.empty[Double]
  private def live(): Long = {
    System.gc()
    val r = Runtime.getRuntime
    r.totalMemory() - r.freeMemory()
  }
  def sample(): Unit = {
    var cur = live()
    var prev = -1L
    var tries = 0
    while (tries < 5 && (prev < 0 || math.abs(cur - prev) > cur / 100)) {
      Thread.sleep(100)
      prev = cur
      cur = live()
      tries += 1
    }
    samples += cur / (1024.0 * 1024.0)
  }
  def peakMb: Double = samples.maxOption.getOrElse(0.0)
}

object Files2 {
  import java.nio.file.{Files, Path}
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    } finally w.close()
  }
  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val w = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.endsWith(".crc"))
        .map(Files.size).sum
    } finally w.close()
  }
}
