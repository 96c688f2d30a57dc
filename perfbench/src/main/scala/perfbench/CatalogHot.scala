package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `catalog_hot`: one catalog query of each of four classes, run by one
  * closed-loop client in seeded shuffled passes after an untimed
  * warm-up pass. Every execution is checked against a stored
  * order-insensitive digest. The three driver-bound classes are the
  * maintained views, graph and index operators; the scan is the
  * executor-bound contrast. */
object CatalogHot {
  val classes: Seq[(String, Seq[String])] = Seq(
    "maint" -> Seq("q185"),
    "graph" -> Seq("q145"),
    "index" -> Seq("q139"),
    "scan" -> Seq("q211"))

  val ids: Seq[String] = classes.flatMap(_._2)
  def classOf(id: String): String = classes.find(_._2.contains(id)).get._1

  /** Catalog name for a bare id, e.g. q169 -> q169_incremental_agg. */
  def resolve(id: String): String = {
    val hits = graft.SparkEntry.queries.keys.filter(_.startsWith(id + "_"))
    require(hits.size == 1, s"query id $id resolves to ${hits.toSeq.sorted}")
    hits.head
  }

  /** Row count plus the exact decimal sum of a 64-bit hash of each row's
    * JSON form: independent of row order and partitioning. Doubles are
    * rounded to 9 significant places first, so a last-bit difference in a
    * distributed sum does not flip the digest. */
  def digest(df: DataFrame): String = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType =>
        when(c.isNull, lit(null).cast("string"))
          .otherwise(format_string("%.9g", c.cast("double")))
      case BinaryType => base64(c)
      case _ => c
    }
    val cols = df.schema.fields.toSeq.map(f =>
      norm(col(s"`${f.name}`"), f.dataType).as(f.name))
    val row = if (cols.isEmpty) lit("") else to_json(struct(cols: _*))
    val r = df.select(xxhash64(row).cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .collect().head
    val s = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"${r.getLong(0)}:$s"
  }
  private type Column = org.apache.spark.sql.Column

  final case class QueryRun(id: String, wallMs: Double, ok: Boolean, rows: Long)

  /** Parses the expected-digest file: one `id digest` pair per line. */
  def loadExpected(path: java.nio.file.Path): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(path).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val a = l.split("\\s+"); a(0) -> a(1) }.toMap
  }
}

final class CatalogHot(spark: SparkSession, sfDir: String,
    expected: Map[String, String], seed: Long, tracer: Tracer,
    log: OpLog) {
  import CatalogHot._

  private val fns = ids.map(id => id -> graft.SparkEntry.queries(resolve(id)))
    .toMap

  /** One execution of one query, checked. */
  def runQuery(id: String): QueryRun = {
    val t0 = System.nanoTime()
    val got = log.attempt("query", id) {
      tracer.span(spark, s"catalog.$id") {
        digest(fns(id)(spark, sfDir))
      }
    }
    val wall = Stats.ms(System.nanoTime() - t0)
    val ok = got match {
      case Some(d) if expected.get(id).contains(d) => true
      case Some(d) =>
        log.fail("query", id, s"digest $d != expected ${expected.get(id)}")
        false
      case None => false
    }
    QueryRun(id, wall, ok, got.map(_.takeWhile(_ != ':').toLong).getOrElse(0L))
  }

  /** A pass: every query once, in a seeded shuffled order. Scratch left
    * by the previous pass is reclaimed before it starts. */
  def pass(k: Int): Seq[QueryRun] = {
    graft.core.Scratch.reclaimEphemeral()
    val order = new scala.util.Random(seed * 1000003L + k).shuffle(ids)
    order.map(runQuery)
  }

}
