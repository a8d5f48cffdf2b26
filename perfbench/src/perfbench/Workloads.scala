package perfbench

import java.security.MessageDigest

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.{Bounds, ColumnRules, Report}
import graft.sources.Tables

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, input: String, work: String, seed: Long,
    tracer: Tracer) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** One workload of the closed loop: `op` is one timed operation. */
trait Workload {
  /** Rows one operation consumes, for rows_per_s. */
  def rowsPerOp: Long
  /** Operations per cycle: the loop only stops at cycle ends. */
  def cycle: Int = 1
  /** Read inputs and warm up, before the timed loop. */
  def setup(c: Ctx): Unit
  def op(c: Ctx, i: Int): Unit
  /** Checks after operation `i`, outside the timed region. Returns an
    * error message when the output is wrong. */
  def checkOp(c: Ctx, i: Int): Option[String] = None
  /** Checks and run-level numbers after the timed loop. */
  def finish(c: Ctx): Workload.Finish
  /** Layer metrics of traced operation `i` beyond its spans, taken after
    * it finished in `seconds`. */
  def traceMetrics(c: Ctx, i: Int, seconds: Double): Map[String, Double] = Map.empty
}

object Workload {
  /** `failAll` fails every operation (a check that covers the whole run);
    * `results` goes to the result file for the Python-side checks. */
  final case class Finish(failAll: Option[String], results: Map[String, Any],
      metrics: Map[String, Double])

  def apply(name: String): Workload = name match {
    case "report_lineitem" => new ReportLineitem
    case "registry_mix" => new RegistryMix
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Releases every cached and checkpointed block, so each operation pays
    * its own full cost. The harness calls it between operations. */
  def dropCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def md5Lines(lines: Iterable[String]): String = {
    val md = MessageDigest.getInstance("MD5")
    lines.toSeq.sorted.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

import Workload._

// ------------------------------------------------------------------ report

/** `Report(lineitem, rules, key = l_orderkey)`, then introduce() to a noop
  * sink, describe() over all columns, validate(verbose = true) to a noop
  * sink. */
final class ReportLineitem extends Workload {
  private val rules: Map[String, ColumnRules] = Map(
    "l_quantity" -> ColumnRules(range = Some(Bounds(Some(1.0), Some(50.0)))),
    "l_discount" -> ColumnRules(range = Some(Bounds(Some(0.0), Some(0.1)))),
    "l_tax" -> ColumnRules(range = Some(Bounds(Some(0.0), Some(0.08)))),
    "l_returnflag" -> ColumnRules(accepted = Some(Seq("A", "N", "R"))),
    "l_linestatus" -> ColumnRules(accepted = Some(Seq("O", "F"))))
  private var rows = 0L
  private var profiles = Map.empty[Int, Map[String, Map[String, Any]]]

  def rowsPerOp: Long = rows

  private def report(c: Ctx): Report = {
    val data = c.span("sources.read")(Tables.load(c.spark, c.input, "lineitem"))
    c.span("core.apply")(Report(data, rules, key = Some("l_orderkey")))
  }

  /** Warm-up runs three operations: the first ones in a JVM are up to
    * twice as slow as the later ones while the JIT compiles. */
  def setup(c: Ctx): Unit = {
    rows = Tables.load(c.spark, c.input, "lineitem").count()
    (1 to 3).foreach { _ => op(c, -1); dropCaches(c.spark) }
  }

  def op(c: Ctx, i: Int): Unit = {
    val r = report(c)
    c.span("core.introduce")(noop(r.introduce()))
    val described = c.span("core.describe")(r.describe())
    c.span("core.validate")(noop(r.validate(verbose = true)))
    if (i >= 0) profiles += i -> described.map(p => p.column -> (p.stats: Map[String, Any])).toMap
  }

  /** Every operation's describe must agree with the first one's. */
  override def checkOp(c: Ctx, i: Int): Option[String] = {
    val first = profiles(profiles.keys.min)
    val mine = profiles(i)
    val bad = for {
      (col, stats) <- first.toSeq
      (k, v) <- stats.toSeq
      w = mine.get(col).flatMap(_.get(k)).orNull
      if !same(v, w)
    } yield s"$col.$k: $v vs $w"
    if (i != profiles.keys.min) profiles -= i
    bad.headOption.map(b => s"describe differs from the first operation at $b")
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case _ => a == b
  }

  def finish(c: Ctx): Finish = {
    val r = report(c)
    val findings = r.validate().collect().map(row =>
      Seq(row.getString(0), String.valueOf(row.get(1)), row.getString(2), row.getString(3)).mkString("\t"))
    val verboseRows = r.validate(verbose = true).count()
    val describe = profiles.get(profiles.keys.minOption.getOrElse(-1)).getOrElse(Map.empty)
      .map { case (col, stats) => col -> stats.map { case (k, v) => k -> render(v) } }
    Finish(None,
      Map("findings" -> findings.length, "findings_digest" -> md5Lines(findings),
        "verbose_rows" -> verboseRows, "describe" -> describe),
      Map("core.findings_rows" -> findings.length.toDouble))
  }

  private def render(v: Any): Any = v match {
    case d: Double => d
    case n: java.lang.Number => n.doubleValue()
    case b: Boolean => b
    case null => null
    case other => other.toString
  }
}

// ------------------------------------------------------------------ registry

/** A seed-shuffled sequence of registry queries, each built, planned and
  * written to a noop sink. The loop stops only after whole passes, so
  * every run samples every query equally often. Set-up warms up with two
  * passes; the first writes each query's result to parquet instead, for
  * the DuckDB oracle compare after the run. */
final class RegistryMix extends Workload {
  private var order: Seq[String] = Nil
  private var rows = 0L
  private var plan = Map.empty[String, Double]
  private var written = Map.empty[String, Any]

  def rowsPerOp: Long = rows
  override def cycle: Int = RegistryMix.Queries.size

  private def oracleDir(c: Ctx) = s"${c.work}/oracle"

  def setup(c: Ctx): Unit = {
    rows = Manifest.rows(c.input)
    order = new scala.util.Random(c.seed).shuffle(RegistryMix.Queries.map(_._1))
    val oracle = SparkEntry.oracleSql
    val layer = RegistryMix.Queries.toMap
    written = order.map { q =>
      val err = try {
        SparkEntry.queries(q)(c.spark, c.input).coalesce(1).write.mode("overwrite")
          .parquet(s"${oracleDir(c)}/$q")
        null
      } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      dropCaches(c.spark)
      q -> ListMap("sql" -> oracle.get(q).orNull, "error" -> err, "layer" -> layer(q))
    }.toMap
    order.foreach { q => noop(SparkEntry.queries(q)(c.spark, c.input)); dropCaches(c.spark) }
  }

  private def query(i: Int): String = order(i % order.size)

  def op(c: Ctx, i: Int): Unit = {
    val df = c.span("queries.build")(SparkEntry.queries(query(i))(c.spark, c.input))
    c.span("queries.plan")(df.queryExecution.executedPlan)
    c.span("queries.exec")(noop(df))
    val ph = df.queryExecution.tracker.phases
    plan = Seq("analysis", "optimization", "planning").map(k =>
      s"plans.${k}_s" -> ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)).toMap
  }

  /** The query's planning phases, its time under the metric of its
    * package, and `.count()` of the same query timed outside the
    * operation. */
  override def traceMetrics(c: Ctx, i: Int, seconds: Double): Map[String, Double] = {
    val df = SparkEntry.queries(query(i))(c.spark, c.input)
    val t0 = System.nanoTime()
    df.count()
    plan + ("queries.count_s" -> (System.nanoTime() - t0) / 1e9) +
      (s"${RegistryMix.Queries.toMap.apply(query(i))}.query_s" -> seconds)
  }

  def finish(c: Ctx): Finish =
    Finish(None, Map("oracle_dir" -> oracleDir(c), "order" -> order, "queries" -> written),
      Map.empty)
}

object RegistryMix {
  /** Registry queries of the mix (each with a DuckDB oracle), with the
    * graft package that does each one's main work: relational SQL
    * (queries), custom aggregates (plans), geo functions (functions),
    * `Report.describe` (core), the sketch, stats, fuzzy-matching and
    * LLM-data operators (operators), the streaming operators' batch twins
    * (streaming) and a sink round trip (sources). The first two passes in
    * a JVM are up to 1.4 times as slow as the later ones, hence the two
    * warm-up passes. */
  val Queries: Seq[(String, String)] = Seq(
    "bloom_decon_keep" -> "operators", "jw_linkage_names" -> "operators",
    "asof_join_events" -> "operators",
    "q5_region_revenue" -> "queries", "kll_quantile_check" -> "plans",
    "cms_freq_check" -> "operators", "geo_bbox" -> "functions",
    "langid_fixed" -> "operators", "corr_matrix_lineitem" -> "operators",
    "describe_numeric_lineitem" -> "core", "pack_sequences" -> "operators",
    "session_windows" -> "streaming", "csv_json_roundtrip" -> "sources")
}

/** The row count the generator wrote to manifest.json. */
object Manifest {
  def rows(dir: String): Long = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "manifest.json")), "UTF-8")
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    (org.json4s.jackson.JsonMethods.parse(text) \ "rows").extract[Long]
  }
}
