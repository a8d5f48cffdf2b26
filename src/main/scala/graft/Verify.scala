package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Also writes `digests.json`: a canonical content digest per query —
  * md5 over the SORTED canonical row renderings of the parquet actually
  * written (columns in name order, type-stable value formats). Purpose
  * (VERDICT r7 next-round #1): when the driver's gate reports a hash
  * mismatch, comparing ITS digests.json against a green local run's
  * separates "the driver's Spark run produced different rows" from "the
  * driver's hash/canonicalization side diverged" — the two halves of the
  * mix_corpus red cell that 12 green judge replays could not tell apart.
  * A reference copy from a green local run is committed at
  * `dev/digests_sf0.01.json`. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dev-loop filter;
    // the driver always calls with exactly (sfDir, outDir)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.quietAuditedWindowWarn() // bounded-frame WARN flood, see there
    Bench.quietAuditedCheckpointWarn() // drained-checkpoint WARN flood, see there
    new java.io.File(outDir).mkdirs()
    val digests = scala.collection.mutable.SortedMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // digest the artifact the driver will compare (the parquet just
        // written), not the in-memory frame — any writer-side surprise
        // is part of what we want fingerprinted
        digests(name) = contentDigest(spark, s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop per-query persist()/localCheckpoint blocks so the 100+ query
      // dump runs in bounded memory (see Bench.dropCaches rationale)
      graft.operators.Materialize.releaseAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val digestJson = digests
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/digests.json"), digestJson)
    spark.stop()
  }

  /** Order-insensitive, environment-stable md5 of a query result: every
    * row rendered with type-exact formats (float/double as raw IEEE bit
    * patterns, timestamps as epoch micros — immune to locale/TZ/printf
    * drift), columns in sorted-name order, row strings sorted, joined,
    * hashed. Collected on the driver — gate-SF results are ≤60k rows. */
  private[graft] def contentDigest(spark: SparkSession, path: String): String = {
    val df = spark.read.parquet(path)
    val cols = df.schema.fieldNames.sorted.toSeq
    val proj = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
    def render(v: Any): String = v match {
      case null => "\u0000"
      case st: String => "s:" + st
      case d: java.lang.Double => "d:" + java.lang.Long.toHexString(
        java.lang.Double.doubleToLongBits(d))
      case f: java.lang.Float => "f:" + java.lang.Integer.toHexString(
        java.lang.Float.floatToIntBits(f))
      case t: java.sql.Timestamp => s"ts:${t.getTime}.${t.getNanos}"
      case t: java.time.Instant => s"ts:${t.getEpochSecond}.${t.getNano}"
      case d: java.sql.Date => s"dt:${d.getTime}"
      case d: java.time.LocalDate => s"dt:${d.toEpochDay}"
      case d: java.time.LocalDateTime => s"ntz:$d"
      case b: Array[Byte] => "x:" + b.map("%02x".format(_)).mkString
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, v2) => render(k) + "=" + render(v2) }
          .toSeq.sorted.mkString("{", ",", "}")
      case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("(", ",", ")")
      case x => x.toString
    }
    val rows = proj.collect().map(_.toSeq.map(render).mkString("\u0001"))
    java.util.Arrays.sort(rows.asInstanceOf[Array[Object]])
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}
