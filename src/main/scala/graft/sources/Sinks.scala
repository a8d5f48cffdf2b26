package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Result sinks (SURVEY.md §2.C scans/sinks row): columnar parquet as
  * the default, csv/json for interop, and bucketed managed tables for
  * co-located (shuffle-free) joins on a stable key.
  *
  * Bucketing is the 100 TB lever here: two tables bucketed+sorted on the
  * same key with the same bucket count join WITHOUT a shuffle exchange on
  * either side — the exchange that would otherwise move the fact table is
  * pre-paid once at write time. */
object Sinks {

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** ORC — the other columnar interchange format Spark ships natively
    * (predicate pushdown + column pruning work the same as parquet);
    * for pipelines whose upstream warehouse is ORC-based. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Compacting writer — the small-files remedy: pick the output file
    * count from the optimizer's size estimate so each file lands near
    * `targetFileBytes` (default 128 MB, the usual HDFS/parquet sweet
    * spot). A 100 TB pipeline that writes per-micro-batch or
    * per-fine-partition otherwise accumulates millions of KB-sized files
    * whose open/footer overhead dominates reads. Uses repartition (a
    * shuffle) for even file sizes — compaction IS the job here, so the
    * one-time shuffle is the point, not an accident. */
  def writeCompacted(df: DataFrame, path: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = math.max(1L, (bytes.toLong + targetFileBytes - 1) / targetFileBytes).toInt
    df.repartition(files).write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Hive-style partitioned parquet layout — directory-per-value on the
    * partition columns. The physical design for low-cardinality scan
    * predicates at 100 TB: equality/IN filters on a partition column
    * become DIRECTORY skips (static pruning, no footer reads at all),
    * and a selective dimension join on the partition column becomes a
    * runtime skip via dynamic partition pruning (the subquery-built
    * filter Spark injects into the scan; asserted in PlanSpec).
    * Partition columns must be low-cardinality — one directory (and at
    * least one file) per value; a high-cardinality partition key is the
    * small-files anti-pattern [[writeCompacted]] exists to fix. */
  def writePartitioned(df: DataFrame, path: String, parts: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(parts: _*).parquet(path)

  /** Write a managed table bucketed (and sorted) by `key` for co-located
    * joins; read back with `spark.table(name)`. */
  def writeBucketed(df: DataFrame, name: String, key: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(name)

  /** [[writeBucketed]] with an explicit filesystem location (external
    * table) — bucketed layouts outside the session warehouse. */
  def writeBucketedExternal(df: DataFrame, name: String, path: String,
      key: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", path)
      .format("parquet")
      .saveAsTable(name)

  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /** Z-ordered parquet layout: range-partition by the Morton key of two
    * dimension columns, sort within partitions, write. Files then hold
    * disjoint z-ranges (range partitioning guarantees it), so parquet
    * min/max footer stats prune files for predicates on EITHER
    * dimension — the two-column file-skipping layout a 100 TB events
    * table wants for (user, time)-style scans. The key column itself is
    * written so readers can push a z-range predicate directly. */
  def writeZOrdered(df: DataFrame, path: String,
      xCol: String, yCol: String, bits: Int, files: Int): Unit = {
    import org.apache.spark.sql.functions.col
    val keyed = df.withColumn("zkey",
      graft.functions.ZOrder.morton2(
        graft.functions.ZOrder.clampCode(col(xCol), bits),
        graft.functions.ZOrder.clampCode(col(yCol), bits), bits))
    keyed.repartitionByRange(files, col("zkey"))
      .sortWithinPartitions("zkey")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Deterministic TRAINING-SHARD export — the materialization of
    * [[graft.operators.Sampling.shuffleOrder]]'s reproducible global
    * permutation: rows land in `shards` near-equal parquet shard
    * directories (`shard=0..`), each holding a contiguous span of the
    * md5(seed # key) order, rows sorted by that hash within the shard.
    * Reading shard dirs in shard order (rows in file order, or sorted by
    * the written `shuffle_hash` for a global tie-proof order) replays
    * the identical training order on any cluster, any number of times.
    *
    * Shard boundaries are DETERMINISTIC, not sampled: the shard id is a
    * fixed-width bucket of the hash's three leading hex digits (uniform
    * for a cryptographic digest, monotone in the hash order — the same
    * no-sampling principle as Packing.deterministicSlice), so shard
    * membership is a pure function of (seed, key). repartitionByRange
    * here would draw sampled boundaries — a re-run could shift rows
    * between shards, breaking resume-from-shard-k training runs.
    * One shuffle total (hash partition by shard id), one file per shard
    * (each shard is exactly one write task). `shards` ≤ 4096 (the hex
    * prefix granularity). */
  def writeTrainingShards(df: DataFrame, path: String, keyCol: String,
      seed: Long, shards: Int): Unit = {
    import org.apache.spark.sql.functions._
    require(shards > 0 && shards <= 4096, s"shards must be in 1..4096, got $shards")
    val h = md5(concat_ws("#", lit(seed), col(keyCol).cast("string")))
    val bucket = (conv(substring(col("shuffle_hash"), 1, 3), 16, 10).cast("int")
      * shards / 4096).cast("int")
    df.withColumn("shuffle_hash", h)
      .withColumn("shard", bucket)
      .repartition(shards, col("shard"))
      .sortWithinPartitions("shard", "shuffle_hash")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard")
      .parquet(path)
  }

  /** [[writeTrainingShards]] plus the profile sidecar a 100 TB pipeline
    * should ALWAYS write: one mergeable profile row per (shard, column)
    * ([[graft.operators.Profiles]] — exact moments + KLL/HLL sketch
    * bytes) stored at `path/_profiles`. Profiling reads the WRITTEN
    * artifact back (a columnar scan of just `profileCols` + the shard
    * partition column), not the input lineage — the profile always
    * describes exactly what landed on disk, and costs a narrow scan
    * instead of re-executing the upstream plan. The `_profiles` prefix
    * keeps the sidecar invisible to readers of `path` (underscore paths
    * are filtered by Spark's file index, like `_SUCCESS`). The corpus
    * profile of ANY subset of shards — or of many shard exports unioned
    * — is `Profiles.mergeProfiles` over the sidecar rows: profiling the
    * corpus never rescans it. Returns the sidecar frame. */
  def writeTrainingShardsWithProfiles(df: DataFrame, path: String, keyCol: String,
      seed: Long, shards: Int, profileCols: Seq[String], k: Int = 200): DataFrame = {
    writeTrainingShards(df, path, keyCol, seed, shards)
    writeProfileSidecar(df.sparkSession, path, profileCols, k)
  }

  /** Generic profiled-shard export: rows land in a parquet directory per
    * `shardCol` value with the `_profiles` sidecar next to them. Unlike
    * [[writeTrainingShards]] (whose hash order deliberately DECORRELATES
    * shards from every column, for training reproducibility), the shard
    * key here is the caller's — typically an ingest-time bucket (day,
    * source, batch id), the layout a 100 TB corpus actually arrives in —
    * so the sidecar's per-shard min/max DO separate values and
    * [[readPruned]] can drop whole shards. */
  def writeShardedWithProfiles(df: DataFrame, path: String, shardCol: Column,
      profileCols: Seq[String], k: Int = 200): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn("shard", shardCol.cast("int"))
      .repartition(col("shard"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard")
      .parquet(path)
    writeProfileSidecar(df.sparkSession, path, profileCols, k)
  }

  /** Profile the WRITTEN artifact (a narrow columnar scan of just
    * `profileCols` + the shard partition column — the profile always
    * describes exactly what landed on disk) into `path/_profiles`, plus
    * the typed zone-map sidecar into `path/_prune` (see
    * [[writePruneSidecar]]). Numeric-profile rows (moments + KLL/HLL
    * sketches) only make sense for numeric-castable columns; the prune
    * sidecar additionally covers date/timestamp/string columns. */
  private def writeProfileSidecar(spark: SparkSession, path: String,
      profileCols: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{NumericType, TimestampType}
    val written = spark.read.parquet(path)
    writePruneSidecar(written, path, profileCols)
    // the numeric profile ladder (moments + KLL/HLL) melts to double —
    // only double-castable columns belong in it (a date column is not a
    // valid double cast, and an ANSI string cast throws at runtime);
    // non-numeric profileCols are covered by the typed _prune sidecar
    val numericish = written.schema.fields
      .filter(f => profileCols.contains(f.name) &&
        (f.dataType.isInstanceOf[NumericType] || f.dataType == TimestampType))
      .map(_.name).toSeq
    if (numericish.nonEmpty)
      graft.operators.Profiles.shardProfiles(written, col("shard"), numericish, k)
        .write.mode(SaveMode.Overwrite).parquet(s"$path/_profiles")
    if (numericish.nonEmpty) readSidecarDir(spark, s"$path/_profiles")
    else readSidecarDir(spark, s"$path/_prune")
  }

  /** Part files of an underscore-hidden sidecar directory, listed
    * explicitly. Passing the directory itself to `spark.read.parquet`
    * works (explicit paths are always read) but trips DataSource's
    * `All paths were ignored` WARN on EVERY read — underscore-prefixed
    * names are hidden from Spark's file index — which spams dozens of
    * lines per bench run and will eventually bury a real warning. The
    * part files inside are normally named (`part-…parquet`) and list
    * clean. None = the directory does not exist; Some(Nil) = it exists
    * but holds no part files. */
  private def sidecarFiles(spark: SparkSession, dir: String): Option[Seq[String]] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(fs.listStatus(p).map(_.getPath).collect {
      case f if f.getName.endsWith(".parquet") => f.toString
    }.toSeq)
  }

  /** WARN-free read of a sidecar directory that is known to exist (just
    * written). Falls back to the directory read if the listing is
    * unexpectedly empty. */
  private def readSidecarDir(spark: SparkSession, dir: String): DataFrame =
    sidecarFiles(spark, dir) match {
      case Some(parts) if parts.nonEmpty => spark.read.parquet(parts: _*)
      case _ => spark.read.parquet(dir)
    }

  /** The canonical, ORDER-PRESERVING string rendering for a prunable
    * column type: (kind tag, render). A type with no entry (maps,
    * arrays, booleans, wide decimals) is not prunable — its columns get
    * no `_prune` rows and [[readPrunedAll]] keeps every shard for
    * predicates on them (prune only what the sidecar can prove out).
    *
    *  - num: exact double rendering; integral types up to 2^53 and
    *    decimals up to precision 15 are exact in a double, and the
    *    reader adds 2-ulp slack so boundary rounding can only KEEP a
    *    shard, never wrongly drop one.
    *  - date: days since epoch — integer-exact.
    *  - ts: microseconds since epoch (`unix_micros`) — integer-exact,
    *    timezone-free.
    *  - tsntz: fixed-width `yyyy-MM-dd HH:mm:ss.SSSSSS` local rendering;
    *    every field is zero-padded so byte order == chronological order
    *    at parquet's microsecond precision, with no session-timezone
    *    dependence (NTZ values have none).
    *  - str: the value itself; both the stored min/max (Spark's min/max
    *    on strings) and the reader's comparison use UTF-8 binary order,
    *    so the prune decision matches the row-level filter's ordering
    *    exactly. */
  private def pruneKind(dt: org.apache.spark.sql.types.DataType)
      : Option[(String, Column => Column)] = {
    import org.apache.spark.sql.functions.{date_format, datediff, lit, to_date, unix_micros}
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType =>
        Some(("num", (v: Column) => v.cast("double").cast("string")))
      case d: DecimalType if d.precision <= 15 =>
        Some(("num", (v: Column) => v.cast("double").cast("string")))
      case DateType =>
        Some(("date",
          (v: Column) => datediff(v, to_date(lit("1970-01-01"))).cast("string")))
      case TimestampType =>
        Some(("ts", (v: Column) => unix_micros(v).cast("string")))
      case TimestampNTZType =>
        Some(("tsntz", (v: Column) => date_format(v, "yyyy-MM-dd HH:mm:ss.SSSSSS")))
      case StringType => Some(("str", (v: Column) => v))
      case _ => None
    }
  }

  /** The TYPED zone-map sidecar at `path/_prune`: one row per
    * (shard, prunable column) holding exact min/max in a canonical
    * order-preserving string rendering ([[pruneKind]]) plus the kind
    * tag the reader needs to compare caller bounds against them. One
    * narrow scan + one shuffle over the written artifact; |shards| ×
    * |cols| rows total. This is what lets [[readPrunedAll]] prune on a
    * DATE or STRING ingest predicate — at 100 TB the shard key is a
    * date before it is a double. */
  private def writePruneSidecar(written: DataFrame, path: String,
      profileCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{array, col, explode, lit, max, min, struct}
    val fields = written.schema.fields
      .filter(f => profileCols.contains(f.name) && pruneKind(f.dataType).isDefined)
      .toSeq
    val out =
      if (fields.isEmpty)
        written.sparkSession.emptyDataFrame
          .select(lit("").as("shard"), lit("").as("col"), lit("").as("kind"),
            lit("").as("lo"), lit("").as("hi")).limit(0)
      else {
        val aggs = fields.flatMap(f => Seq(
          min(col(f.name)).as(s"__mn_${f.name}"),
          max(col(f.name)).as(s"__mx_${f.name}")))
        val entries = fields.map { f =>
          val (kind, render) = pruneKind(f.dataType).get
          struct(lit(f.name).as("col"), lit(kind).as("kind"),
            render(col(s"__mn_${f.name}")).as("lo"),
            render(col(s"__mx_${f.name}")).as("hi"))
        }
        written.groupBy(col("shard").cast("string").as("shard"))
          .agg(aggs.head, aggs.tail: _*)
          .select(col("shard"), explode(array(entries: _*)).as("e"))
          .select(col("shard"), col("e.col").as("col"), col("e.kind").as("kind"),
            col("e.lo").as("lo"), col("e.hi").as("hi"))
      }
    out.write.mode(SaveMode.Overwrite).parquet(s"$path/_prune")
  }

  /** Sidecar-pruned read of a profiled-shard export: the `_prune`
    * rows carry EXACT typed per-(shard, column) min/max, so a range
    * predicate on a profiled column drops whole shards from the scan
    * before Spark ever lists their files. This is the zone map ABOVE parquet's
    * per-file footer stats: footer pruning still pays the file listing
    * and footer reads — at 100 TB a million-file corpus makes the
    * listing itself a cost — while the sidecar decision reads
    * |shards| × |cols| rows (≤ a few thousand) on the driver, the same
    * economics as a catalog's partition pruning.
    *
    * Returns the rows of `path` with `lower ≤ column ≤ upper` (a missing
    * bound is unbounded): shards whose [min, max] interval cannot
    * intersect the range — including all-null shards, which a range
    * predicate excludes anyway — are never read, and the row-level
    * filter is re-applied inside surviving shards (shard pruning is
    * necessarily coarse). Pruning hinges on layout: it bites when the
    * shard key correlates with `column` ([[writeShardedWithProfiles]]'s
    * ingest-time buckets), and degrades to a full scan — never a wrong
    * answer — on the decorrelated [[writeTrainingShards]] hash order. */
  def readPruned(spark: SparkSession, path: String, column: String,
      lower: Option[Double] = None, upper: Option[Double] = None): DataFrame =
    readPrunedAll(spark, path, Seq((column, lower, upper)))

  /** Conjunctive [[readPruned]]: a shard survives only when EVERY
    * (column, lower, upper) range can intersect its [min, max] interval
    * — zone-map pruning composes across profiled columns, so an export
    * profiled on (ingest day, value) prunes on either or both. The
    * row-level conjunction is re-applied inside surviving shards.
    *
    * Bounds are TYPED: a numeric, `java.time.LocalDate`/`java.sql.Date`
    * (or ISO date string), `java.time.Instant`/`java.sql.Timestamp`,
    * `java.time.LocalDateTime` or plain String bound is compared against
    * the `_prune` sidecar's typed min/max under the same ordering
    * Spark's row-level filter uses (see [[pruneKind]]) — a date or
    * string ingest predicate prunes shards just like a double one.
    * Conservative in every direction: an unbounded (None, None)
    * predicate keeps all shards (including all-null ones — its row
    * filter is `true`); a bounded predicate drops all-null shards (no
    * row can pass a range); a column with no sidecar row, an unknown
    * kind, or an unparsable bound keeps the shard. Exports written
    * before the typed sidecar existed fall back to the numeric
    * `_profiles` min/max. Null shard keys land in (and are read back
    * from) Hive's default partition directory. */
  def readPrunedAll(spark: SparkSession, path: String,
      preds: Seq[(String, Option[Any], Option[Any])]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(preds.nonEmpty, "readPrunedAll requires at least one predicate")
    val src = scanLiveShards(spark, path) { byCol =>
      preds.forall { case (c, lo, hi) =>
        if (lo.isEmpty && hi.isEmpty) true // trivial predicate: keep
        else byCol.get(c).forall { case (kind, mn, mx) =>
          // all-null shard (null min): a bounded range excludes it
          mn != null && mx != null && canIntersect(kind, mn, mx, lo, hi)
        }
      }
    }
    preds.foldLeft(src) { case (df, (c, lo, hi)) =>
      df.filter(lo.map(v => col(c) >= lit(v)).getOrElse(lit(true)) &&
        hi.map(v => col(c) <= lit(v)).getOrElse(lit(true)))
    }
  }

  /** IN-list pruning — the other predicate shape a 100 TB ingest
    * actually writes (`day IN (...)`, `source IN (...)`): a shard
    * survives when ANY of `values` (a point range each) can fall inside
    * its [min, max]; the exact `isin` filter is re-applied inside
    * survivors. Same conservatism as [[readPrunedAll]]: empty or
    * unparsable values, unknown kinds, and unprofiled columns keep
    * everything. */
  def readPrunedIn(spark: SparkSession, path: String, column: String,
      values: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(values.nonEmpty, "readPrunedIn requires at least one value")
    val src = scanLiveShards(spark, path) { byCol =>
      byCol.get(column).forall { case (kind, mn, mx) =>
        mn != null && mx != null &&
          values.exists(v => canIntersect(kind, mn, mx, Some(v), Some(v)))
      }
    }
    src.filter(col(column).isin(values: _*))
  }

  /** Shared sidecar-decision scan: load the typed `_prune` rows (legacy
    * numeric `_profiles` as fallback), keep the shards `liveIf` accepts
    * given their per-column (kind, lo, hi) map, and return a basePath
    * read of exactly those shard directories. The sidecar collect is
    * ≤ |shards| × |cols| rows — a driver-side decision that never grows
    * with the data. A shard with NO sidecar row for a predicate column
    * is kept by every caller (`Map.get(...).forall`): the sidecar
    * prunes only what it can prove out, never a wrong answer. An export
    * whose sidecar holds NO rows at all (profileCols contained no
    * prunable column — or none that exists) carries no pruning evidence
    * for ANY shard, so the read degrades to the full export scan: an
    * empty decision table must mean "keep everything", never "read
    * nothing". Null shard keys map to Hive's default partition
    * directory. */
  private def scanLiveShards(spark: SparkSession, path: String)(
      liveIf: Map[String, (String, String, String)] => Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    // explicit part-file paths keep the read off DataSource's
    // "All paths were ignored" WARN (see [[sidecarFiles]])
    val prof: Array[(String, String, String, String, String)] =
      sidecarFiles(spark, s"$path/_prune") match {
        case Some(parts) =>
          if (parts.isEmpty) Array.empty
          else spark.read.parquet(parts: _*).collect().map(r =>
            (r.getAs[String]("shard"), r.getAs[String]("col"),
              r.getAs[String]("kind"), r.getAs[String]("lo"), r.getAs[String]("hi")))
        case None => // legacy export: numeric _profiles min/max (doubles)
          readSidecarDir(spark, s"$path/_profiles")
            .select(col("shard").cast("string"), col("col"),
              col("min").cast("string"), col("max").cast("string"))
            .collect().map(r =>
              (r.getString(0), r.getString(1), "num", r.getString(2), r.getString(3)))
      }
    // no sidecar rows at all: nothing was profiled, so nothing can be
    // proven out — conservative full scan, NOT an empty frame
    if (prof.isEmpty) return spark.read.parquet(path)
    val live = prof.groupBy(_._1).collect { case (shard, rows) =>
      val byCol = rows.map(r => r._2 -> (r._3, r._4, r._5)).toMap
      if (liveIf(byCol)) Some(shard) else None
    }.flatten.toSeq
    val liveDirs = live
      .map(s => if (s == null) "__HIVE_DEFAULT_PARTITION__" else s).sorted
    if (liveDirs.isEmpty) spark.read.parquet(path).limit(0)
    else spark.read.option("basePath", path)
      .parquet(liveDirs.map(s => s"$path/shard=$s"): _*)
  }

  /** Can `[mn, mx]` (canonical renderings, see [[pruneKind]]) intersect
    * the caller's `[lo, hi]` range? Must only return false when
    * disjointness is PROVEN — any parse failure, unknown kind, or NaN
    * returns true (keep the shard). */
  private def canIntersect(kind: String, mn: String, mx: String,
      lo: Option[Any], hi: Option[Any]): Boolean = {
    def safely(f: => Boolean): Boolean =
      try f catch { case scala.util.control.NonFatal(_) => true }
    kind match {
      case "num" =>
        def d(v: Any): Double = v match {
          case n: Number => n.doubleValue()
          case s: String => s.toDouble
          case other => sys.error(s"not a numeric bound: $other")
        }
        // 2-ulp slack: stat + bound each round ≤1 ulp on the way to
        // double, so slack can only KEEP a shard, never wrongly drop one
        safely(lo.forall { b =>
          val x = d(b); val m = mx.toDouble
          x.isNaN || m.isNaN || x <= Math.nextUp(Math.nextUp(m))
        }) && safely(hi.forall { b =>
          val x = d(b); val m = mn.toDouble
          x.isNaN || m.isNaN || x >= Math.nextDown(Math.nextDown(m))
        })
      case "date" =>
        // a plain Number bound is REJECTED (→ safely → keep): there is
        // no unit under which the prune decision and the re-applied row
        // filter (`col >= lit(number)` under Spark's date↔numeric
        // coercion, an AnalysisException under ANSI) agree — guessing
        // one risks over-pruning to a silently wrong (empty) answer
        def days(v: Any): Long = v match {
          case ld: java.time.LocalDate => ld.toEpochDay
          case dd: java.sql.Date => dd.toLocalDate.toEpochDay
          case s: String => java.time.LocalDate.parse(s).toEpochDay
          case other => sys.error(s"not a date bound: $other")
        }
        safely(lo.forall(days(_) <= mx.toLong)) &&
          safely(hi.forall(days(_) >= mn.toLong))
      case "ts" =>
        def micros(v: Any): Long = v match {
          case i: java.time.Instant =>
            Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
              i.getNano / 1000L)
          case t: java.sql.Timestamp =>
            Math.addExact(
              Math.multiplyExact(Math.floorDiv(t.getTime, 1000L), 1000000L),
              t.getNanos / 1000L)
          case s: String => micros(java.time.Instant.parse(s))
          // Number rejected (→ safely → keep): epoch seconds vs micros
          // ambiguity — see the date-kind note above
          case other => sys.error(s"not a timestamp bound: $other")
        }
        safely(lo.forall(micros(_) <= mx.toLong)) &&
          safely(hi.forall(micros(_) >= mn.toLong))
      case "tsntz" =>
        val fmt = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
        def render(v: Any): String = v match {
          case ldt: java.time.LocalDateTime => ldt.format(fmt)
          case s: String =>
            java.time.LocalDateTime
              .parse(s.replace(' ', 'T')).format(fmt)
          case other => sys.error(s"not a local-datetime bound: $other")
        }
        // fixed-width rendering: byte order == chronological order
        safely(lo.forall(render(_) <= mx)) && safely(hi.forall(render(_) >= mn))
      case "str" =>
        // UTF-8 binary order — the ordering Spark's min/max and row
        // filters use on strings (UTF8String compares bytes)
        def b(v: Any): Array[Byte] = v match {
          case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          case other => sys.error(s"not a string bound: $other")
        }
        def cmp(x: Array[Byte], y: Array[Byte]): Int =
          java.util.Arrays.compareUnsigned(x, y)
        safely(lo.forall(v => cmp(b(v), b(mx)) <= 0)) &&
          safely(hi.forall(v => cmp(b(v), b(mn)) >= 0))
      case _ => true // unknown kind: keep
    }
  }
}
