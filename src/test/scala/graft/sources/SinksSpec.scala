package graft.sources

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec

class SinksSpec extends SparkSpec {

  private def tmp(prefix: String) = ScratchDir.create(prefix)

  test("parquet/csv/json sinks round-trip rows and schema-compatible values") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.25)).toDF("id", "name", "v")
    val pq = tmp("pq"); val csv = tmp("csv"); val js = tmp("js")
    df.write.mode(SaveMode.Overwrite).parquet(pq); Sinks.writeCsv(df, csv); Sinks.writeJson(df, js)
    assert(spark.read.parquet(pq).orderBy("id").collect() === df.orderBy("id").collect())
    val backCsv = spark.read.option("header", "true").option("inferSchema", "true").csv(csv)
    assert(backCsv.count() === 2 && backCsv.columns.toSeq === Seq("id", "name", "v"))
    val backJson = spark.read.json(js)
    assert(backJson.count() === 2)
    assert(backJson.select("id", "name", "v").orderBy("id").collect()
      .map(_.getString(1)).toSeq === Seq("a", "b"))
  }

  test("partitioned layout prunes partitions at the scan") {
    val s = spark
    import s.implicits._
    val df = (1 to 1000).map(i => (i.toLong, s"seg${i % 5}", i * 1.0)).toDF("id", "seg", "v")
    val path = tmp("part")
    df.write.mode("overwrite").partitionBy("seg").parquet(path)
    val read = spark.read.parquet(path).filter(col("seg") === "seg3")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("seg3"), plan)
    assert(read.count() === 200)
    // the pushed partition filter means only one of five directories is read
    val scanned = read.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(scanned.forall(_.contains("seg=seg3")))
  }

  test("compacting writer sizes file count from the estimated bytes") {
    val s = spark
    import s.implicits._
    val df = (1 to 20000).map(i => (i.toLong, s"row-payload-$i" * 4)).toDF("id", "s")
      .repartition(16) // simulate a fragmented upstream (16 small files)
    val path = tmp("compact")
    // ~1.5 MB of data at a 512 KB target -> a handful of files, not 16
    Sinks.writeCompacted(df, path, targetFileBytes = 512 * 1024)
    val files = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files >= 1 && files < 16, s"got $files files")
    assert(spark.read.parquet(path).count() === 20000)
  }

  test("bucketed tables join without a shuffle exchange on either side") {
    val s = spark
    import s.implicits._
    val fact = (1 to 1000).map(i => (i.toLong % 50, s"f$i")).toDF("k", "payload")
    val dim = (0 until 50).map(i => (i.toLong, s"d$i")).toDF("k", "attr")
    Sinks.writeBucketed(fact, "fact_b", "k", 8)
    Sinks.writeBucketed(dim, "dim_b", "k", 8)
    val joined = spark.table("fact_b").join(spark.table("dim_b"), "k")
    // disable broadcast so the join would otherwise shuffle both sides
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = spark.table("fact_b").join(spark.table("dim_b"), "k")
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      assert(joined.count() === 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("zordered layout yields disjoint per-file zkey ranges on both dims") {
    val s = spark
    import s.implicits._
    val rows = for { x <- 0 until 64; y <- 0 until 64 } yield (x.toLong, y.toLong)
    val df = rows.toDF("x", "y")
    val path = tmp("zord")
    Sinks.writeZOrdered(df, path, "x", "y", bits = 6, files = 8)
    val back = spark.read.parquet(path)
    assert(back.count() === 64L * 64L)
    // each physical file holds one contiguous, non-overlapping zkey range
    val ranges = back
      .select(input_file_name().as("f"), col("zkey"))
      .groupBy("f").agg(min("zkey").as("lo"), max("zkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length > 1)
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 < lo2, s"overlapping file ranges: $ranges")
    }
    // z-locality: a tight 2-D box maps to a bounded zkey span, so a
    // range predicate on zkey prunes most files for a 2-D point query
    val zmin = back.filter(col("x") < 8 && col("y") < 8).agg(min("zkey")).head.getLong(0)
    val zmax = back.filter(col("x") < 8 && col("y") < 8).agg(max("zkey")).head.getLong(0)
    assert(zmax - zmin < 64 * 64 / 4, s"z-span too wide: [$zmin, $zmax]")
  }

  test("orc round trip preserves rows, schema and values") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.25), (3L, null.asInstanceOf[String], 0.0))
      .toDF("id", "name", "v")
    val path = tmp("orc")
    Sinks.writeOrc(df, path)
    val back = Sinks.readOrc(spark, path)
    // nullability is metadata the reader widens; names and types must hold
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("id").collect() === df.orderBy("id").collect())
    // pushdown reaches the ORC scan like parquet
    val plan = back.filter(col("id") === 2L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("id"), plan)
  }

  test("z-interval box scan: pushed range, few files touched, no rows lost") {
    val s = spark
    import s.implicits._
    val rows = for { x <- 0 until 64; y <- 0 until 64 } yield (x.toLong, y.toLong)
    val path = tmp("zbox")
    Sinks.writeZOrdered(rows.toDF("x", "y"), path, "x", "y", bits = 6, files = 16)
    val back = spark.read.parquet(path)
    val (zlo, zhi) = (graft.functions.ZOrder.morton2Long(8, 8, 6),
      graft.functions.ZOrder.morton2Long(15, 15, 6))
    val pruned = back.filter(col("zkey").between(zlo, zhi))
      .filter(col("x").between(8, 15) && col("y").between(8, 15))
    // coarse z-interval + exact box re-check loses nothing vs box-only
    assert(pruned.count() ===
      back.filter(col("x").between(8, 15) && col("y").between(8, 15)).count())
    // the zkey range reaches the parquet reader (row-group skip filter)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("zkey"), plan)
    // layout clustering: the 64-cell box lives in few of the 16 files
    val touched = pruned.select(input_file_name()).distinct().count()
    assert(touched <= 2, s"box rows spread over $touched files")
  }

  test("training shards: balanced, one file per shard, byte-identical across topologies") {
    val s = spark
    import s.implicits._
    val df = (1L to 400L).map(i => (i, s"doc body $i")).toDF("id", "text")
    val (outA, outB) = (tmp("shards_a"), tmp("shards_b"))
    graft.sources.Sinks.writeTrainingShards(df.repartition(3), outA, "id", seed = 7L, shards = 8)
    // different input layout + different shuffle setting must not move a row
    val key = "spark.sql.shuffle.partitions"
    val orig = spark.conf.get(key)
    try {
      spark.conf.set(key, "11")
      graft.sources.Sinks.writeTrainingShards(df.repartition(9), outB, "id", seed = 7L, shards = 8)
    } finally spark.conf.set(key, orig)
    def readBack(p: String) = spark.read.parquet(p)
      .select("shard", "shuffle_hash", "id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(x => (x._1, x._2))
    val (a, b) = (readBack(outA), readBack(outB))
    assert(a.toSeq === b.toSeq, "shard membership/order must be topology-invariant")
    // all 8 shards present and near-equal (uniform md5: 400/8 = 50 ± slack)
    val sizes = a.groupBy(_._1).view.mapValues(_.length).toMap
    assert(sizes.keySet === (0 until 8).toSet)
    assert(sizes.values.forall(n => n > 25 && n < 80), s"unbalanced shards: $sizes")
    // one parquet file per shard directory
    for (d <- new java.io.File(outA).listFiles() if d.getName.startsWith("shard=")) {
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"${d.getName} has ${files.length} files")
    }
    // within a shard, file row order IS the hash order (training replay order)
    val shard0 = spark.read.parquet(s"$outA/shard=0").select("shuffle_hash")
      .collect().map(_.getString(0))
    assert(shard0.toSeq === shard0.sorted.toSeq, "rows must be hash-ordered within the shard")
  }

  test("shard export with profile sidecar: merge equals whole-data stats, sidecar invisible") {
    val s = spark
    import s.implicits._
    import graft.operators.Profiles
    val rnd = new scala.util.Random(41)
    val df = (1L to 2000L).map(i => (i, rnd.nextDouble() * 100.0, (i % 13).toDouble))
      .toDF("id", "a", "b")
    val out = tmp("shards_prof")
    val sidecar = graft.sources.Sinks.writeTrainingShardsWithProfiles(
      df, out, "id", seed = 3L, shards = 4, profileCols = Seq("a", "b"))
    assert(sidecar.count() === 4L * 2)
    // the corpus profile from the sidecar matches the whole-data stats
    val merged = Profiles.mergeProfiles(spark.read.parquet(s"$out/_profiles"), Seq(0.5))
      .collect().map(r => r.getString(0) -> r).toMap
    val g = df.agg(count(col("a")).as("n"), sum("a").as("s"),
      stddev_samp(col("a")).as("sd")).head
    assert(merged("a").getAs[Long]("n") === g.getAs[Long]("n"))
    assert(math.abs(merged("a").getAs[Double]("sum") - g.getAs[Double]("s")) < 1e-6)
    assert(math.abs(merged("a").getAs[Double]("std") - g.getAs[Double]("sd")) < 1e-9)
    assert(merged("b").getAs[Long]("distinct_est") === 13L)
    // _profiles must not leak into readers of the shard table
    val back = spark.read.parquet(out)
    assert(back.count() === 2000L)
    assert(back.columns.sorted.toSeq === Seq("a", "b", "id", "shard", "shuffle_hash"))
  }

  test("readPruned drops whole shards via the profile sidecar and loses no rows") {
    val s = spark
    import s.implicits._
    // ingest-time layout: shard key (day) correlates with the profiled
    // column, so per-shard min/max separate values
    val df = (0 until 1000).map { i =>
      val day = i / 100 // 10 "days", 100 rows each
      (i.toLong, day * 10.0 + (i % 100) / 100.0, s"p$i")
    }.toDF("id", "ts_day", "payload")
    val out = tmp("pruned")
    Sinks.writeShardedWithProfiles(df, out, col("ts_day") / 10.0,
      profileCols = Seq("ts_day", "id"))
    val full = spark.read.parquet(out)
    // range covering days 3..5 → 3 of 10 shards
    val pruned = Sinks.readPruned(spark, out, "ts_day",
      lower = Some(30.0), upper = Some(51.0))
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"sidecar pruning must touch fewer files: ${pruned.inputFiles.length} vs ${full.inputFiles.length}")
    assert(pruned.inputFiles.forall(f =>
      Seq("shard=3", "shard=4", "shard=5").exists(f.contains)), pruned.inputFiles.mkString("\n"))
    // pruning loses nothing vs the row-level filter over the full scan
    val expect = full.filter(col("ts_day").between(30.0, 51.0))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(pruned.select("id").collect().map(_.getLong(0)).sorted === expect)
    assert(expect.length === 300)
    // the shard partition column survives the basePath read
    assert(pruned.columns.contains("shard"))
    // unbounded side + empty-result range both stay correct
    assert(Sinks.readPruned(spark, out, "ts_day", lower = Some(80.0)).count() === 200)
    val none = Sinks.readPruned(spark, out, "ts_day", lower = Some(1e9))
    assert(none.count() === 0 && none.columns.contains("id"))
    // conjunctive pruning: id is monotone with ts_day here, so both
    // zone maps agree; the intersection prunes to the same 3 shards and
    // the row-level conjunction narrows further
    val both = Sinks.readPrunedAll(spark, out, Seq(
      ("ts_day", Some(30.0), Some(51.0)), ("id", Some(350.0), None)))
    assert(both.inputFiles.length === pruned.inputFiles.length)
    assert(both.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      (350L to 599L))
    // pruning on the second profiled column alone works too
    val idOnly = Sinks.readPrunedAll(spark, out, Seq(
      ("id", Some(350.0), Some(400.0))))
    assert(idOnly.count() === 51)
    assert(idOnly.inputFiles.forall(f =>
      Seq("shard=3", "shard=4").exists(f.contains)))
    // a predicate on an UNPROFILED column cannot prune — the sidecar
    // proves shards out, never in: all shards read, rows filtered
    val out2 = tmp("pruned2")
    Sinks.writeShardedWithProfiles(df, out2, col("ts_day") / 10.0,
      profileCols = Seq("ts_day"))
    val unprof = Sinks.readPrunedAll(spark, out2, Seq(
      ("id", Some(350.0), Some(400.0))))
    assert(unprof.count() === 51)
    assert(unprof.inputFiles.length ===
      spark.read.parquet(out2).inputFiles.length)
  }

  test("typed sidecar pruning: date/timestamp/ntz/string predicates prune shards") {
    val s = spark
    import s.implicits._
    // 6 "ingest days" of 50 rows: DateType d, TimestampType t, a
    // zero-padded string nm (binary order == ingest order), numeric v
    val df = (0 until 300).map { i =>
      val day = i / 50
      (i.toLong,
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 3, 1).plusDays(day.toLong)),
        java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:00:00Z")
          .plusSeconds(day * 86400L + (i % 50) * 60L)),
        f"name_$day%02d_${i % 50}%03d",
        (i % 50).toDouble,
        day)
    }.toDF("id", "d", "t", "nm", "v", "day")
      .withColumn("tn", col("t").cast("timestamp_ntz"))
    val out = tmp("typedprune")
    Sinks.writeShardedWithProfiles(df, out, col("day"),
      profileCols = Seq("d", "t", "tn", "nm", "v"))

    // DATE range (LocalDate bounds): days 2..3 → 2 of 6 shards
    val byDate = Sinks.readPrunedAll(spark, out, Seq(
      ("d", Some(java.time.LocalDate.of(2024, 3, 3)),
        Some(java.time.LocalDate.of(2024, 3, 4)))))
    assert(byDate.inputFiles.nonEmpty && byDate.inputFiles.forall(f =>
      Seq("shard=2", "shard=3").exists(f.contains)), byDate.inputFiles.mkString("\n"))
    assert(byDate.count() === 100)
    // the same predicate with ISO-string bounds
    assert(Sinks.readPrunedAll(spark, out,
      Seq(("d", Some("2024-03-03"), Some("2024-03-04")))).count() === 100)

    // TIMESTAMP range (Instant bounds): last 30 minutes of day 1 + day 2
    val byTs = Sinks.readPrunedAll(spark, out, Seq(
      ("t", Some(java.time.Instant.parse("2024-03-02T00:20:00Z")),
        Some(java.time.Instant.parse("2024-03-03T23:59:59Z")))))
    assert(byTs.inputFiles.nonEmpty && byTs.inputFiles.forall(f =>
      Seq("shard=1", "shard=2").exists(f.contains)), byTs.inputFiles.mkString("\n"))
    assert(byTs.count() === 80)
    // java.sql.Timestamp bounds hit the same path
    assert(Sinks.readPrunedAll(spark, out, Seq(
      ("t", Some(java.sql.Timestamp.from(
        java.time.Instant.parse("2024-03-02T00:20:00Z"))), None))).count() === 230)

    // NTZ range (LocalDateTime bounds) — session TZ is UTC, so the NTZ
    // view of t has the same wall clock
    val byNtz = Sinks.readPrunedAll(spark, out, Seq(
      ("tn", Some(java.time.LocalDateTime.of(2024, 3, 2, 0, 20, 0)),
        Some(java.time.LocalDateTime.of(2024, 3, 3, 23, 59, 59)))))
    assert(byNtz.inputFiles.nonEmpty && byNtz.inputFiles.forall(f =>
      Seq("shard=1", "shard=2").exists(f.contains)), byNtz.inputFiles.mkString("\n"))
    assert(byNtz.count() === 80)

    // STRING lower bound: binary order prunes days 0..3 entirely
    val byStr = Sinks.readPrunedAll(spark, out, Seq(("nm", Some("name_04"), None)))
    assert(byStr.inputFiles.nonEmpty && byStr.inputFiles.forall(f =>
      Seq("shard=4", "shard=5").exists(f.contains)), byStr.inputFiles.mkString("\n"))
    assert(byStr.count() === 100)

    // conjunction of a typed prune and a numeric row filter
    val both = Sinks.readPrunedAll(spark, out, Seq(
      ("d", Some(java.time.LocalDate.of(2024, 3, 3)),
        Some(java.time.LocalDate.of(2024, 3, 4))),
      ("v", Some(25.0), None)))
    assert(both.inputFiles.forall(f =>
      Seq("shard=2", "shard=3").exists(f.contains)))
    assert(both.count() === 50)

    // IN-list pruning: two non-adjacent days keep exactly their shards
    val byIn = Sinks.readPrunedIn(spark, out, "d",
      Seq(java.time.LocalDate.of(2024, 3, 2), java.time.LocalDate.of(2024, 3, 5)))
    assert(byIn.inputFiles.nonEmpty && byIn.inputFiles.forall(f =>
      Seq("shard=1", "shard=4").exists(f.contains)), byIn.inputFiles.mkString("\n"))
    assert(byIn.count() === 100)
    // a value outside every shard's range reads nothing
    assert(Sinks.readPrunedIn(spark, out, "d",
      Seq(java.time.LocalDate.of(2030, 1, 1))).count() === 0)
    // IN on an unprofiled column cannot prune: full scan + exact filter
    val inUnprof = Sinks.readPrunedIn(spark, out, "id", Seq(7L, 8L))
    assert(inUnprof.count() === 2)
  }

  test("pruned read keeps null-shard rows, trivial predicates, all-null shards") {
    val s = spark
    import s.implicits._
    val df = (0 until 300).map { i =>
      val day = i / 50
      (i.toLong, (i % 50).toDouble, day)
    }.toDF("id", "v", "day")
      // rows 0..9 get a NULL shard key → Hive default partition dir
      .withColumn("dayOrNull", when(col("id") < 10, lit(null)).otherwise(col("day")))
      // w is ALL NULL within shard 2, non-null elsewhere
      .withColumn("w", when(col("day") === 2, lit(null)).otherwise(col("v")))
    val out = tmp("prunenull")
    Sinks.writeShardedWithProfiles(df, out, col("dayOrNull"),
      profileCols = Seq("v", "w", "id"))
    // a keep-everything predicate must read the default partition too
    val all = Sinks.readPrunedAll(spark, out, Seq(("v", Some(0.0), None)))
    assert(all.count() === 300)
    assert(all.inputFiles.exists(_.contains("__HIVE_DEFAULT_PARTITION__")))
    // pruning still applies to the null-shard group's own stats:
    // its rows (ids 0..9) have id max 9, so an id ≥ 100 range skips it
    val noNullShard = Sinks.readPrunedAll(spark, out, Seq(("id", Some(100.0), None)))
    assert(!noNullShard.inputFiles.exists(_.contains("__HIVE_DEFAULT_PARTITION__")))
    assert(noNullShard.count() === 200)
    // an unbounded (None, None) predicate prunes nothing — in particular
    // not the all-null shard (its row filter is `true`)
    val trivial = Sinks.readPrunedAll(spark, out, Seq(("w", None, None)))
    assert(trivial.count() === 300)
    assert(trivial.inputFiles.length ===
      spark.read.parquet(out).inputFiles.length)
    // a bounded predicate on w drops the all-null shard 2 at the
    // sidecar (no row can pass a range over nulls)
    val bounded = Sinks.readPrunedAll(spark, out, Seq(("w", Some(0.0), None)))
    assert(!bounded.inputFiles.exists(_.contains("shard=2")))
    assert(bounded.count() === 250)
  }

  test("empty sidecar (no prunable profileCols) degrades to a full scan, not 0 rows") {
    val s = spark
    import s.implicits._
    // the only profiled column is BOOLEAN — not prunable, not numeric:
    // the _prune sidecar is written EMPTY and _profiles is skipped, so
    // the reader has zero pruning evidence and must keep every shard
    // (ADVICE r13: this returned limit(0) — silently empty — before)
    val df = (0 until 200).map(i => (i.toLong, (i % 2) == 0, i / 50))
      .toDF("id", "flag", "day")
    val out = tmp("pruneempty")
    Sinks.writeShardedWithProfiles(df, out, col("day"),
      profileCols = Seq("flag"))
    val all = Sinks.readPrunedAll(spark, out, Seq(("id", Some(60.0), Some(120.0))))
    assert(all.count() === 61, "empty sidecar must mean full scan + row filter")
    assert(all.inputFiles.length === spark.read.parquet(out).inputFiles.length)
    val in = Sinks.readPrunedIn(spark, out, "day", Seq(1, 3))
    assert(in.count() === 100)
    // misspelled profile column: same degradation
    val out2 = tmp("pruneempty2")
    Sinks.writeShardedWithProfiles(df, out2, col("day"),
      profileCols = Seq("no_such_column"))
    assert(Sinks.readPrunedAll(spark, out2,
      Seq(("id", Some(0.0), None))).count() === 200)
  }

  test("a plain Number bound on a date/timestamp column keeps all shards") {
    val s = spark
    import s.implicits._
    // 4 ingest days of timestamps + dates; profiled through the typed
    // sidecar (kind ts/date). A raw Number bound has no agreed unit
    // (epoch seconds? micros? days?) so the decision must KEEP every
    // shard rather than guess one and over-prune to a silent empty
    val df = (0 until 200).map { i =>
      val day = i / 50
      (i.toLong,
        java.sql.Timestamp.from(
          java.time.Instant.parse("2024-01-01T00:00:00Z")
            .plusSeconds(day * 86400L + i)),
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(day)))
    }.toDF("id", "t", "d")
    val out = tmp("prunenum")
    Sinks.writeShardedWithProfiles(df, out, col("id") / 50,
      profileCols = Seq("t", "d"))
    val full = spark.read.parquet(out).inputFiles.length
    // decision-level check via a helper predicate the row filter can
    // also evaluate: bound the TYPED column with a Number while a
    // second trivially-true typed predicate carries the row filter
    // an epoch-SECONDS upper bound (the ADVICE r13 scenario): read as
    // micros it lands in 1970, below every shard's min — the old code
    // dropped ALL shards and returned silently empty
    def liveFiles(c: String, bound: Any): Int =
      try Sinks.readPrunedAll(spark, out, Seq((c, None, Some(bound))))
        .inputFiles.length
      catch { // ANSI may reject the ts/date-vs-number ROW filter — the
        // honest failure; what must never happen is a silent 0-file read
        case _: org.apache.spark.sql.AnalysisException => full
      }
    assert(liveFiles("t", 1.7e9) === full)
    assert(liveFiles("d", 1.0) === full)
  }

  test("Memo builds each (session, dir, key) exactly once and reads parquet back") {
    val s = spark
    import s.implicits._
    // unique key per run: the registry is session-scoped and the shared
    // spec session outlives individual test invocations
    val key = "spec-" + java.lang.Long.toHexString(System.nanoTime())
    var builds = 0
    def build = { builds += 1; Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
    val first = Memo.tableFor(spark, "memo-dir", key)(build)
    val second = Memo.tableFor(spark, "memo-dir", key)(build)
    assert(builds === 1, "second call must reuse the memoized write")
    assert(second.orderBy("id").collect() === first.orderBy("id").collect())
    // consumers scan the stored parquet, not the build lineage — the
    // contract that makes diamond-shaped consumers recompute-free
    val plan = second.queryExecution.executedPlan.toString
    assert(plan.contains("Parquet"), plan)
    // a different dir is a different artifact (one session, several SFs)
    Memo.tableFor(spark, "memo-dir-2", key)(build)
    assert(builds === 2)
    var setups = 0
    Memo.onceFor(spark, "memo-dir", key) { setups += 1 }
    Memo.onceFor(spark, "memo-dir", key) { setups += 1 }
    assert(setups === 1, "onceFor must run setup exactly once")
  }
}
