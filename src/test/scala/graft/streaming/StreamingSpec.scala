package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** True incremental-execution tests: the same Streams transforms that the
  * batch oracle checks, driven through MemoryStream micro-batches with
  * watermarks, late data, and streaming dedup. */
case class Ev(ts: Timestamp, user_id: Long, value: Double, event_id: Long)
case class Doc(doc_id: Long, text: String)

class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming session windows merge events within the gap per user") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val sessions = Streams.sessionAgg(
      mem.toDF().withWatermark("ts", "10 minutes"), "ts", "10 minutes", "user_id")
    val q = sessions.writeStream.format("memory").queryName("sessions_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        Ev(ts("2024-01-01 10:00:00"), 1L, 1.0, 1),
        Ev(ts("2024-01-01 10:05:00"), 1L, 1.0, 2), // same session (gap 5m)
        Ev(ts("2024-01-01 10:30:00"), 1L, 1.0, 3)) // new session (gap 25m)
      q.processAllAvailable()
      mem.addData(Ev(ts("2024-01-01 12:00:00"), 1L, 1.0, 4)) // close sessions
      q.processAllAvailable()
      val rows = spark.table("sessions_stream")
        .select("session_start", "n_events").orderBy("session_start").collect()
      assert(rows.length === 2)
      assert(rows(0).getTimestamp(0) === ts("2024-01-01 10:00:00"))
      assert(rows(0).getLong(1) === 2L)
      assert(rows(1).getTimestamp(0) === ts("2024-01-01 10:30:00"))
      assert(rows(1).getLong(1) === 1L)
    } finally q.stop()
  }

  test("incremental profile evolves across micro-batches and matches batch stats") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val profiles = Streams.incrementalProfile(mem.toDF(), "user_id", "value")
    val q = profiles.writeStream.format("memory").queryName("inc_profile")
      .outputMode("update").start()
    try {
      mem.addData(
        Ev(ts("2024-01-01 10:00:00"), 1L, 2.0, 1),
        Ev(ts("2024-01-01 10:01:00"), 1L, 4.0, 2))
      q.processAllAvailable()
      val b1 = spark.table("inc_profile").orderBy("count").collect().last
      assert(b1.getAs[Long]("count") === 2L)
      assert(b1.getAs[Double]("mean") === 3.0)
      assert(math.abs(b1.getAs[Double]("variance") - 2.0) < 1e-12) // var_samp([2,4])
      // second batch merges into existing state
      mem.addData(Ev(ts("2024-01-01 10:02:00"), 1L, 6.0, 3))
      q.processAllAvailable()
      val b2 = spark.table("inc_profile").orderBy("count").collect().last
      assert(b2.getAs[Long]("count") === 3L)
      assert(b2.getAs[Double]("mean") === 4.0)
      assert(math.abs(b2.getAs[Double]("variance") - 4.0) < 1e-12) // var_samp([2,4,6])
      assert(b2.getAs[Double]("min") === 2.0)
      assert(b2.getAs[Double]("max") === 6.0)
    } finally q.stop()
  }

  test("quantile monitor folds KLL state across micro-batches; emitted sketch unions with batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val rnd = new scala.util.Random(23)
    val batch1 = Array.fill(4000)(rnd.nextDouble() * 100.0)
    val batch2 = Array.fill(4000)(rnd.nextDouble() * 100.0 + 50.0) // shifted: estimates must move
    val monitor = Streams.quantileMonitor(mem.toDF(), "user_id", "value", Seq(0.25, 0.5, 0.75))
    val q = monitor.writeStream.format("memory").queryName("kll_monitor")
      .outputMode("update").start()
    def rank(all: Array[Double], x: Double) = all.count(_ <= x).toDouble / all.length
    try {
      mem.addData(batch1.zipWithIndex.map { case (v, i) =>
        Ev(ts("2024-01-01 10:00:00"), 1L, v, i.toLong) }.toSeq: _*)
      q.processAllAvailable()
      val b1 = spark.table("kll_monitor").orderBy("count").collect().last
      assert(b1.getAs[Long]("count") === 4000L)
      val qs1 = b1.getSeq[Double](b1.fieldIndex("quantiles"))
      Seq(0.25, 0.5, 0.75).zip(qs1).foreach { case (p, est) =>
        assert(math.abs(rank(batch1, est) - p) <= 0.025, s"batch1 p=$p") }
      // second micro-batch MERGES into the standing sketch (not a restart)
      mem.addData(batch2.zipWithIndex.map { case (v, i) =>
        Ev(ts("2024-01-01 10:05:00"), 1L, v, 10000L + i) }.toSeq: _*)
      q.processAllAvailable()
      val all = batch1 ++ batch2
      val b2 = spark.table("kll_monitor").orderBy("count").collect().last
      assert(b2.getAs[Long]("count") === 8000L)
      val qs2 = b2.getSeq[Double](b2.fieldIndex("quantiles"))
      Seq(0.25, 0.5, 0.75).zip(qs2).foreach { case (p, est) =>
        assert(math.abs(rank(all, est) - p) <= 0.025, s"merged p=$p") }
      // the emitted bytes are a real KLL sketch: union with a batch-built
      // sketch of disjoint data and the union meets the bound on the whole
      val streamSketch = graft.plans.KllState.deserialize(
        b2.getAs[Array[Byte]]("sketch"))
      val backfill = Array.fill(4000)(rnd.nextDouble() * 200.0)
      val batchSketch = new graft.plans.KllState(200)
      backfill.foreach(batchSketch.update)
      streamSketch.merge(batchSketch)
      val corpus = all ++ backfill
      assert(streamSketch.n === corpus.length.toLong)
      Seq(0.25, 0.5, 0.75).foreach { p =>
        assert(math.abs(rank(corpus, streamSketch.quantile(p)) - p) <= 0.025,
          s"union p=$p") }
    } finally q.stop()
  }

  test("file-source stream: hourly aggregation over the events parquet") {
    val dir = java.nio.file.Paths.get(graft.sources.ScratchDir.create("evstream"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    // timestamp-flavor rescue: same normalization as the batch loader
    // (nanos-as-long epoch, or MICROS-NTZ → instant under the UTC session)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.readStream
      .schema(spark.read.parquet(dir.toString).schema)
      .parquet(dir.toString)
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val events = raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
    val agg = Streams.tumblingAgg(events.withWatermark("ts", "1 hour"), "ts", "1 hour", "event_type")
    val q = agg.writeStream.format("memory").queryName("file_stream_hourly")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode emits only watermark-closed windows; with a bounded
      // file all but the last in-flight hour close
      val n = spark.table("file_stream_hourly").count()
      assert(n > 0)
    } finally q.stop()
  }

  test("stream-stream interval join matches within the window, bounded state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[Ev] // impressions
    val clicks = MemoryStream[Ev]
    // clicks join their user's impression within [0, 10 min] after it
    val joined = Streams.intervalJoin(
      imps.toDF(), clicks.toDF(), "user_id", "ts", "5 minutes",
      beforeMs = 0L, afterMs = 10 * 60 * 1000L)
      .select("user_id", "event_id", "event_id_r")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append()).start()
    try {
      imps.addData(
        Ev(ts("2024-01-01 10:00:00"), 1L, 1.0, 10),
        Ev(ts("2024-01-01 10:00:00"), 2L, 1.0, 20))
      clicks.addData(
        Ev(ts("2024-01-01 10:05:00"), 1L, 1.0, 11), // within 10 min -> joins
        Ev(ts("2024-01-01 10:30:00"), 2L, 1.0, 21)) // 30 min later -> no join
      q.processAllAvailable()
      // advance both watermarks so results flush in append mode
      imps.addData(Ev(ts("2024-01-01 12:00:00"), 9L, 1.0, 90))
      clicks.addData(Ev(ts("2024-01-01 12:00:00"), 9L, 1.0, 91))
      q.processAllAvailable()
      val rows = spark.table("ss_join")
        .filter($"user_id" < 9).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSet === Set((1L, 10L, 11L)))
    } finally q.stop()
  }

  test("foreachBatch integrates the stream with the compacting sink") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = graft.sources.ScratchDir.create("stream_compact")
    val q = mem.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.sources.Sinks.writeCompacted(
          batch.withColumn("batch_id", org.apache.spark.sql.functions.lit(id)),
          s"$out/batch=$id")
      }
      .start()
    try {
      mem.addData(Ev(ts("2024-01-01 10:00:00"), 1L, 1.0, 1),
        Ev(ts("2024-01-01 10:01:00"), 2L, 2.0, 2))
      q.processAllAvailable()
      mem.addData(Ev(ts("2024-01-01 10:02:00"), 3L, 3.0, 3))
      q.processAllAvailable()
      val back = spark.read.parquet(s"$out/batch=0", s"$out/batch=1")
      assert(back.count() === 3)
      assert(back.select("event_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("upsertSink folds micro-batches into a delta-versioned merged table") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = graft.sources.ScratchDir.create("stream_upsert")
    val q = Streams.upsertSink(mem.toDF(), Seq("event_id"), out,
      snapshotEvery = 2).start()
    def state() = Streams.latestTable(spark, out, Seq("event_id")).get
      .select("event_id", "value").orderBy("event_id")
      .collect().map(r => (r.getLong(r.fieldIndex("event_id")),
        r.getDouble(r.fieldIndex("value")))).toSeq
    try {
      mem.addData(Ev(ts("2024-01-01 10:00:00"), 1L, 1.0, 1),
        Ev(ts("2024-01-01 10:01:00"), 2L, 2.0, 2))
      q.processAllAvailable()
      // batch 0 alone: a delta only, no snapshot yet — state reads
      // through the delta fold
      assert(Streams.latestVersion(out).isEmpty)
      assert(state() === Seq((1L, 1.0), (2L, 2.0)))
      // batch 1: update event 2, insert event 3; snapshotEvery=2 folds
      mem.addData(Ev(ts("2024-01-01 10:02:00"), 2L, 99.0, 2),
        Ev(ts("2024-01-01 10:03:00"), 3L, 3.0, 3))
      q.processAllAvailable()
      assert(state() === Seq((1L, 1.0), (2L, 99.0), (3L, 3.0)))
      // the fold landed a full snapshot at the fold batch's id
      assert(Streams.latestVersion(out).get.endsWith("v=1"))
      assert(spark.read.parquet(s"$out/v=1").count() === 3)
      // batch 2: delta above the snapshot, not yet folded
      mem.addData(Ev(ts("2024-01-01 10:04:00"), 1L, -5.0, 1))
      q.processAllAvailable()
      assert(state() === Seq((1L, -5.0), (2L, 99.0), (3L, 3.0)))
      assert(Streams.latestVersion(out).get.endsWith("v=1"),
        "no new snapshot until snapshotEvery deltas accumulate")
      // recovery semantics: a replayed fold derives from snapshots and
      // deltas STRICTLY BELOW its own id
      assert(Streams.latestTable(spark, out, Seq("event_id"), below = 1L).get
        .count() === 2L)
      assert(Streams.latestTable(spark, out, Seq("event_id"), below = 0L).isEmpty)
      // resolved through Hadoop FS: an explicit file: URI works too
      assert(Streams.latestTable(spark, s"file:$out", Seq("event_id")).isDefined)
    } finally q.stop()
  }

  test("dedupIngestSink grows the corpus by verified-novel docs only") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def body(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    val mem = MemoryStream[Doc]
    val out = graft.sources.ScratchDir.create("stream_ingest")
    val q = Streams.dedupIngestSink(mem.toDF(), "doc_id", "text", out).start()
    try {
      // batch 0: two novel docs + an in-batch near-dup of doc 1
      mem.addData(Doc(1L, body("a")), Doc(2L, body("b")),
        Doc(3L, body("a") + " tail"))
      q.processAllAvailable()
      def corpus() = spark.read.parquet(s"$out/docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(corpus() === Set(1L, 2L), s"in-batch near-dup must be dropped: ${corpus()}")
      // batch 1: a near-dup of corpus doc 2 + one genuinely new doc
      mem.addData(Doc(10L, body("b") + " extra"), Doc(11L, body("c")))
      q.processAllAvailable()
      assert(corpus() === Set(1L, 2L, 11L), s"corpus near-dup must be dropped: ${corpus()}")
      // the standing index grew by exactly the kept docs, append-only
      val indexed = spark.read.parquet(s"$out/sh")
        .select("id").distinct().collect().map(_.getLong(0)).toSet
      assert(indexed === Set(1L, 2L, 11L), s"index must track kept docs: $indexed")
      // cache hygiene (the sink's finally releases shB/bkB/kept) is not
      // asserted here: suites share one SparkContext and run in parallel,
      // so a global getPersistentRDDs snapshot races other suites' persists;
      // MaterializeSpec pins Materialize.release per barrier instead
    } finally q.stop()
  }

  test("dedupIngestSink compaction: same kept corpus, generations supersede batch dirs") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def body(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    // 8 batches: one novel doc per batch, plus every third batch a
    // near-dup of the FIRST batch's doc — cross-batch drops must keep
    // working across the compaction boundary
    def batchDocs(b: Int): Seq[Doc] = {
      val novel = Doc(100L + b, body(s"n$b "))
      if (b % 3 == 2) Seq(novel, Doc(200L + b, body("n0 ") + " tail"))
      else Seq(novel)
    }
    def run(compactEvery: Int): (Set[Long], String) = {
      val mem = MemoryStream[Doc]
      val out = graft.sources.ScratchDir.create("stream_compact")
      val q = Streams.dedupIngestSink(mem.toDF(), "doc_id", "text", out,
        compactEvery = compactEvery).start()
      try {
        (0 until 8).foreach { b =>
          mem.addData(batchDocs(b): _*); q.processAllAvailable()
        }
      } finally q.stop()
      (spark.read.parquet(s"$out/docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet, out)
    }
    val (keptNoCompact, _) = run(compactEvery = 1000000)
    val (keptCompact, out) = run(compactEvery = 3)
    assert(keptCompact === keptNoCompact,
      "compaction must not change which docs are kept")
    assert(keptCompact === (0 until 8).map(100L + _).toSet,
      s"novel docs kept, all near-dups of batch 0 dropped: $keptCompact")
    // generations exist and superseded batch dirs are gone
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def subdirs(d: String): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(d))
        .map(_.getPath.getName).toSet.filter(_.contains("="))
    val gens = subdirs(s"$out/shc")
    assert(gens.nonEmpty, "a compacted run must exist")
    // runs are named gen=<lo>_<hi> covering live batches [lo, hi)
    def hiOf(name: String): Long =
      name.stripPrefix("gen=").split('_').last.toLong
    val coverEnd = gens.map(hiOf).max
    val liveIds = subdirs(s"$out/sh").map(_.stripPrefix("batch=").toLong)
    assert(liveIds.forall(_ >= coverEnd),
      s"batch dirs below coverage end $coverEnd must be deleted: $liveIds")
    // the compacted index (all runs + remaining live) holds exactly the
    // kept docs' rows
    val genDocs = gens.toSeq.flatMap(g =>
      spark.read.parquet(s"$out/shc/$g")
        .select("id").distinct().collect().map(_.getLong(0))).toSet
    val liveDocs =
      if (liveIds.isEmpty) Set.empty[Long]
      else spark.read.parquet(s"$out/sh")
        .filter(col("batch") >= coverEnd)
        .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert((genDocs ++ liveDocs) === keptCompact,
      s"index must track kept docs across runs+live: ${genDocs ++ liveDocs}")
  }

  test("tiered compaction: same kept corpus as single-level, runs merge up tiers") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def body(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    def batchDocs(b: Int): Seq[Doc] = {
      val novel = Doc(100L + b, body(s"n$b "))
      if (b % 3 == 2) Seq(novel, Doc(200L + b, body("n0 ") + " tail"))
      else Seq(novel)
    }
    def run(fanout: Int): (Set[Long], String) = {
      val mem = MemoryStream[Doc]
      val out = graft.sources.ScratchDir.create("stream_tiered")
      val q = Streams.dedupIngestSink(mem.toDF(), "doc_id", "text", out,
        compactEvery = 2, compactFanout = fanout).start()
      try {
        (0 until 12).foreach { b =>
          mem.addData(batchDocs(b): _*); q.processAllAvailable()
        }
      } finally q.stop()
      (spark.read.parquet(s"$out/docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet, out)
    }
    val (keptSingle, _) = run(fanout = 1)    // the full-fold control
    val (keptTiered, out) = run(fanout = 2)
    assert(keptTiered === keptSingle,
      "tiered folding must not change which docs are kept")
    assert(keptTiered === (0 until 12).map(100L + _).toSet,
      s"novel docs kept, all near-dups of batch 0 dropped: $keptTiered")
    // structural: runs exist, none is a [0, hi) full rewrite beyond the
    // first merge tier, and coverage is a contiguous prefix
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val runs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/shc"))
      .map(_.getPath.getName).filter(_.startsWith("gen="))
      .map { n =>
        val Array(lo, hi) = n.stripPrefix("gen=").split('_').map(_.toLong)
        (lo, hi)
      }.sortBy(_._1).toSeq
    assert(runs.nonEmpty, "tiered runs must exist")
    assert(runs.sliding(2).forall {
      case Seq(a, b) => a._2 == b._1; case _ => true
    }, s"run coverage must be contiguous: $runs")
    assert(runs.exists(_._1 > 0),
      s"tiering must produce a run that does NOT start at 0 (no full refold): $runs")
    // with compactEvery=2/fanout=2 over 12 batches, at least one merge
    // above tier 0 must have happened (a run spanning >= 4 batches)
    assert(runs.exists(r => r._2 - r._1 >= 4),
      s"at least one tier-up merge expected: $runs")
  }

  test("dedupIngestSink probe plan: same kept corpus as the general shuffle form") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def body(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    // novel doc per batch + periodic near-dups of batch 0 and of the
    // previous batch — self-dedup, cross-dedup via the generation AND via
    // live dirs all exercised under both probe arms
    def batchDocs(b: Int): Seq[Doc] = {
      val novel = Doc(100L + b, body(s"n$b "))
      val dups = Seq(
        if (b % 3 == 2) Some(Doc(200L + b, body("n0 ") + " tail")) else None,
        if (b % 4 == 3) Some(Doc(300L + b, body(s"n${b - 1} ") + " more")) else None
      ).flatten
      novel +: dups
    }
    def run(probeMax: Long): Set[Long] = {
      val mem = MemoryStream[Doc]
      val out = graft.sources.ScratchDir.create("stream_probe")
      val q = Streams.dedupIngestSink(mem.toDF(), "doc_id", "text", out,
        compactEvery = 3, probeBroadcastMaxRows = probeMax).start()
      try {
        (0 until 8).foreach { b =>
          mem.addData(batchDocs(b): _*); q.processAllAvailable()
        }
      } finally q.stop()
      spark.read.parquet(s"$out/docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val general = run(probeMax = 0L)       // control: the shuffle form
    val probe = run(probeMax = 4L << 20)   // default: the broadcast probe
    assert(probe === general,
      "the probe plan must keep exactly the docs the general form keeps")
    assert(probe === (0 until 8).map(100L + _).toSet,
      s"novel docs kept, every planted near-dup dropped: $probe")
  }

  test("noveltyMonitor seen-set flip: identical log to the full-shuffle anti-join") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def body(tag: String, off: Int) =
      (1 to 20).map(i => s"$tag${i + off}").mkString(" ")
    def batchDocs(b: Int): Seq[Doc] = Seq(
      Doc(100L + b, body("n", b * 5)),              // overlapping novelty
      Doc(200L + b, body(s"u${b} ", 0)))            // fully fresh
    def run(probeMax: Long): Seq[(Long, Long, Long, Double)] = {
      val mem = MemoryStream[Doc]
      val out = graft.sources.ScratchDir.create("novelty_flip")
      val q = Streams.noveltyMonitor(mem.toDF(), "doc_id", "text", out,
        compactEvery = 3, probeBroadcastMaxGrams = probeMax).start()
      try {
        (0 until 7).foreach { b =>
          mem.addData(batchDocs(b): _*); q.processAllAvailable()
        }
      } finally q.stop()
      spark.read.parquet(s"$out/log").orderBy("batch_id").collect()
        .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("n_grams"),
          r.getAs[Long]("n_novel"), r.getAs[Double]("novelty"))).toSeq
    }
    val legacy = run(probeMax = 0L)      // control: full-index shuffle
    val flipped = run(probeMax = 4L << 20)
    assert(flipped === legacy,
      "the seen-set flip must not change any batch's novelty verdict")
    // the partial-overlap shape actually exercised both paths: novelty
    // strictly between 0 and 1 after batch 0
    assert(legacy.drop(1).forall(r => r._4 > 0.0 && r._4 < 1.0),
      s"partial overlap expected per batch: $legacy")
  }

  test("noveltyMonitor: novelty collapses on replayed content, index is first-seen-only") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val out = graft.sources.ScratchDir.create("stream_novelty")
    val q = Streams.noveltyMonitor(mem.toDF(), "doc_id", "text", out).start()
    try {
      val bodyA = (1 to 20).map(i => s"a$i").mkString(" ")
      mem.addData(Doc(1L, bodyA))
      q.processAllAvailable()
      mem.addData(Doc(2L, bodyA), Doc(3L, (1 to 20).map(i => s"c$i").mkString(" ")))
      q.processAllAvailable()
      val log = spark.read.parquet(s"$out/log")
        .orderBy("batch_id").collect()
        .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("n_grams"),
          r.getAs[Long]("n_novel"), r.getAs[Double]("novelty")))
      // batch 0: all 18 trigrams of bodyA novel
      assert(log(0) === ((0L, 18L, 18L, 1.0)))
      // batch 1: bodyA's 18 grams replayed + 18 new from doc 3
      assert(log(1)._2 === 36L && log(1)._3 === 18L && log(1)._4 === 0.5)
      // index holds each gram exactly once, across both batches
      val idx = spark.read.parquet(s"$out/grams")
      assert(idx.count() === 36L)
      assert(idx.select("s").distinct().count() === 36L)
    } finally q.stop()
  }

  test("noveltyMonitor compaction: identical novelty log, generations supersede batch dirs") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 8 batches: each brings one novel doc, and every third batch ALSO
    // replays batch 0's content — the novel/seen split must stay exact
    // when the seen-gram lookup crosses a compaction boundary (the
    // compacted generation, not the deleted batch dirs, must hold the
    // early grams)
    val body0 = (1 to 20).map(i => s"a$i").mkString(" ")
    def batchDocs(b: Int): Seq[Doc] = {
      val novel = Doc(100L + b, (1 to 20).map(i => s"n${b}_$i").mkString(" "))
      if (b % 3 == 2) Seq(novel, Doc(200L + b, body0)) else Seq(novel)
    }
    def run(compactEvery: Int): (Seq[(Long, Long, Long, Double)], String) = {
      val mem = MemoryStream[Doc]
      val out = graft.sources.ScratchDir.create("novelty_compact")
      val q = Streams.noveltyMonitor(mem.toDF(), "doc_id", "text", out,
        compactEvery = compactEvery).start()
      try {
        (0 until 8).foreach { b =>
          mem.addData(batchDocs(b): _*); q.processAllAvailable()
        }
      } finally q.stop()
      (spark.read.parquet(s"$out/log").orderBy("batch_id").collect()
        .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("n_grams"),
          r.getAs[Long]("n_novel"), r.getAs[Double]("novelty"))).toSeq, out)
    }
    val (logNoCompact, _) = run(compactEvery = 1000000)
    val (logCompact, out) = run(compactEvery = 3)
    assert(logCompact === logNoCompact,
      "compaction must not change any batch's novelty verdict")
    // batch 2 is body0's FIRST appearance (36 novel); batch 5 replays it
    // and by then batches 0-2 live in the gen=3 snapshot, so the
    // seen-verdict comes from the COMPACTED generation (18 novel = only
    // that batch's fresh doc)
    assert(logCompact(2) === ((2L, 36L, 36L, 1.0)),
      s"batch 2 introduces body0: $logCompact")
    assert(logCompact(5) === ((5L, 36L, 18L, 0.5)),
      s"batch 5's replay must read SEEN from the compacted generation: $logCompact")
    // a generation exists and superseded batch dirs are deleted
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def subdirs(d: String): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(d))
        .map(_.getPath.getName).toSet.filter(_.contains("="))
    val gens = subdirs(s"$out/gramsc")
    assert(gens.nonEmpty, "a compacted gram run must exist")
    // runs are named gen=<lo>_<hi> covering live batches [lo, hi)
    def hiOf(name: String): Long =
      name.stripPrefix("gen=").split('_').last.toLong
    val coverEnd = gens.map(hiOf).max
    val liveIds = subdirs(s"$out/grams").map(_.stripPrefix("batch=").toLong)
    assert(liveIds.forall(_ >= coverEnd),
      s"gram batch dirs below coverage end $coverEnd must be deleted: $liveIds")
    // first-seen-only survives compaction: each gram exactly once across
    // runs + live, and body0's grams (the "aN"-prefixed ones) keep their
    // first-seen batch=2 through the fold
    val gen = spark.read.parquet(
      gens.toSeq.map(g => s"$out/gramsc/$g"): _*)
      .select(col("s"), col("batch").cast("long").as("batch"))
    val live = spark.read.parquet(s"$out/grams")
      .select(col("s"), col("batch").cast("long").as("batch"))
      .filter(col("batch") >= coverEnd)
    val all = gen.select("s", "batch").unionByName(live)
    assert(all.count() === all.select("s").distinct().count(),
      "each gram must appear exactly once across gen+live")
    val body0Batches = all.filter(col("s").startsWith("a"))
      .select("batch").distinct().collect().map(_.getLong(0)).toSeq
    assert(body0Batches === Seq(2L),
      s"body0's grams must keep first-seen batch=2 through compaction: $body0Batches")
  }

  test("upsertSink retention GC bounds versions to keepVersions, latest state intact") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = graft.sources.ScratchDir.create("stream_upsert_gc")
    // snapshotEvery=1: per-batch snapshots, the r14 cadence — GC runs
    // every batch and must bound BOTH snapshot and delta dirs
    val q = Streams.upsertSink(mem.toDF(), Seq("event_id"), out,
      keepVersions = 2, snapshotEvery = 1).start()
    try {
      // 5 batches: insert key b with value b, plus re-upsert key 0 so the
      // merge path always has work
      (0 until 5).foreach { b =>
        mem.addData(Ev(ts(s"2024-01-01 10:0$b:00"), b.toLong, b.toDouble, b.toLong),
          Ev(ts(s"2024-01-01 10:0$b:30"), 100L + b, b.toDouble, 0L))
        q.processAllAvailable()
      }
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      def dirs(prefix: String): Seq[Long] =
        fs.listStatus(new org.apache.hadoop.fs.Path(out))
          .map(_.getPath.getName).filter(_.startsWith(prefix))
          .map(_.stripPrefix(prefix).toLong).sorted.toSeq
      assert(dirs("v=") === Seq(3L, 4L),
        s"GC must keep exactly the 2 newest versions, got ${dirs("v=")}")
      // deltas at/below the second-newest snapshot are folded + GC'd
      assert(dirs("d=") === Seq(4L),
        s"only the newest snapshot's delta window survives, got ${dirs("d=")}")
      // the maintained state is unaffected: all 5 inserted keys present,
      // key 0 carries the last batch's value
      val latest = Streams.latestTable(spark, out, Seq("event_id")).get
      assert(latest.count() === 5L)
      val key0 = latest.filter(col("event_id") === 0L)
        .select("value").head().getDouble(0)
      assert(key0 === 4.0, s"key 0 must carry the final upsert, got $key0")
    } finally q.stop()
  }

  test("psiMonitor logs per-batch drift vs a static reference") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val log = graft.sources.ScratchDir.create("psi_log")
    // reference: values uniform over 0..9
    val ref = (0 until 100).map(i => (i % 10).toDouble).toDF("value")
    val q = Streams.psiMonitor(mem.toDF(), ref, "value", log).start()
    try {
      // batch 0 matches the reference; batch 1 is shifted far outside
      mem.addData((0 until 100).map(i =>
        Ev(ts("2024-01-01 10:00:00"), i.toLong, (i % 10).toDouble, i.toLong)): _*)
      q.processAllAvailable()
      mem.addData((0 until 100).map(i =>
        Ev(ts("2024-01-01 10:01:00"), i.toLong, 100.0 + (i % 10), i.toLong)): _*)
      q.processAllAvailable()
      val logged = spark.read.parquet(log)
        .select("batch_id", "psi").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(logged.size === 2)
      assert(logged(0L) < 0.01, s"matching batch must be stable, got ${logged(0L)}")
      assert(logged(1L) > 0.25, s"shifted batch must flag a break, got ${logged(1L)}")
    } finally q.stop()
  }

  test("batch and streaming session windows agree on the same data") {
    val s = spark
    import s.implicits._
    val batch = Seq(
      Ev(ts("2024-01-01 10:00:00"), 1L, 1.0, 1),
      Ev(ts("2024-01-01 10:05:00"), 1L, 1.0, 2),
      Ev(ts("2024-01-01 10:30:00"), 1L, 1.0, 3)).toDF()
    val out = Streams.sessionAgg(batch, "ts", "10 minutes", "user_id")
      .orderBy("session_start").collect()
    assert(out.map(_.getLong(2)).toSeq === Seq(2L, 1L))
  }
}
