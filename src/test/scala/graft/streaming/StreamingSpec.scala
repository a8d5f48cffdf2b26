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

  test("watermarked tumbling aggregation drops events later than the watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = Streams.watermarkedTumbling(
      mem.toDF(), "ts", "10 minutes", "1 hour", "user_id")
    val q = agg.writeStream.format("memory").queryName("wm_tumbling")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        Ev(ts("2024-01-01 10:05:00"), 1L, 1.0, 1),
        Ev(ts("2024-01-01 10:55:00"), 1L, 2.0, 2))
      q.processAllAvailable()
      // advance event time far enough to close the 10:00 window
      mem.addData(Ev(ts("2024-01-01 12:00:00"), 1L, 4.0, 3))
      q.processAllAvailable()
      // a late event for the already-closed 10:00 window: dropped
      mem.addData(Ev(ts("2024-01-01 10:30:00"), 1L, 100.0, 4))
      q.processAllAvailable()
      val rows = spark.table("wm_tumbling")
        .select("wstart", "n", "total_value").orderBy("wstart").collect()
      assert(rows.length === 1) // only the closed 10:00 window emitted so far
      assert(rows.head.getTimestamp(0) === ts("2024-01-01 10:00:00"))
      assert(rows.head.getLong(1) === 2L) // late event NOT counted
      assert(rows.head.getDouble(2) === 3.0)
    } finally q.stop()
  }

  test("streaming dedup within watermark removes re-deliveries, bounded state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = Streams.streamingDedup(mem.toDF(), "ts", "30 minutes", Seq("event_id"))
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        Ev(ts("2024-01-01 10:00:00"), 1L, 1.0, 100),
        Ev(ts("2024-01-01 10:01:00"), 1L, 1.0, 100), // duplicate id
        Ev(ts("2024-01-01 10:02:00"), 2L, 2.0, 101))
      q.processAllAvailable()
      mem.addData(Ev(ts("2024-01-01 10:03:00"), 1L, 1.0, 100)) // re-delivery
      q.processAllAvailable()
      assert(spark.table("dedup_stream").count() === 2)
    } finally q.stop()
  }

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

  test("rate monitor z-scores a spike against its trailing hours across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val monitor = Streams.rateMonitor(mem.toDF(), "user_id", "ts", trailingHours = 24)
    val q = monitor.writeStream.format("memory").queryName("rate_monitor")
      .outputMode("update").start()
    try {
      // batch 1: a flat baseline — hours 10:00..13:00 at 5 events each
      val base = for {
        h <- 10 to 13; i <- 1 to 5
      } yield Ev(ts(f"2024-01-01 $h%02d:15:00"), 1L, 1.0, (h * 100 + i).toLong)
      mem.addData(base: _*)
      q.processAllAvailable()
      // batch 2: a 25-event spike at 14:00 — z vs {5,5,5,5} (std 0) is
      // None... so vary the baseline slightly first
      mem.addData(Ev(ts("2024-01-01 13:40:00"), 1L, 1.0, 9000L))
      q.processAllAvailable()
      val spike = (1 to 25).map(i => Ev(ts("2024-01-01 14:05:00"), 1L, 1.0, 9100L + i))
      mem.addData(spike: _*)
      q.processAllAvailable()
      val rows = spark.table("rate_monitor").collect()
        .map(r => (r.getAs[Long]("hour_us"), r.getAs[Long]("cnt"),
          r.getAs[Long]("n_baseline"), Option(r.getAs[java.lang.Double]("z"))))
      val hour14 = ts("2024-01-01 14:00:00").getTime * 1000L
      val spikeRow = rows.filter(_._1 == hour14).last
      assert(spikeRow._2 === 25L, "spike hour count")
      assert(spikeRow._3 === 4L, "baseline = the 4 trailing hours in state")
      // baseline {5,5,5,6}: mean 5.25, std 0.5 → z = (25 − 5.25)/0.5 = 39.5
      assert(spikeRow._4.exists(z => math.abs(z - 39.5) < 1e-9), s"z was ${spikeRow._4}")
      // the flat-baseline emission for hour 13 (batch 2) had std 0 → z None
      val hour13 = ts("2024-01-01 13:00:00").getTime * 1000L
      val h13 = rows.filter(_._1 == hour13).last
      assert(h13._2 === 6L && h13._4.isEmpty, "flat baseline yields no z")
    } finally q.stop()
  }

  test("rate monitor evicts hours beyond the trailing span (bounded state)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val monitor = Streams.rateMonitor(mem.toDF(), "user_id", "ts", trailingHours = 2)
    val q = monitor.writeStream.format("memory").queryName("rate_monitor_evict")
      .outputMode("update").start()
    try {
      mem.addData(Ev(ts("2024-01-01 00:30:00"), 1L, 1.0, 1L),
        Ev(ts("2024-01-01 01:30:00"), 1L, 1.0, 2L))
      q.processAllAvailable()
      // jump far ahead: hour 10 — hours 0 and 1 must evict, so its
      // baseline is empty; and a LATE event for hour 0 is now dropped
      mem.addData(Ev(ts("2024-01-01 10:00:00"), 1L, 1.0, 3L))
      q.processAllAvailable()
      mem.addData(Ev(ts("2024-01-01 00:45:00"), 1L, 1.0, 4L)) // too old
      q.processAllAvailable()
      val rows = spark.table("rate_monitor_evict").collect()
        .map(r => (r.getAs[Long]("hour_us"), r.getAs[Long]("cnt"), r.getAs[Long]("n_baseline")))
      val hour10 = ts("2024-01-01 10:00:00").getTime * 1000L
      assert(rows.filter(_._1 == hour10).last._3 === 0L, "evicted baseline")
      val hour0 = ts("2024-01-01 00:00:00").getTime * 1000L
      // the late event beyond the span emitted nothing new for hour 0
      assert(!rows.exists(r => r._1 == hour0 && r._2 == 2L), "late drop")
    } finally q.stop()
  }

  test("trending monitor keeps MG guarantees across micro-batches with bounded state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val cap = 8
    val monitor = Streams.trendingTermsMonitor(
      mem.toDF().withColumn("k", lit("all")), "k", "text", capacity = cap)
    val q = monitor.writeStream.format("memory").queryName("trending")
      .outputMode("update").start()
    // far more distinct terms than capacity; "hot" dominates batch 1,
    // "surge" takes over in batch 2
    def doc(id: Long, words: Seq[String]) = Doc(id, words.mkString(" "))
    val rnd = new scala.util.Random(31)
    def noise(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(500)}")
    try {
      mem.addData((0L until 20L).map(i => doc(i, Seq.fill(12)("hot") ++ noise(8))): _*)
      q.processAllAvailable()
      val b1 = spark.table("trending").orderBy("processed").collect().last
      val terms1 = b1.getSeq[Row](b1.fieldIndex("terms")).map(r => (r.getString(0), r.getLong(1)))
      assert(b1.getAs[Long]("processed") === 400L)
      assert(terms1.size <= cap)
      assert(terms1.head._1 === "hot") // 240/400 — far above the n/(cap+1) blind spot
      assert(terms1.head._2 <= 240L)   // MG counts are lower bounds
      // batch 2: a new term surges; the standing state must admit it
      mem.addData((100L until 140L).map(i => doc(i, Seq.fill(15)("surge") ++ noise(5))): _*)
      q.processAllAvailable()
      val b2 = spark.table("trending").orderBy("processed").collect().last
      val terms2 = b2.getSeq[Row](b2.fieldIndex("terms")).map(r => (r.getString(0), r.getLong(1)))
      assert(b2.getAs[Long]("processed") === 1200L)
      assert(terms2.size <= cap)
      val asMap = terms2.toMap
      // both true heavies (hot 240/1200=20%, surge 600/1200=50%) survive:
      // each clears the 1/(cap+1)=11% blind spot of the full stream
      assert(asMap.contains("surge") && asMap.contains("hot"))
      assert(asMap("surge") <= 600L && asMap("hot") <= 240L)
      // lower-bound error is within the MG guarantee n/(cap+1)
      assert(600L - asMap("surge") <= 1200L / (cap + 1))
    } finally q.stop()
  }

  test("evicting profile drops state for keys idle past the watermark horizon") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // 10-minute watermark, 1-hour idle gap
    val profiles = Streams.incrementalProfileEvicting(
      mem.toDF(), "ts", "10 minutes", "user_id", "value", idleGapMs = 3600 * 1000L)
    val q = profiles.writeStream.format("memory").queryName("inc_profile_evict")
      .outputMode("update").start()
    try {
      mem.addData(
        Ev(ts("2024-01-01 10:00:00"), 1L, 2.0, 1),
        Ev(ts("2024-01-01 10:01:00"), 1L, 4.0, 2),
        Ev(ts("2024-01-01 10:00:00"), 2L, 1.0, 3))
      q.processAllAvailable()
      // key 2 keeps flowing; key 1 goes silent. Watermark moves to 12:50,
      // far past key 1's timeout (10:01 + 1h) -> its state is evicted.
      mem.addData(Ev(ts("2024-01-01 13:00:00"), 2L, 1.0, 4))
      q.processAllAvailable()
      mem.addData(Ev(ts("2024-01-01 13:01:00"), 2L, 1.0, 5)) // let the timeout batch run
      q.processAllAvailable()
      // key 1 comes back: a fresh profile, NOT a continuation
      mem.addData(Ev(ts("2024-01-01 13:02:00"), 1L, 10.0, 6))
      q.processAllAvailable()
      val key1 = spark.table("inc_profile_evict").filter($"key" === "1")
        .select("count", "mean").collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(key1.contains((2L, 3.0)))  // pre-eviction profile of [2,4]
      assert(key1.contains((1L, 10.0))) // restarted from zero after eviction
      assert(!key1.exists(_._1 === 3L)) // never merged across the eviction
    } finally q.stop()
  }

  test("file-source stream: hourly aggregation over the events parquet") {
    val dir = java.nio.file.Files.createTempDirectory("evstream")
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

  test("left-outer interval join emits unmatched lefts with nulls after the watermark passes") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[Ev]
    val payments = MemoryStream[Ev]
    // payments join their order within [0, 10 min]; an order with no
    // payment must still surface (null right) once provably unmatched
    val joined = Streams.intervalJoinLeftOuter(
      orders.toDF(), payments.toDF(), "user_id", "ts", "5 minutes",
      beforeMs = 0L, afterMs = 10 * 60 * 1000L)
      .select(col("user_id"), col("event_id"), col("event_id_r"))
    val q = joined.writeStream.format("memory").queryName("ss_left_join")
      .outputMode(OutputMode.Append()).start()
    try {
      orders.addData(
        Ev(ts("2024-01-01 10:00:00"), 1L, 1.0, 10), // will be paid in time
        Ev(ts("2024-01-01 10:00:00"), 2L, 1.0, 20)) // never paid in window
      payments.addData(
        Ev(ts("2024-01-01 10:05:00"), 1L, 1.0, 11),
        Ev(ts("2024-01-01 10:30:00"), 2L, 1.0, 21)) // too late to match
      q.processAllAvailable()
      // push both watermarks far past the join window so the engine can
      // PROVE order 20 is unmatched and emit its null row
      orders.addData(Ev(ts("2024-01-01 12:00:00"), 9L, 1.0, 90))
      payments.addData(Ev(ts("2024-01-01 12:00:00"), 9L, 1.0, 91))
      q.processAllAvailable()
      val rows = spark.table("ss_left_join")
        .filter($"user_id" < 9).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2)))
      assert(rows.toSet === Set((1L, 10L, 11L), (2L, 20L, -1L)),
        s"matched pair + null-padded unmatched order: ${rows.toSeq}")
    } finally q.stop()
  }

  test("stream-static broadcast enrichment joins each micro-batch, keeps unmatched events") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val dims = Seq((1L, "gold"), (2L, "silver")).toDF("dim_user", "segment")
    val enriched = Streams.enrichWithStatic(mem.toDF(), dims, "user_id", "dim_user")
      .select("event_id", "user_id", "segment")
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Ev(ts("2024-01-01 10:00:00"), 1L, 1.0, 1))
      q.processAllAvailable()
      mem.addData(
        Ev(ts("2024-01-01 10:01:00"), 2L, 1.0, 2),
        Ev(ts("2024-01-01 10:02:00"), 99L, 1.0, 3)) // no dim row
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getLong(0), Option(r.getString(2)))).toSet
      assert(rows === Set((1L, Some("gold")), (2L, Some("silver")), (3L, None)))
      // the per-batch plan must broadcast the dimension, not shuffle the stream
      val plan = spark.table("enriched").sparkSession.streams.active
        .find(_.name == "enriched").get.lastProgress
      assert(plan != null)
    } finally q.stop()
  }

  test("foreachBatch integrates the stream with the compacting sink") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = java.nio.file.Files.createTempDirectory("stream_compact").toString
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
    val out = java.nio.file.Files.createTempDirectory("stream_upsert").toString
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
    val out = java.nio.file.Files.createTempDirectory("stream_ingest").toString
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
      val out = java.nio.file.Files.createTempDirectory("stream_compact").toString
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
      val out = java.nio.file.Files.createTempDirectory("stream_tiered").toString
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
      val out = java.nio.file.Files.createTempDirectory("stream_probe").toString
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

  test("deconIngestSink drops planted contaminated docs across batch boundaries") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def body(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    // the eval set: one benchmark document whose 3-grams are the poison
    val bench = Seq((100L, body("eval"))).toDF("doc_id", "text")
    val mem = MemoryStream[Doc]
    val out = java.nio.file.Files.createTempDirectory("stream_decon").toString
    val q = Streams.deconIngestSink(mem.toDF(), "doc_id", "text",
      bench, "doc_id", "text", out).start()
    try {
      def corpus() = spark.read.parquet(s"$out/docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // batch 0: clean doc + a doc quoting an eval 3-gram mid-text
      mem.addData(Doc(1L, body("a")),
        Doc(2L, "prefix words eval3 eval4 eval5 suffix here"))
      q.processAllAvailable()
      assert(corpus() === Set(1L), s"batch-0 contaminated doc must drop: ${corpus()}")
      // batch 1 (across the boundary): another contaminated doc — the
      // standing eval index, not per-batch state, must catch it — plus a
      // clean doc sharing no gram
      mem.addData(Doc(10L, body("eval")), Doc(11L, body("c")))
      q.processAllAvailable()
      assert(corpus() === Set(1L, 11L), s"batch-1 contaminated doc must drop: ${corpus()}")
      // sub-n overlap is NOT contamination: 2 shared words, no shared 3-gram
      mem.addData(Doc(20L, "eval1 eval2 unrelated tail words padding four"))
      q.processAllAvailable()
      assert(corpus() === Set(1L, 11L, 20L), s"2-word overlap must survive: ${corpus()}")
    } finally q.stop()
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
      val out = java.nio.file.Files.createTempDirectory("novelty_flip").toString
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
    val out = java.nio.file.Files.createTempDirectory("stream_novelty").toString
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
      val out = java.nio.file.Files.createTempDirectory("novelty_compact").toString
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
    val out = java.nio.file.Files.createTempDirectory("stream_upsert_gc").toString
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
    val log = java.nio.file.Files.createTempDirectory("psi_log").toString
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

  test("categoricalPsiMonitor flags a category-mix break vs a static reference") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val log = java.nio.file.Files.createTempDirectory("catpsi_log").toString
    // reference: four languages in equal shares (text plays the category)
    val ref = (0 until 100).map(i => s"lang_${i % 4}").toDF("text")
    val q = Streams.categoricalPsiMonitor(mem.toDF(), ref, "text", log).start()
    try {
      // batch 0 matches the reference mix; batch 1 collapses to one value
      mem.addData((0 until 100).map(i => Doc(i.toLong, s"lang_${i % 4}")): _*)
      q.processAllAvailable()
      mem.addData((0 until 100).map(i => Doc(i.toLong, "lang_0")): _*)
      q.processAllAvailable()
      val logged = spark.read.parquet(log)
        .select("batch_id", "psi", "n_categories").collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
      assert(logged.size === 2)
      assert(logged(0L)._1 < 0.01, s"matching mix must be stable: ${logged(0L)}")
      assert(logged(1L)._1 > 0.25, s"collapsed mix must flag a break: ${logged(1L)}")
      assert(logged(0L)._2 === 4L)
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

  test("engagement monitor folds exact half-life decay across batches; late events self-decay") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val t0 = ts("2024-01-02 00:00:00")
    val t7 = ts("2024-01-09 00:00:00") // exactly one 7-day half-life later
    val monitor = Streams.engagementMonitor(mem.toDF(), "user_id", "ts", "value", 7.0)
    val q = monitor.writeStream.format("memory").queryName("engagement")
      .outputMode("update").start()
    try {
      mem.addData(Ev(t0, 1L, 8.0, 1), Ev(t0, 2L, 4.0, 2))
      q.processAllAvailable()
      val b1 = spark.table("engagement").collect()
        .map(r => r.getString(0) -> r.getDouble(2)).toMap
      assert(math.abs(b1("1") - 8.0) < 1e-9 && math.abs(b1("2") - 4.0) < 1e-9)
      // batch 2: user 1 advances one half-life (8 -> 4, +10) and then a
      // LATE event at t0 arrives, decaying itself (2 -> 1)
      mem.addData(Ev(t7, 1L, 10.0, 3), Ev(t0, 1L, 2.0, 4))
      q.processAllAvailable()
      val b2 = spark.table("engagement").collect()
        .filter(_.getString(0) == "1").maxBy(_.getLong(1))
      assert(b2.getLong(1) === 3L)
      assert(math.abs(b2.getDouble(2) - (8.0 * 0.5 + 10.0 + 2.0 * 0.5)) < 1e-9,
        s"got ${b2.getDouble(2)}")
      assert(b2.getLong(3) === t7.getTime * 1000L)
      // the folded state equals the batch operator on the same events
      // (user 1's last-seen IS the global max ts, so references coincide)
      val batch = Seq(Ev(t0, 1L, 8.0, 1), Ev(t7, 1L, 10.0, 3), Ev(t0, 1L, 2.0, 4)).toDF()
      val ref = graft.operators.Stats.decayedSum(batch, "user_id", "ts", "value", 7.0)
        .head()
      assert(math.abs(ref.getDouble(2) - b2.getDouble(2)) < 1e-9)
    } finally q.stop()
  }

  test("engagement monitor stays silent for keys that have only null events") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Row-typed stream so ts can actually be null per event.
    val mem = MemoryStream[(String, Option[Timestamp], Option[Double])]
    val t0 = ts("2024-01-02 00:00:00")
    val monitor = Streams.engagementMonitor(
      mem.toDF().toDF("user_id", "ts", "value"), "user_id", "ts", "value", 7.0)
    val q = monitor.writeStream.format("memory").queryName("engagement_null")
      .outputMode("update").start()
    try {
      // key "n" never folds a valid event — no update may leak the
      // Long.MinValue last_seen sentinel; key "1" emits normally.
      mem.addData(("n", None, Some(1.0)), ("n", Some(t0), None),
        ("1", Some(t0), Some(8.0)))
      q.processAllAvailable()
      val rows = spark.table("engagement_null").collect()
      assert(rows.map(_.getString(0)).toSet === Set("1"))
      // once a real event arrives, the key surfaces with n counting only
      // the valid folds
      mem.addData(("n", Some(t0), Some(2.0)))
      q.processAllAvailable()
      val n = spark.table("engagement_null").collect()
        .filter(_.getString(0) == "n")
      assert(n.length === 1 && n.head.getLong(1) === 1L &&
        n.head.getLong(3) === t0.getTime * 1000L)
    } finally q.stop()
  }
}
