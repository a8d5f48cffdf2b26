package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec

/** Kill-and-restore tests for the mapGroupsWithState /
  * flatMapGroupsWithState monitors: each query is stopped mid-stream and
  * restarted from its checkpoint, and the post-restart emissions must
  * continue from the ACCUMULATED state (counts, sketches, decay folds),
  * not restart from zero. The sinks' replay-safety is covered in
  * StreamingSpec; this is the state-store recovery contract for the
  * monitors themselves. MemoryStream retains its batches in-process, so
  * a restarted query re-resolves the checkpointed offsets against the
  * same source instance — the single-JVM analogue of an executor/driver
  * loss on a real cluster. */
class StreamingRecoverySpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Run `monitor` through a foreachBatch-buffered query (foreachBatch is
    * the recovery-capable sink; the memory sink refuses checkpoint
    * restarts), collecting every emission. */
  private def runWithCheckpoint[T](monitor: Dataset[T], ckpt: String,
      buf: ArrayBuffer[T]): StreamingQuery =
    monitor.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (ds: Dataset[T], _: Long) =>
        val rows = ds.collect()
        buf.synchronized { buf ++= rows }
        ()
      }
      .start()

  private def tmpCkpt(tag: String): String =
    graft.sources.ScratchDir.create(s"graft_ckpt_$tag")

  test("quantile monitor restores its KLL state from the checkpoint") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val ckpt = tmpCkpt("kll")
    val buf = ArrayBuffer[QuantileUpdate]()
    def monitor = Streams.quantileMonitor(mem.toDF(), "user_id", "value", Seq(0.5))

    val q1 = runWithCheckpoint(monitor, ckpt, buf)
    try {
      mem.addData(
        Ev(ts("2024-01-01 10:00:00"), 1L, 1.0, 1),
        Ev(ts("2024-01-01 10:01:00"), 1L, 2.0, 2),
        Ev(ts("2024-01-01 10:02:00"), 1L, 3.0, 3),
        Ev(ts("2024-01-01 10:03:00"), 1L, 4.0, 4))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(buf.last.count === 4L)

    val q2 = runWithCheckpoint(monitor, ckpt, buf)
    try {
      mem.addData(
        Ev(ts("2024-01-01 10:04:00"), 1L, 5.0, 5),
        Ev(ts("2024-01-01 10:05:00"), 1L, 6.0, 6))
      q2.processAllAvailable()
      val last = buf.synchronized(buf.last)
      // state survived the restart: the sketch holds all 6 values, and at
      // this size KLL is exact — median of [1..6] under the sketch's
      // lower-rank convention
      assert(last.count === 6L,
        s"post-restart count must continue from checkpointed state, got ${last.count}")
      assert(last.quantiles.head === 3.0)
    } finally q2.stop()
  }

  // ---------------------------------------------------------------- sinks
  //
  // Mid-batch KILL tests for the parquet-maintaining sinks: a poison row
  // makes the first attempt of a batch die INSIDE the foreachBatch body
  // (local mode has task maxFailures=1, so one throw fails the query with
  // the batch's offsets logged but its commit missing), garbage is then
  // planted in the batch's output directory to simulate the torn write
  // the attempt may have left behind, and the query is restarted from the
  // checkpoint. Structured Streaming re-runs the SAME batch id over the
  // SAME data; the sinks' contract — derive only from versions/batches
  // STRICTLY BELOW the replaying id, overwrite your own directory — must
  // turn that at-least-once replay into exactly-once on-disk state: every
  // expected row present once, the planted garbage gone.

  /** Arms a file-flag poison: the returned column throws mid-batch for
    * `badId` while the flag file exists. */
  private def poisonOn(flagPath: String, badId: Long) = {
    val f = org.apache.spark.sql.functions.udf { (id: Long) =>
      if (id == badId && java.nio.file.Files.exists(java.nio.file.Paths.get(flagPath)))
        throw new RuntimeException("injected mid-batch kill")
      true
    }
    f
  }

  private def tmpDir(tag: String): String =
    graft.sources.ScratchDir.create(s"graft_kill_$tag")

  test("upsertSink: a batch killed mid-write replays into exactly-once versioned state") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = tmpDir("upsert")
    val ckpt = tmpCkpt("upsert_kill")
    val flag = s"${tmpDir("upsert_flag")}/armed"
    val poison = poisonOn(flag, badId = 99L)
    // snapshotEvery=2: batch 1 is the FOLD batch, so the kill lands on
    // the most delicate path — a replayed fold must rebuild from the
    // committed deltas, never from its own torn v=1 / d=1
    def start() = Streams.upsertSink(
        mem.toDF().filter(poison(col("event_id"))), Seq("event_id"), out,
        snapshotEvery = 2)
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    try {
      mem.addData(Ev(ts("2024-01-01 10:00:00"), 1L, 1.0, 1),
        Ev(ts("2024-01-01 10:01:00"), 2L, 2.0, 2))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(s"$out/d=0").count() === 2)

    // batch 1 (update key 2, insert key 99) dies on its first attempt
    java.nio.file.Files.createFile(java.nio.file.Paths.get(flag))
    mem.addData(Ev(ts("2024-01-01 10:02:00"), 2L, 99.0, 2),
      Ev(ts("2024-01-01 10:03:00"), 9L, 9.0, 99))
    val q2 = start()
    val err = intercept[Exception] { q2.processAllAvailable() }
    assert(err.toString.contains("injected") || err.getCause != null)
    q2.stop()
    // simulate the torn writes the dead attempt may have left: a partial
    // d=1 AND a marker-complete stale v=1 (the exact dirs the replay must
    // overwrite / refuse to use as its fold base)
    Seq(Ev(ts("2024-01-01 10:02:00"), 2L, -1.0, 2))
      .toDF().write.mode("overwrite").parquet(s"$out/d=1")
    Seq(Ev(ts("2024-01-01 10:02:00"), 2L, -1.0, 2))
      .toDF().write.mode("overwrite").parquet(s"$out/v=1")
    // even MARKER-COMPLETE, the replay's fold must not read its own v=1
    IndexStore.markCommitted(spark, s"$out/v=1")

    java.nio.file.Files.delete(java.nio.file.Paths.get(flag))
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()

    val latest = Streams.latestVersion(out).get
    assert(latest.endsWith("v=1"), s"the fold must land in its own version dir: $latest")
    val back = Streams.latestTable(spark, out, Seq("event_id")).get
      .select("event_id", "value").orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(back.toSeq === Seq((1L, 1.0), (2L, 99.0), (99L, 9.0)),
      s"exactly-once after kill+replay, got ${back.toSeq}")
    // the replayed fold rebuilt v=1 from d=0 + the rewritten d=1
    assert(spark.read.parquet(s"$out/v=1").count() === 3)
    assert(spark.read.parquet(s"$out/v=1")
      .filter(col("event_id") === 2L).select("value").head().getDouble(0) === 99.0)
  }

  test("upsertSink with retention GC: recovery replays from the kept window, versions stay bounded") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = tmpDir("upsert_gc")
    val ckpt = tmpCkpt("upsert_gc_kill")
    val flag = s"${tmpDir("upsert_gc_flag")}/armed"
    val poison = poisonOn(flag, badId = 99L)
    // snapshotEvery=1: per-batch folds, the tightest GC cadence
    def start() = Streams.upsertSink(
        mem.toDF().filter(poison(col("event_id"))), Seq("event_id"), out,
        keepVersions = 2, snapshotEvery = 1)
      .option("checkpointLocation", ckpt).start()

    // batches 0..2 run clean; GC has already deleted v=0 by batch 2
    val q1 = start()
    try {
      (0 until 3).foreach { b =>
        mem.addData(Ev(ts(s"2024-01-01 10:0$b:00"), b.toLong, b.toDouble, b.toLong))
        q1.processAllAvailable()
      }
    } finally q1.stop()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def dirs(prefix: String): Seq[Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(out))
        .map(_.getPath.getName).filter(_.startsWith(prefix))
        .map(_.stripPrefix(prefix).toLong).sorted.toSeq
    assert(dirs("v=") === Seq(1L, 2L), s"GC must have trimmed v=0: ${dirs("v=")}")

    // batch 3 dies on its first attempt, leaving torn d=3 and v=3
    java.nio.file.Files.createFile(java.nio.file.Paths.get(flag))
    mem.addData(Ev(ts("2024-01-01 10:03:00"), 9L, 9.0, 99))
    val q2 = start()
    intercept[Exception] { q2.processAllAvailable() }
    q2.stop()
    Seq(Ev(ts("2024-01-01 10:03:00"), 9L, -1.0, 99))
      .toDF().write.mode("overwrite").parquet(s"$out/d=3")
    Seq(Ev(ts("2024-01-01 10:03:00"), 9L, -1.0, 99))
      .toDF().write.mode("overwrite").parquet(s"$out/v=3")

    // replay derives from v=2 + the rewritten d=3 — inside the GC window
    java.nio.file.Files.delete(java.nio.file.Paths.get(flag))
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()

    val latest = Streams.latestVersion(out).get
    assert(latest.endsWith("v=3"), s"replay must land in its own version dir: $latest")
    val back = Streams.latestTable(spark, out, Seq("event_id")).get
      .select("event_id", "value").orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(back.toSeq === Seq((0L, 0.0), (1L, 1.0), (2L, 2.0), (99L, 9.0)),
      s"exactly-once after kill+replay with GC on, got ${back.toSeq}")
    assert(dirs("v=") === Seq(2L, 3L),
      s"version count must stay bounded after recovery: ${dirs("v=")}")
    assert(dirs("d=") === Seq(3L),
      s"delta dirs must stay bounded after recovery: ${dirs("d=")}")
  }

  test("dedupIngestSink: a killed batch replays against the strictly-below index, no dup or loss") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    def body(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    val mem = MemoryStream[Doc]
    val out = tmpDir("ingest")
    val ckpt = tmpCkpt("ingest_kill")
    val flag = s"${tmpDir("ingest_flag")}/armed"
    val poison = poisonOn(flag, badId = 99L)
    def start() = Streams.dedupIngestSink(
        mem.toDF().filter(poison(col("doc_id"))), "doc_id", "text", out)
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    try {
      mem.addData(Doc(1L, body("a")), Doc(2L, body("b")))
      q1.processAllAvailable()
    } finally q1.stop()

    // batch 1: near-dup of corpus doc 2 (must drop), novel 11 and 99
    java.nio.file.Files.createFile(java.nio.file.Paths.get(flag))
    mem.addData(Doc(10L, body("b") + " extra"), Doc(11L, body("c")),
      Doc(99L, body("d")))
    val q2 = start()
    intercept[Exception] { q2.processAllAvailable() }
    q2.stop()
    // torn write: the dead attempt landed the corpus dir WITH the doc
    // that dedup should drop, and none of its index rows — the
    // corpus/index desync the overwrite-replay contract must repair
    Seq(Doc(10L, body("b") + " extra"), Doc(11L, body("c")))
      .toDF().write.mode("overwrite").parquet(s"$out/docs/batch=1")

    java.nio.file.Files.delete(java.nio.file.Paths.get(flag))
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()

    val corpus = spark.read.parquet(s"$out/docs")
      .select("doc_id").collect().map(_.getLong(0))
    assert(corpus.sorted.toSeq === Seq(1L, 2L, 11L, 99L),
      s"near-dup dropped, survivors exactly once: ${corpus.toSeq.sorted}")
    // the standing index tracks exactly the kept docs (no rows for 10,
    // none missing for 11/99) — corpus and index re-synced by the replay
    for (idx <- Seq("sh", "bk")) {
      val ids = spark.read.parquet(s"$out/$idx")
        .select("id").distinct().collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 2L, 11L, 99L), s"$idx index out of sync: $ids")
    }
  }
}
