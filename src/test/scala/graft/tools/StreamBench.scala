package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Dev-only SUSTAINED-STREAM evidence harness (VERDICT r12 #4): the
  * stateful monitors and ingest sinks are correctness-proven
  * (StreamingSpec + kill-and-replay recovery), but their 100 TB
  * claim — per-key state stays O(keys × sketch) FLAT over an unbounded
  * stream, and throughput does not sag as state ages — was argued from
  * big-O, never measured. This drives the monitors and sinks through
  * ~100 MemoryStream micro-batches and records per-batch wall time plus
  * the state store's own accounting (`lastProgress.stateOperators`:
  * numRowsTotal / stateMemory) for the keyed monitor, or the on-disk
  * footprint for the foreachBatch sinks. Scenarios: quantile_monitor,
  * dedup_ingest, novelty_monitor, psi_monitor and upsert_maintain; for
  * example:
  *
  *  - quantile_monitor: KLL(k=200) per key via mapGroupsWithState — the
  *    sketch is size-capped, so state bytes must PLATEAU once every key
  *    has been seen, no matter how many rows stream through.
  *  - dedup_ingest: the LSH dedup sink — state is the on-disk
  *    shingle/band index, which GROWS with unique kept docs by design;
  *    the measured claim is that per-batch latency grows sub-linearly
  *    (band-bucket probes, never batch × index).
  *
  *   sbt "Test/runMain graft.tools.StreamBench [batches] [rowsPerBatch] [keys]"
  *
  * Prints one JSON line per scenario; flatness is reported as the ratio
  * of late-window state bytes (and per-batch seconds) to an early
  * window, so host noise reads as ≈1.0 and a leak reads as the batch
  * count ratio. */
object StreamBench {

  private def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(x => dirBytes(x.getPath)).sum).getOrElse(0L)
  }

  private def r3(d: Double): String = f"$d%.3f"

  /** Median of a window — robust against one-off GC/JIT stalls. */
  private def med(xs: Seq[Double]): Double = {
    val s = xs.sorted; s(s.size / 2)
  }

  def main(args: Array[String]): Unit = {
    val batches = args.lift(0).map(_.toInt).getOrElse(100)
    val rowsPerBatch = args.lift(1).map(_.toInt).getOrElse(20000)
    val keys = args.lift(2).map(_.toInt).getOrElse(50)
    // optional 4th arg: comma-separated scenario filter
    val only = args.lift(3).map(_.split(',').toSet)
    def wanted(name: String) = only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Kit.session(cpus)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rnd = new scala.util.Random(42)
    def report(name: String, secs: Vector[Double], rows: Long,
        stateRows: Vector[Long], stateBytes: Vector[Long]): Unit = {
      val n = secs.size
      val early = (n / 10) until (2 * n / 10) // batches 10..20% (post-JIT)
      val late = (8 * n / 10) until n
      def win(v: Vector[Double], w: Range) = med(w.map(v).toSeq)
      val j = Seq(
        s""""scenario":"$name"""",
        s""""batches":$n""",
        s""""rows_total":$rows""",
        s""""rows_per_sec":${r3(rows / secs.sum)}""",
        s""""sec_per_batch_early":${r3(win(secs, early))}""",
        s""""sec_per_batch_late":${r3(win(secs, late))}""",
        s""""latency_ratio":${r3(win(secs, late) / win(secs, early))}""",
        s""""state_rows_final":${stateRows.lastOption.getOrElse(-1L)}""",
        s""""state_bytes_early":${stateBytes.lift(early.start).getOrElse(-1L)}""",
        s""""state_bytes_late":${stateBytes.lastOption.getOrElse(-1L)}""",
        s""""state_ratio":${r3(stateBytes.lastOption.getOrElse(0L).toDouble /
          math.max(1L, stateBytes.lift(early.start).getOrElse(0L)))}""")
      println(j.mkString("{", ",", "}"))
    }

    // ----- 1. quantileMonitor: KLL(200) per key, Update mode ------------
    if (wanted("quantile_monitor")) {
      val mem = MemoryStream[(String, Double)]
      val q = graft.streaming.Streams
        .quantileMonitor(mem.toDF().toDF("k", "v"), "k", "v",
          probs = Seq(0.5, 0.95, 0.99))
        .writeStream.format("memory").queryName("sb_quantile")
        .outputMode(OutputMode.Update()).start()
      val secs = Vector.newBuilder[Double]
      val stRows = Vector.newBuilder[Long]
      val stBytes = Vector.newBuilder[Long]
      try {
        (0 until batches).foreach { _ =>
          mem.addData((0 until rowsPerBatch).map(i =>
            (s"k${rnd.nextInt(keys)}", rnd.nextGaussian() * 10 + 50)))
          val t0 = System.nanoTime()
          q.processAllAvailable()
          secs += (System.nanoTime() - t0) / 1e9
          val so = q.lastProgress.stateOperators
          stRows += so.map(_.numRowsTotal).sum
          stBytes += so.map(_.memoryUsedBytes).sum
        }
      } finally q.stop()
      report("quantile_monitor", secs.result(),
        batches.toLong * rowsPerBatch, stRows.result(), stBytes.result())
      spark.catalog.dropTempView("sb_quantile")
    }

    // ----- 3. dedupIngestSink: on-disk LSH index, foreachBatch ----------
    if (wanted("dedup_ingest")) {
      val target = graft.sources.ScratchDir.create("sb-dedup")
      val ckpt = graft.sources.ScratchDir.create("sb-dedup-ckpt")
      val vocab = (0 until 5000).map(i => s"t$i")
      var nextId = 0L
      // optional 9th arg: dup fraction (default 0.1); ~0.01 is the
      // mostly-unique feed. The 8th arg is unused, so earlier command
      // lines keep their meaning.
      val dupFrac = args.lift(8).map(_.toDouble).getOrElse(0.1)
      def doc(): (Long, String) = {
        nextId += 1
        // dupFrac of docs are near-dups of an earlier shape (shared
        // prefix template), the rest unique — the index has real work
        val tpl = rnd.nextInt(40)
        val body = (0 until 60).map(_ => vocab(rnd.nextInt(vocab.size)))
        val tplPrefix = (0 until 40).map(i => s"p${tpl}_$i")
        val words =
          if (rnd.nextDouble() < dupFrac) tplPrefix ++ body.take(4)
          else body
        (nextId, words.mkString(" "))
      }
      val mem = MemoryStream[(Long, String)]
      val docsPerBatch = math.max(100, rowsPerBatch / 40)
      // optional 5th arg: compactEvery for the index-compaction A/B
      // (e.g. 1000000 disables compaction to measure the fragmenting arm)
      val compactEvery = args.lift(4).map(_.toInt).getOrElse(64)
      // optional 6th arg: probeBroadcastMaxRows for the probe-plan A/B
      // (0 = the general shuffle form as the control arm)
      val probeMax = args.lift(5).map(_.toLong).getOrElse(4L << 20)
      // optional 7th arg: compactFanout for the tiered-folding A/B
      // (1 = the single-level full-fold control arm)
      val fanout = args.lift(6).map(_.toInt).getOrElse(4)
      // WRITE AMPLIFICATION: cumulative task output bytes across the whole
      // run (docs + live index + every compaction rewrite). Polling dir
      // sizes between batches would MISS runs that a cascaded merge
      // creates and supersedes within one batch, undercounting exactly
      // the tiered arm — the listener sees every task's write.
      val written = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            written.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      val q = graft.streaming.Streams
        .dedupIngestSink(mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
          target, compactEvery = compactEvery,
          probeBroadcastMaxRows = probeMax, compactFanout = fanout)
        .option("checkpointLocation", ckpt)
        .start()
      val secs = Vector.newBuilder[Double]
      val idxBytes = Vector.newBuilder[Long]
      try {
        (0 until batches).foreach { _ =>
          mem.addData((0 until docsPerBatch).map(_ => doc()))
          val t0 = System.nanoTime()
          q.processAllAvailable()
          secs += (System.nanoTime() - t0) / 1e9
          idxBytes += dirBytes(s"$target/sh") + dirBytes(s"$target/bk") +
            dirBytes(s"$target/shc") + dirBytes(s"$target/bkc")
        }
      } finally {
        q.stop()
        spark.sparkContext.removeSparkListener(listener)
      }
      val kept = spark.read.parquet(s"$target/docs").count()
      println(s"""{"scenario_note":"dedup_ingest","fanout":$fanout,""" +
        s""""compact_every":$compactEvery,"written_bytes_total":${written.get()}}""")
      val b = idxBytes.result()
      report("dedup_ingest", secs.result(),
        batches.toLong * docsPerBatch, Vector(kept), b)
    }

    // ----- 3b. noveltyMonitor: standing gram index, foreachBatch --------
    // The r14 lesson: only the sustained probe finds the latency bend.
    // The gram index grows with VOCABULARY (first-seen-only), and the
    // per-batch probe must track index rows, not index age — the same
    // compaction contract as dedup_ingest (the uncompacted arm is
    // selectable via the 5th arg = 1000000 for the A/B).
    if (wanted("novelty_monitor")) {
      val target = graft.sources.ScratchDir.create("sb-novelty")
      val vocab = (0 until 5000).map(i => s"t$i")
      // optional 9th arg: replay fraction (default 0.3); 0.0 is the
      // high-novelty arm. The 8th arg is unused, as in dedup_ingest.
      val replayFrac = args.lift(8).map(_.toDouble).getOrElse(0.3)
      def doc(idx: Long): (Long, String) =
        // replayFrac of docs carry replayed template content (seen
        // grams), rest fresh-ish draws from a bounded vocab — novelty
        // decays but never zeroes, so both the novel-append and the
        // seen-lookup paths stay hot
        (idx, (if (rnd.nextDouble() < replayFrac)
            (0 until 40).map(i => s"tpl${rnd.nextInt(20)}_$i")
          else (0 until 40).map(_ => vocab(rnd.nextInt(vocab.size))))
          .mkString(" "))
      val mem = MemoryStream[(Long, String)]
      val docsPerBatch = math.max(100, rowsPerBatch / 40)
      val compactEvery = args.lift(4).map(_.toInt).getOrElse(64)
      // arg 6 doubles as the novelty probe gate (0 = the legacy
      // full-index-shuffle anti-join as the A/B control arm)
      val probeMax = args.lift(5).map(_.toLong).getOrElse(4L << 20)
      val q = graft.streaming.Streams
        .noveltyMonitor(mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
          target, compactEvery = compactEvery,
          probeBroadcastMaxGrams = probeMax)
        .option("checkpointLocation",
          graft.sources.ScratchDir.create("sb-novelty-ckpt"))
        .start()
      val secs = Vector.newBuilder[Double]
      val idxBytes = Vector.newBuilder[Long]
      var nextId = 0L
      try {
        (0 until batches).foreach { _ =>
          mem.addData((0 until docsPerBatch).map { _ =>
            nextId += 1; doc(nextId)
          })
          val t0 = System.nanoTime()
          q.processAllAvailable()
          secs += (System.nanoTime() - t0) / 1e9
          idxBytes += dirBytes(s"$target/grams") + dirBytes(s"$target/gramsc")
        }
      } finally q.stop()
      // count through the REAL read path (complete, non-covered runs +
      // live dirs above coverage): a lingering markerless or interrupted
      // merge dir is invisible to probes and must not inflate the report
      // (ADVICE r15)
      val indexedGrams = graft.streaming.IndexStore
        .readIndexDir(spark, s"$target/grams", s"$target/gramsc", Long.MaxValue)
        .map(_.count()).getOrElse(0L)
      report("novelty_monitor", secs.result(),
        batches.toLong * docsPerBatch, Vector(indexedGrams), idxBytes.result())
    }

    // ----- 3c. psiMonitor: per-batch drift verdict vs static reference --
    // Stateless across batches by design (the reference is re-resolved
    // per batch, the log is append-only one row/batch) — the longevity
    // claim is simply FLAT per-batch latency for the stream's life.
    if (wanted("psi_monitor")) {
      val logDir = graft.sources.ScratchDir.create("sb-psi-log")
      val ref = spark.range(100000)
        .selectExpr("cast(id % 1000 as double) / 10.0 as value")
      val mem = MemoryStream[Double]
      val q = graft.streaming.Streams
        .psiMonitor(mem.toDF().toDF("value"), ref, "value", logDir)
        .option("checkpointLocation",
          graft.sources.ScratchDir.create("sb-psi-ckpt"))
        .start()
      val secs = Vector.newBuilder[Double]
      val logBytes = Vector.newBuilder[Long]
      try {
        (0 until batches).foreach { b =>
          // drifting stream: the mean wanders so the PSI verdict varies
          mem.addData((0 until rowsPerBatch).map(_ =>
            rnd.nextGaussian() * 10 + 50 + (b % 7)))
          val t0 = System.nanoTime()
          q.processAllAvailable()
          secs += (System.nanoTime() - t0) / 1e9
          logBytes += dirBytes(logDir)
        }
      } finally q.stop()
      val logged = spark.read.parquet(logDir).count()
      report("psi_monitor", secs.result(),
        batches.toLong * rowsPerBatch, Vector(logged), logBytes.result())
    }

    // ----- 3d. upsertSink: delta WAL + periodic snapshot, foreachBatch --
    // The r16 write-amplification A/B (VERDICT r15 #2): arg 5 =
    // snapshotEvery (1 = the r14 full-copy-per-batch control arm). The
    // listener's task-output bytes are the claim: delta mode's
    // cumulative writes must be ~K× lower on a maintained base that
    // dwarfs the per-batch delta.
    if (wanted("upsert_maintain")) {
      val target = graft.sources.ScratchDir.create("sb-upsert")
      val ckpt = graft.sources.ScratchDir.create("sb-upsert-ckpt")
      val snapshotEvery = args.lift(4).map(_.toInt).getOrElse(8)
      val baseKeys = math.max(20000, rowsPerBatch)
      val updatesPerBatch = math.max(100, rowsPerBatch / 50)
      val written = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            written.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      val mem = MemoryStream[(Long, Double)]
      val q = graft.streaming.Streams
        .upsertSink(mem.toDF().toDF("k", "v"), Seq("k"), target,
          snapshotEvery = snapshotEvery)
        .option("checkpointLocation", ckpt)
        .start()
      val secs = Vector.newBuilder[Double]
      val storeBytes = Vector.newBuilder[Long]
      try {
        // batch 0 seeds the full base; later batches touch a small slice
        mem.addData((0 until baseKeys).map(i => (i.toLong, 0.0)))
        q.processAllAvailable()
        (1 until batches).foreach { b =>
          mem.addData((0 until updatesPerBatch).map(_ =>
            (rnd.nextInt(baseKeys).toLong, b.toDouble)))
          val t0 = System.nanoTime()
          q.processAllAvailable()
          secs += (System.nanoTime() - t0) / 1e9
          storeBytes += dirBytes(target)
        }
      } finally {
        q.stop()
        spark.sparkContext.removeSparkListener(listener)
      }
      val state = graft.streaming.Streams
        .latestTable(spark, target, Seq("k")).map(_.count()).getOrElse(0L)
      println(s"""{"scenario_note":"upsert_maintain","snapshot_every":$snapshotEvery,""" +
        s""""base_keys":$baseKeys,"state_rows":$state,""" +
        s""""written_bytes_total":${written.get()}}""")
      report("upsert_maintain", secs.result(),
        batches.toLong * updatesPerBatch, Vector(state), storeBytes.result())
      // READ-SIDE cost of the delta layout (VERDICT r16 #5): each
      // latestTable read folds up to snapshotEvery−1 deltas over the
      // snapshot; K was chosen by the WRITE A/B alone, so record what
      // readers pay at this K on the finished table. 20 timed full
      // resolutions (count() forces the window + anti-join fold).
      val fs = graft.streaming.IndexStore.hadoopFs(spark, target)
      val pending = fs.listStatus(new org.apache.hadoop.fs.Path(target))
        .count(s => s.isDirectory && s.getPath.getName.startsWith("d="))
      val readSecs = (0 until 20).map { _ =>
        val t0 = System.nanoTime()
        graft.streaming.Streams.latestTable(spark, target, Seq("k"))
          .foreach(_.count())
        (System.nanoTime() - t0) / 1e9
      }
      println(s"""{"scenario_note":"upsert_read","snapshot_every":$snapshotEvery,""" +
        s""""pending_deltas":$pending,"reads":20,""" +
        s""""sec_per_read_med":${r3(med(readSecs))},""" +
        s""""reads_per_sec":${r3(1.0 / med(readSecs))}}""")
    }

    spark.stop()
  }
}
