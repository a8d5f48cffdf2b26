package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout
import graft.operators.Materialize._

/** Running per-key numeric profile state: Welford-merged moments +
  * extrema. The streaming counterpart of the describe() numeric kernel's
  * count/mean/variance/min/max block. */
case class ProfileState(
    n: Long, nNull: Long, mean: Double, m2: Double, min: Double, max: Double)

/** One emitted profile update (per key, per micro-batch). */
case class ProfileUpdate(
    key: String, count: Long, n_null: Long,
    mean: Double, variance: Double, min: Double, max: Double)

/** One emitted quantile update (per key, per micro-batch): current KLL
  * estimates at the monitor's probs, plus the sketch bytes themselves so
  * a downstream consumer can union them with batch shard profiles. */
case class QuantileUpdate(
    key: String, count: Long, quantiles: Seq[Double], sketch: Array[Byte])

/** Structured-Streaming operators (SURVEY.md §2.C row 14). Each transform
  * is written against the unified DataFrame API, so the same function
  * serves the batch table and the `readStream` source: in streaming mode
  * Spark plans incremental stateful aggregation with watermark-driven
  * state eviction; in batch mode the identical plan is a one-shot
  * aggregation (which is what the DuckDB oracle checks — see
  * graft.queries.StreamShapeQueries).
  */
object Streams {

  /** Tumbling event-time windows: count + sum per (window, key). */
  def tumblingAgg(df: DataFrame, tsCol: String, duration: String, keyCol: String): DataFrame =
    df.groupBy(window(col(tsCol), duration), col(keyCol))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("wstart"), col("window.end").as("wend"),
        col(keyCol), col("n"), col("total_value"))

  /** Sliding event-time windows (each event lands in duration/slide
    * overlapping windows). */
  def slidingAgg(df: DataFrame, tsCol: String, duration: String, slide: String): DataFrame =
    df.groupBy(window(col(tsCol), duration, slide))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("wstart"), col("n"), col("total_value"))

  /** Session windows per key: events closer than `gap` merge into one
    * session (stateful merging session aggregation in streaming mode). */
  def sessionAgg(df: DataFrame, tsCol: String, gap: String, keyCol: String): DataFrame =
    df.groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("session_window.start").as("session_start"), col("n_events"))

  /** Incremental per-key describe(): custom keyed state via
    * mapGroupsWithState maintaining Welford-merged running moments
    * (numerically stable single-pass mean/variance), null counts and
    * extrema; every micro-batch emits the updated profile for the keys it
    * touched (run the sink in Update mode). This is the streaming
    * counterpart of the batch numeric kernel — the same stat definitions
    * (ddof=1 variance) emerge from state instead of a rescan, with state
    * size O(keys), independent of stream length. Works identically on a
    * batch Dataset (one "batch" = the whole input). */
  def incrementalProfile(stream: DataFrame, keyCol: String, valueCol: String): Dataset[ProfileUpdate] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(keyCol).cast("string").as("_1"), col(valueCol).cast("double").as("_2"))
      .as[(String, Option[Double])]
      .groupByKey(_._1)
      .mapGroupsWithState[ProfileState, ProfileUpdate](GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          var s = state.getOption.getOrElse(emptyState)
          rows.foreach { case (_, v) => s = welford(s, v) }
          state.update(s)
          render(key, s)
      }
  }

  /** Incremental per-key QUANTILES: [[incrementalProfile]] covers the
    * moment block, but running medians/percentiles have no
    * constant-space exact form — the state here is a serialized KLL
    * sketch ([[graft.plans.KllState]], ~k log(n/k) doubles per key,
    * independent of stream length), folded forward each micro-batch and
    * emitted with the current estimates (Update-mode sink).
    *
    * The emitted `sketch` bytes are the SAME object
    * [[graft.operators.Profiles]] stores per batch shard, so a streaming
    * ingest monitor and a batch backfill produce union-compatible
    * summaries: corpus quantiles = KllUnionAgg over both. Works
    * identically on a batch Dataset (one "batch" = the whole input). */
  def quantileMonitor(stream: DataFrame, keyCol: String, valueCol: String,
      probs: Seq[Double], k: Int = 200): Dataset[QuantileUpdate] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(keyCol).cast("string").as("_1"), col(valueCol).cast("double").as("_2"))
      .as[(String, Option[Double])]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Byte], QuantileUpdate](GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          val st = state.getOption.map(graft.plans.KllState.deserialize)
            .getOrElse(new graft.plans.KllState(k))
          rows.foreach { case (_, v) =>
            v.foreach(d => if (!d.isNaN) st.update(d))
          }
          val bytes = st.serialize()
          state.update(bytes)
          QuantileUpdate(key, st.n, probs.map(st.quantile), bytes)
      }
  }

  /** Watermarked stream-stream interval join (the impression/click shape):
    * inner-join rows of the same `key` where the right event time falls in
    * [left.ts - beforeMs, left.ts + afterMs]. Both sides carry watermarks
    * and the join condition bounds event time in BOTH directions, which is
    * what lets Spark evict each side's join state once the other side's
    * watermark passes the interval — bounded state on unbounded streams.
    * Right-side columns come back suffixed `_r`. Works identically in
    * batch (a plain interval join). */
  def intervalJoin(
      left: DataFrame, right: DataFrame, key: String, tsCol: String,
      watermark: String, beforeMs: Long, afterMs: Long): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
    val r0 = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, c + "_r"))
    val r = r0.withWatermark(tsCol + "_r", watermark)
    l.join(r,
      col(key) === col(key + "_r") &&
        col(tsCol + "_r") >= col(tsCol) - expr(s"INTERVAL $beforeMs MILLISECONDS") &&
        col(tsCol + "_r") <= col(tsCol) + expr(s"INTERVAL $afterMs MILLISECONDS"))
  }

  /** Streaming CDC maintenance: maintain a keyed table under
    * [[graft.operators.Merge.upsert]] semantics as DELTA dirs plus
    * periodic full snapshots — the checkpoint + WAL layout (VERDICT r15
    * #2). Every micro-batch appends ONLY its deduped rows as
    * `d=<batchId>` (O(batch) write I/O); every `snapshotEvery` deltas
    * the state folds into a full snapshot `v=<id>`. The r14 design
    * wrote a complete base copy PER BATCH, so cumulative write I/O was
    * O(batches × base size) even after retention GC bounded storage;
    * here it is O(batches × delta + batches/K × base) — the same
    * amplification class tiered compaction cut for the dedup index.
    *
    * Readers resolve [[latestTable]] (newest complete snapshot + the
    * complete deltas above it, later delta winning per key); a
    * pre-delta layout (only `v=` dirs) reads through it unchanged.
    * `snapshotEvery = 1` reproduces the r14 per-batch-snapshot write
    * profile — kept as the measured A/B control arm.
    *
    * Replay safety: a recovering batch overwrites its own `d=<id>`;
    * the fold derives from the newest complete snapshot STRICTLY BELOW
    * the current id (its own possibly-crashed `v=<id>` is never read)
    * plus the committed deltas above it, all immutable — idempotent.
    * GC (inside the fold step) keeps the newest `keepVersions`
    * complete snapshots, and deletes deltas only at or below the
    * SECOND-newest kept snapshot — exactly the window a replayed fold
    * still reads. In-batch duplicate keys collapse via dropDuplicates
    * BEFORE the delta lands (last-writer-wins needs an explicit
    * priority column; callers with one should pre-dedup). */
  def upsertSink(stream: DataFrame, keys: Seq[String], targetDir: String,
      keepVersions: Int = 4, snapshotEvery: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // K >= 2: a replayed fold derives from the PREVIOUS snapshot, so GC
    // must never leave fewer than two complete snapshots (VERDICT r14 #3)
    require(keepVersions >= 2, s"keepVersions must be >= 2, got $keepVersions")
    require(snapshotEvery >= 1, s"snapshotEvery must be >= 1, got $snapshotEvery")
    // __b/__rn are foldState's working columns; withColumn would
    // silently REPLACE same-named user columns and the post-fold drop
    // would then delete user data (ADVICE r16)
    Seq("__b", "__rn").foreach(c => require(!stream.columns.contains(c),
      s"column name '$c' is reserved by upsertSink's fold"))
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        val dedup = batch.dropDuplicates(keys)
        // (1) the WAL write: this batch's upsert delta, O(batch) bytes.
        // Overwrite + marker-after-write make replay idempotent.
        dedup.write.mode("overwrite").parquet(s"$targetDir/d=$id")
        IndexStore.markCommitted(spark, s"$targetDir/d=$id")
        // (2) the checkpoint write: once snapshotEvery deltas sit above
        // the newest complete snapshot STRICTLY BELOW this id (a crashed
        // previous attempt's own v=<id> must not serve as the fold base
        // — its content embeds the OLD attempt's in-batch dedup picks,
        // while d=<id> was just rewritten with this attempt's), fold.
        val fs = IndexStore.hadoopFs(spark, targetDir)
        val snapBase = completeDirIds(fs, targetDir, "v=").filter(_ < id)
          .maxOption
        val floor = snapBase.getOrElse(-1L)
        val deltaIds = completeDirIds(fs, targetDir, "d=")
          .filter(i => i > floor && i <= id).sorted
        if (deltaIds.size >= snapshotEvery) {
          val base = snapBase.map(s0 => spark.read.parquet(s"$targetDir/v=$s0"))
          foldState(spark, base, deltaIds.map(i =>
              (i, spark.read.parquet(s"$targetDir/d=$i"))), keys)
            .write.mode("overwrite").parquet(s"$targetDir/v=$id")
          IndexStore.markCommitted(spark, s"$targetDir/v=$id")
          // (3) retention GC, crash-safe at any point: snapshots at or
          // above the keepVersions-th newest complete one are untouched;
          // a crash mid-delete leaves only superseded dirs for the next
          // fold's GC to re-sweep.
          val snapsNow = completeDirIds(fs, targetDir, "v=")
            .sorted(Ordering[Long].reverse)
          if (snapsNow.size > keepVersions) {
            val keepFloor = snapsNow(keepVersions - 1)
            IndexStore.dirIds(fs, targetDir, "v=").filter(_._1 < keepFloor)
              .foreach { case (_, p) => fs.delete(p, true) }
          }
          // deltas at or below the SECOND-newest surviving snapshot are
          // folded into every snapshot any replay can still read
          val kept = completeDirIds(fs, targetDir, "v=").sorted
          if (kept.size >= 2) {
            val dFloor = kept(kept.size - 2)
            IndexStore.dirIds(fs, targetDir, "d=").filter(_._1 <= dFloor)
              .foreach { case (_, p) => fs.delete(p, true) }
          }
        }
    }
  }

  private def completeDirIds(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      prefix: String): Seq[Long] =
    IndexStore.dirIds(fs, dir, prefix).collect {
      case (v, p) if IndexStore.isComplete(fs, p) => v
    }

  /** Fold a base snapshot plus ordered upsert deltas into the current
    * state: deltas collapse FIRST by key precedence (later batch wins —
    * one window over the delta rows only, never the base), then one
    * [[graft.operators.Merge.upsert]] against the base. Cost is
    * O(base + Σ deltas) with a single anti-join touching the base —
    * never K chained joins. */
  private def foldState(spark: SparkSession, base: Option[DataFrame],
      deltas: Seq[(Long, DataFrame)], keys: Seq[String]): DataFrame = {
    val tagged = deltas.map { case (i, df) => df.withColumn("__b", lit(i)) }
      .reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("__b").desc)
    // (key, __b) is unique — each delta is key-deduped — so the pick is
    // deterministic, not a partition-order artifact
    val collapsed = tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__b")
    base match {
      case Some(b) => graft.operators.Merge.upsert(b, collapsed, keys)
      case None => collapsed
    }
  }

  /** The maintained table's current state: the newest complete snapshot
    * strictly below `below` plus every complete delta above it (and
    * strictly below `below`), folded with later-delta-wins precedence.
    * None while the table is empty. Reads a pre-delta layout (only
    * `v=` dirs) unchanged — zero deltas fold to the snapshot itself. */
  def latestTable(spark: SparkSession, targetDir: String, keys: Seq[String],
      below: Long = Long.MaxValue): Option[DataFrame] = {
    val fs = IndexStore.hadoopFs(spark, targetDir)
    val snap = completeDirIds(fs, targetDir, "v=").filter(_ < below).maxOption
    val floor = snap.getOrElse(-1L)
    val deltaIds = completeDirIds(fs, targetDir, "d=")
      .filter(i => i > floor && i < below).sorted
    val base = snap.map(s0 => spark.read.parquet(s"$targetDir/v=$s0"))
    if (deltaIds.isEmpty) base
    else Some(foldState(spark, base,
      deltaIds.map(i => (i, spark.read.parquet(s"$targetDir/d=$i"))), keys))
  }

  /** Streaming INGESTION DEDUP — the arrival-time gate of a training
    * corpus, maintained as an APPEND-ONLY corpus plus a standing dedup
    * index (shingle rows + LSH band-key rows), so per-batch work is
    * batch signing + equi-joins against the stored index — the corpus
    * is NEVER re-shingled, re-signed, or rewritten. Each micro-batch:
    *
    *   1. self-dedup: any doc near-duplicating a lower-id doc of the
    *      same batch is dropped ([[graft.operators.Dedup.nearDupPairsFromRows]]);
    *   2. cross-dedup: batch docs near-duplicating the standing corpus
    *      are dropped — candidates meet only through band keys shared
    *      with the stored index
    *      ([[graft.operators.Dedup.crossNearDupPairsFromIndex]]);
    *   3. survivors (and THEIR index rows) are appended as
    *      `batch=<batchId>` subdirectories of `docs/`, `sh/` and `bk/`.
    *
    * Replay safety mirrors [[upsertSink]]: a recovering batch reads the
    * index restricted to batches STRICTLY BELOW its own id and
    * overwrites its own subdirectories — idempotent. `idCol` must be
    * unique within a batch; `batch` is a reserved column name in the
    * stored layout. The batch's materialized frames are released at the
    * end of every micro-batch (a streaming job must not accumulate
    * cache), and the one scan of the stored index per batch replaces
    * the previous design's full corpus recompute + rewrite.
    *
    * INDEX COMPACTION (`compactEvery`): appending small per-batch dirs
    * forever fragments the index into O(batches) part files, and the
    * per-batch index read pays listing + parquet footers for every one
    * of them — a sustained 1000-batch run measured per-batch latency
    * bending SUPERLINEAR (~6 s around batch 100 → >110 s by batch 700,
    * ~18× for ~7× index rows; run terminated as unbounded — BASELINE.md
    * round 14); with compaction the probe cost tracks index ROWS, not
    * index AGE. Whenever `compactEvery` live `batch=` dirs accumulate,
    * they fold into a `shc/gen=<lo>_<hi>` / `bkc/gen=<lo>_<hi>` RUN
    * (original `batch` kept as a data column), and `compactFanout`
    * adjacent same-tier runs merge one tier up — size-tiered/LSM-style,
    * so a row is rewritten O(log(batches)) times over the stream's
    * life, not O(batches/compactEvery) as the original single-level
    * full fold did (see [[compactIndexDir]]). Crash-safe at every
    * point: a run's content is a pure function of its batch range over
    * immutable committed inputs, so a replayed batch overwrites it
    * equivalently; a run without its completion marker is invisible to
    * readers; and the read path takes the complete runs plus only live
    * dirs AT OR ABOVE the coverage end, so a crash mid-cleanup can
    * never double-count a superseded dir. `docs/` is never compacted —
    * it is the append-only corpus, not read on the ingest path. */
  def dedupIngestSink(stream: DataFrame, idCol: String, textCol: String,
      targetDir: String, threshold: Double = 0.7,
      shingleWords: Int = 3, numHashes: Int = 128,
      bands: Int = 32, rowsPerBand: Int = 4, seed: Int = 42,
      compactEvery: Int = 64, probeBroadcastMaxRows: Long = 4L << 20,
      compactFanout: Int = 4)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        import graft.operators.Dedup
        val (docsDir, shDir, bkDir) =
          (s"$targetDir/docs", s"$targetDir/sh", s"$targetDir/bk")
        val (shGen, bkGen) = (s"$targetDir/shc", s"$targetDir/bkc")
        // sh generations range-shard by doc id so the probe's candidate-id
        // pushdown prunes to matching files; bk generations cannot be
        // pruned by any layout (a batch's band keys cover the hash space
        // — see crossNearDupPairsFromIndexProbe) and stay hash-sharded.
        IndexStore.compactIndexDir(spark, shDir, shGen, id, compactEvery,
          rangeShardCol = Some("id"), fanout = compactFanout)
        IndexStore.compactIndexDir(spark, bkDir, bkGen, id, compactEvery,
          fanout = compactFanout)
        // Per-batch substrates materialize through the Materialize seam
        // (r18): the default localCheckpoint strategy hands consumers
        // AQE-coalesced partitions instead of the full-width stages a
        // lazy persist pins (the same measurement as the r17
        // Dedup/Describe swap), and truncates the batch lineage so late
        // batches re-plan a flat scan, not a deepening join tree. The
        // finally block releases the batch's three barriers, so a
        // sustained stream stays flat.
        val shB = Dedup.shingleRows(batch.toDF(), idCol, textCol, shingleWords)
          .barrier()
        // band rows feed three consumers (self-dedup, the cross probe,
        // the index append)
        var bkB: DataFrame = null
        var kept: DataFrame = null
        try {
          bkB = Dedup.bandRows(shB, numHashes, bands, rowsPerBand, seed)
            .barrier()
          // (1) pairs emit a < b, so b is always the drop side
          val selfDup = Dedup.nearDupPairsFromRows(shB, bkB, threshold)
            .select(col("b").as(idCol)).distinct()
          val selfKept = batch.join(selfDup, Seq(idCol), "left_anti")
          // (2) against the stored index, batches strictly below this id:
          // the probe form scans the index in place (no per-batch full-
          // index shuffle) whenever the batch's band keys are broadcast-
          // sized; 0 disables it (the StreamBench A/B's control arm)
          val crossKept =
            (IndexStore.readIndexDir(spark, shDir, shGen, id),
              IndexStore.readIndexDir(spark, bkDir, bkGen, id)) match {
              case (Some(indexSh), Some(indexBk)) =>
                val nProbe = bkB.count()
                if (nProbe == 0) selfKept // no band keys: no candidates
                else {
                  val probe = probeBroadcastMaxRows > 0 &&
                    nProbe <= probeBroadcastMaxRows
                  val pairs =
                    if (probe) Dedup.crossNearDupPairsFromIndexProbe(
                      shB, bkB, indexSh.select("id", "s"),
                      indexBk.select("id", "bk"), threshold)
                    else Dedup.crossNearDupPairsFromIndex(
                      shB, bkB, indexSh.select("id", "s"),
                      indexBk.select("id", "bk"), threshold)
                  val dupIds = pairs.select(col("a").as(idCol)).distinct()
                  selfKept.join(dupIds, Seq(idCol), "left_anti")
                }
              case _ => selfKept // index still empty: first batch(es)
            }
          // (3) survivors + their index rows, replay-safe per-batch dirs
          kept = crossKept.barrier()
          kept.write.mode("overwrite").parquet(s"$docsDir/batch=$id")
          val keptIds = kept.select(col(idCol).as("id"))
          shB.join(keptIds, "id").write.mode("overwrite")
            .parquet(s"$shDir/batch=$id")
          bkB.join(keptIds, "id").write.mode("overwrite")
            .parquet(s"$bkDir/batch=$id")
        } finally Seq(shB, bkB, kept).filter(_ != null).foreach(release)
    }

  /** Streaming DRIFT MONITOR: every micro-batch is scored with
    * [[graft.operators.Drift.psi]] against a STATIC reference frame
    * (yesterday's corpus, the training distribution) and the one-row
    * result is appended to a parquet log — the alert feed that catches a
    * upstream distribution break while the batch is still in flight.
    * The reference is unioned in per batch with `isBase` marking it, so
    * the PSI bins span both sides consistently; the reference plan is
    * re-read per batch (cache it outside when it is hot). */
  def psiMonitor(stream: DataFrame, reference: DataFrame, valueCol: String,
      logDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val tagged = reference.select(col(valueCol), lit(true).as("__base"))
          .unionByName(batch.select(col(valueCol), lit(false).as("__base")))
        graft.operators.Drift.psi(tagged, valueCol, col("__base"))
          .withColumn("batch_id", lit(id))
          .write.mode("append").parquet(logDir)
    }

  /** Streaming NOVELTY monitor — the ingestion-time counterpart of
    * [[graft.operators.TextAnalysis.novelty]]: every micro-batch reports
    * what fraction of its distinct word n-grams the standing corpus has
    * never seen, and appends exactly those novel grams to the index. A
    * collapsing novelty curve is the live signal that an ingest feed has
    * started replaying content worth deduplicating or dropping —
    * visible while the batch is in flight, before any document-level
    * detector fires.
    *
    * Replay-safe like [[dedupIngestSink]]: both the gram index and the
    * log write per-batch `batch=<id>` dirs with overwrite, and a batch
    * reads only index rows from batches STRICTLY below its own id, so a
    * recovery replay recomputes identical rows instead of double
    * counting itself. Gram membership is one left-anti equi join against
    * the index — the index holds each gram once (first-seen batch only),
    * so it grows with vocabulary, not corpus size.
    *
    * INDEX COMPACTION (`compactEvery`): the gram index had the exact
    * per-batch-dir fragmentation pathology the 1000-batch dedup-ingest
    * probe measured going superlinear at batch ~700 (listing + footer
    * cost for O(batches) dirs on EVERY probe — VERDICT r14 #1), so it
    * routes through the same [[compactIndexDir]]/[[readIndexDir]]
    * machinery: every `compactEvery` live dirs fold into a
    * `gramsc/gen=<lo>_<hi>` run that KEEPS the original first-seen
    * `batch` column (the compactor preserves it as a data column, which
    * is what first-seen-only semantics need), runs merge tiered at
    * `compactFanout`, and the probe reads the complete runs plus live
    * dirs only. */
  def noveltyMonitor(stream: DataFrame, idCol: String, textCol: String,
      targetDir: String, n: Int = 3, compactEvery: Int = 64,
      compactFanout: Int = 4, probeBroadcastMaxGrams: Long = 4L << 20)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        val (gramsDir, gramsGen, logDir) =
          (s"$targetDir/grams", s"$targetDir/gramsc", s"$targetDir/log")
        IndexStore.compactIndexDir(spark, gramsDir, gramsGen, id, compactEvery,
          fanout = compactFanout)
        // materialized before the count/anti-join diamond
        val bg = graft.operators.Dedup.shingleRows(batch.toDF(), idCol, textCol, n)
          .select("s").distinct().barrier()
        try {
          val nBg = bg.count()
          val novel = IndexStore.readIndexDir(spark, gramsDir, gramsGen, id) match {
            case Some(index) =>
              if (probeBroadcastMaxGrams > 0 && nBg <= probeBroadcastMaxGrams) {
                // SEEN-SET FLIP — the same shape as the dedup-ingest
                // probe plan: a plain left_anti against the standing
                // index shuffles EVERY stored gram row per micro-batch
                // (the join's right side cannot broadcast — it is the
                // unbounded one). Instead broadcast the micro-batch's
                // grams to an in-place semi-join scan of the index
                // (never shuffled), and anti-join the batch against the
                // resulting SEEN set, which is ≤ the batch's gram count
                // by construction (the index holds each gram once).
                val seen = index.select("s")
                  .join(broadcast(bg), Seq("s"), "left_semi")
                bg.join(broadcast(seen), Seq("s"), "left_anti")
              } else bg.join(index.select("s"), Seq("s"), "left_anti")
            case None => bg // index still empty: first batch(es)
          }
          novel.write.mode("overwrite").parquet(s"$gramsDir/batch=$id")
          val nNovel = spark.read.parquet(s"$gramsDir/batch=$id").count()
          import spark.implicits._
          Seq((id, nBg, nNovel,
              if (nBg == 0) 0.0 else nNovel.toDouble / nBg))
            .toDF("batch_id", "n_grams", "n_novel", "novelty")
            .write.mode("overwrite").parquet(s"$logDir/batch=$id")
        } finally release(bg)
    }

  /** Highest-numbered `v=<n>` subdirectory of an [[upsertSink]] target,
    * optionally restricted to versions strictly below `below` (recovery
    * replays pass the current batch id). Resolved through the path's
    * Hadoop FileSystem so remote targets (s3://, hdfs://) work —
    * java.io.File returns null for non-local URIs, which would silently
    * discard the maintained base table on remote storage. Completion
    * markers are not checked ([[latestTable]] is the reader that does). */
  def latestVersion(targetDir: String, below: Long = Long.MaxValue): Option[String] =
    IndexStore.dirIds(IndexStore.hadoopFs(SparkSession.active, targetDir), targetDir, "v=")
      .filter(_._1 < below).maxByOption(_._1).map(_._2.toString)

  private val emptyState =
    ProfileState(0L, 0L, 0.0, 0.0, Double.PositiveInfinity, Double.NegativeInfinity)

  /** One Welford step (numerically stable running mean/M2). */
  private def welford(s: ProfileState, v: Option[Double]): ProfileState = v match {
    case None => s.copy(nNull = s.nNull + 1)
    case Some(x) =>
      val n1 = s.n + 1
      val d = x - s.mean
      val mean = s.mean + d / n1
      ProfileState(n1, s.nNull, mean, s.m2 + d * (x - mean),
        math.min(s.min, x), math.max(s.max, x))
  }

  private def render(key: String, s: ProfileState): ProfileUpdate =
    ProfileUpdate(key, s.n, s.nNull, s.mean,
      if (s.n > 1) s.m2 / (s.n - 1) else Double.NaN, s.min, s.max)
}
