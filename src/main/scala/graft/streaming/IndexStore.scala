package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The STANDING-INDEX store shared by the streaming ingest sinks
  * ([[Streams.dedupIngestSink]], [[Streams.noveltyMonitor]], and the
  * delta-versioned [[Streams.upsertSink]]): append-only per-batch live
  * dirs (`batch=<id>`), LSM-style tiered compaction into immutable runs
  * (`gen=<lo>_<hi>`) and committer-independent completion markers.
  *
  * Extracted from Streams.scala once a THIRD sink consumer arrived
  * (VERDICT r15 "watch item"): the run/tier/marker layer is storage
  * machinery, not sink semantics, and gets its own focused suite
  * (IndexStoreSpec) instead of being re-tested through each sink.
  *
  * Crash-safety contract (shared by every consumer):
  *  - a dir without its completion marker is invisible to readers;
  *  - run content is a pure function of its batch range over immutable
  *    committed inputs, so batch replay overwrites equivalently;
  *  - readers take complete runs plus live dirs AT OR ABOVE the run
  *    coverage end, so a crash mid-cleanup never double-counts.
  */
private[graft] object IndexStore {

  private[graft] def hadoopFs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Write an explicit `_COMMITTED` completion marker into `dir`. The
    * completeness checks must NOT hinge on the committer's `_SUCCESS`:
    * with mapreduce.fileoutputcommitter.marksuccessfuljobs disabled
    * (common with object-store committers) no `_SUCCESS` ever appears,
    * [[completeRuns]] would never see a complete run, and once liveCount
    * crosses compactEvery EVERY batch would rewrite a full never-read
    * snapshot — unbounded storage, silently back in the fragmenting
    * regime (ADVICE r14). Writing our own marker after the parquet write
    * RETURNS (write() is synchronous — the data is committed when it
    * does) is committer-independent. */
  private[graft] def markCommitted(spark: SparkSession, dir: String): Unit = {
    val fs = hadoopFs(spark, dir)
    fs.create(new org.apache.hadoop.fs.Path(dir, "_COMMITTED"), true).close()
  }

  /** A directory counts as complete with EITHER marker: `_COMMITTED`
    * (ours, committer-independent) or `_SUCCESS` (the committer's, kept
    * for layouts written before the explicit marker existed). */
  private[graft] def isComplete(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(dir, "_COMMITTED")) ||
      fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))

  /** Numbered `<prefix><n>` subdirectories of `dir` (an index's live
    * `batch=` dirs, a maintained table's `v=` and `d=` dirs). A name
    * whose suffix is not a number is skipped, not an error. */
  private[graft] def dirIds(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      prefix: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix(prefix).toLong).toOption
        .map(v => (v, s.getPath)))
  }

  /** Ids of the live `batch=N` subdirectories of an index dir. */
  private[graft] def liveBatchIds(spark: SparkSession, liveDir: String): Seq[Long] =
    dirIds(hadoopFs(spark, liveDir), liveDir, "batch=").map(_._1)

  /** One compacted RUN of an index: a snapshot dir covering the live
    * batch ids in [lo, hi). Two naming generations parse: the original
    * single-level `gen=<hi>` (coverage [0, hi) by construction) and the
    * tiered `gen=<lo>_<hi>`. */
  private[graft] case class GenRun(lo: Long, hi: Long, path: org.apache.hadoop.fs.Path) {
    def span: Long = hi - lo
    /** True when this run supersedes `o`. A strictly larger span always
      * wins; an EXACT-range tie (a legacy single-level `gen=<hi>` and a
      * fanout=1 run `gen=0_<hi>` can both survive a crash-replay of the
      * legacy fold after a config upgrade — ADVICE r15) breaks
      * deterministically toward the two-part name, so exactly one of the
      * twins is ever read and the other is cleaned as covered. */
    def covers(o: GenRun): Boolean =
      lo <= o.lo && hi >= o.hi &&
        (span > o.span ||
          (lo == o.lo && hi == o.hi &&
            Ordering[(Int, String)].gt(nameRank, o.nameRank)))
    private def nameRank: (Int, String) =
      (if (path.getName.count(_ == '_') == 1) 1 else 0, path.getName)
  }

  private[graft] def parseRunName(name: String): Option[(Long, Long)] =
    if (!name.startsWith("gen=")) None
    else scala.util.Try {
      name.stripPrefix("gen=").split('_') match {
        case Array(hi) => (0L, hi.toLong)
        case Array(lo, hi) => (lo.toLong, hi.toLong)
      }
    }.toOption

  /** The COMPLETE (marker-carrying, see [[isComplete]]) runs of an
    * index, with covered runs (their range contained in a larger
    * complete run — superseded merge inputs awaiting cleanup; or an
    * exact-range twin losing the name tie-break) dropped. The survivors
    * are pairwise disjoint and partition [0, maxHi): tier-0 folds only
    * ever start at the previous coverage end, and merges only ever
    * combine adjacent survivors, so coverage is a contiguous prefix
    * with no holes. An interrupted run write leaves no marker and stays
    * invisible until its replay overwrites it. */
  private[graft] def completeRuns(spark: SparkSession, genDir: String): Seq[GenRun] = {
    val fs = hadoopFs(spark, genDir)
    val p = new org.apache.hadoop.fs.Path(genDir)
    if (!fs.exists(p)) Seq.empty
    else {
      val all = fs.listStatus(p).toSeq.collect {
        case s if s.isDirectory && isComplete(fs, s.getPath) =>
          parseRunName(s.getPath.getName).map { case (lo, hi) =>
            GenRun(lo, hi, s.getPath)
          }
      }.flatten
      all.filterNot(r => all.exists(_.covers(r))).sortBy(_.lo)
    }
  }

  /** One index half as of batch `id`: the complete compacted runs plus
    * the live batch dirs AT OR ABOVE the coverage end. Dirs below the
    * coverage end are superseded copies of rows some run already holds —
    * excluding them by their `batch` partition value rather than by
    * trusting deletion to have happened is what makes every crash-time
    * state read exactly. None while the index is still empty. */
  private[graft] def readIndexDir(spark: SparkSession, liveDir: String,
      genDir: String, id: Long): Option[DataFrame] = {
    val runs = completeRuns(spark, genDir)
    val floor = runs.map(_.hi).maxOption.getOrElse(0L)
    val live = liveBatchIds(spark, liveDir).filter(n => n >= floor && n < id)
    val parts = Seq.newBuilder[DataFrame]
    if (runs.nonEmpty)
      parts += spark.read.parquet(runs.map(_.path.toString): _*)
        .filter(col("batch") < id)
        .withColumn("batch", col("batch").cast("long"))
    if (live.nonEmpty)
      parts += spark.read.parquet(liveDir)
        .filter(col("batch") >= floor && col("batch") < id)
        .withColumn("batch", col("batch").cast("long"))
    parts.result().reduceOption(_ unionByName _)
  }

  /** Integer tier of a run: how many times `fanout` divides
    * span/compactEvery. Floating log arithmetic here could round an
    * exact power down a tier (log(16)/log(4) = 1.9999999999999998 —
    * ADVICE r15), silently drifting merge scheduling off the
    * O(log_fanout) design; repeated integer division cannot. */
  private[graft] def tierOf(r: GenRun, compactEvery: Int, fanout: Int): Int = {
    val f = math.max(2, fanout)
    var t = 0
    var s = math.max(1L, r.span / compactEvery)
    while (s >= f) { s /= f; t += 1 }
    t
  }

  /** TIERED (size-tiered / LSM-style) compaction of one index half.
    * Once `compactEvery` live `batch=` dirs accumulate past the run
    * coverage end, they fold into a new TIER-0 run `gen=<lo>_<hi>` —
    * live dirs only, NOT the previous runs, unlike the original
    * single-level fold — and whenever `fanout` ADJACENT runs of the
    * same tier exist they merge into one run of the next tier. A row is
    * therefore rewritten O(log_fanout(batches)) times over the stream's
    * life instead of O(batches / compactEvery) — the single-level
    * scheme's cumulative write amplification was
    * O(total_rows² / compactEvery) and its per-fold pause grew with
    * corpus AGE (ADVICE r14); here each fold's cost is bounded by the
    * tier it touches. `fanout = 1` reproduces the single-level behavior
    * exactly (every fold merges all runs into one) — kept as the
    * measured A/B control arm, not a recommended config.
    *
    * All steps stay idempotent under batch replay: a run's content is a
    * pure function of its (lo, hi) range over immutable committed
    * inputs, so a replayed write overwrites equivalently; a run without
    * its completion marker is invisible ([[completeRuns]]); covered
    * merge inputs are excluded by containment before any deletion
    * happens, so a crash between marker and cleanup double-counts
    * nothing.
    *
    * `rangeShardCol`: when set, each run is RANGE-SHARDED on that
    * column (each output file covers a tight value range, recorded in
    * its parquet footer min/max) so a downstream point/In filter on it
    * prunes to the matching files — the zone-map layout
    * [[graft.sources.Sinks.writeShardedWithProfiles]] established for
    * batch tables, applied to the standing index. Only worth it for a
    * column probes actually filter on (the sh index's doc id); for keys
    * a probe covers uniformly (band keys, grams) no layout prunes and
    * the plain hash shuffle is cheaper. */
  private[graft] def compactIndexDir(spark: SparkSession, liveDir: String,
      genDir: String, id: Long, compactEvery: Int,
      rangeShardCol: Option[String] = None, fanout: Int = 4): Unit = {
    def writeRun(lo: Long, hi: Long, df: DataFrame): Unit = {
      // repartition, NOT coalesce: coalesce would propagate up the
      // plan without a shuffle and cap the read parallelism of the
      // fold's own input scan (ADVICE r14). The shuffle bounds only
      // the OUTPUT file count.
      val sharded = rangeShardCol match {
        case Some(c) =>
          df.repartitionByRange(spark.sparkContext.defaultParallelism, col(c))
        case None =>
          df.repartition(spark.sparkContext.defaultParallelism)
      }
      val dir = s"$genDir/gen=${lo}_$hi"
      sharded.write.mode("overwrite").parquet(dir)
      // own completion marker — committer-independent (markCommitted)
      markCommitted(spark, dir)
    }
    // (1) tier-0 fold: live dirs past the coverage end, once enough.
    // fanout <= 1 is the single-level control arm — one write folding
    // ALL existing runs + live dirs into [0, id), exactly the original
    // scheme's cost profile — so the A/B measures tiering against the
    // true legacy baseline, not a two-write emulation of it.
    val floor0 = completeRuns(spark, genDir).map(_.hi).maxOption.getOrElse(0L)
    val live = liveBatchIds(spark, liveDir).filter(n => n >= floor0 && n < id)
    if (live.size >= compactEvery) {
      if (fanout <= 1)
        readIndexDir(spark, liveDir, genDir, id).foreach(writeRun(0L, id, _))
      else
        writeRun(floor0, id,
          spark.read.parquet(liveDir)
            .filter(col("batch") >= floor0 && col("batch") < id)
            .withColumn("batch", col("batch").cast("long")))
    }
    // (2) merge loop: whenever `fanout` ADJACENT same-tier runs exist,
    // fold them one tier up; repeats until no tier is over-full
    var merging = fanout > 1
    while (merging) {
      val runs = completeRuns(spark, genDir)
      val group = runs.groupBy(tierOf(_, compactEvery, fanout)).values
        .flatMap(_.sliding(fanout).filter(g =>
          g.size == fanout && g.sliding(2).forall {
            case Seq(a, b) => a.hi == b.lo; case _ => true
          }))
        .toSeq.sortBy(_.head.lo).headOption
      group match {
        case Some(g) =>
          writeRun(g.head.lo, g.last.hi,
            spark.read.parquet(g.map(_.path.toString): _*)
              .withColumn("batch", col("batch").cast("long")))
        case None => merging = false
      }
    }
    // (3) stale cleanup — live dirs inside run coverage, covered or
    // markerless run dirs inside a complete run's range (including an
    // exact-range twin losing the covers name tie-break); re-runnable
    // from any crash point
    val runs = completeRuns(spark, genDir)
    runs.map(_.hi).maxOption.foreach { coverEnd =>
      val fs = hadoopFs(spark, liveDir)
      dirIds(fs, liveDir, "batch=").filter(_._1 < coverEnd)
        .foreach { case (_, p) => fs.delete(p, true) }
      fs.listStatus(new org.apache.hadoop.fs.Path(genDir)).toSeq.foreach { s =>
        parseRunName(s.getPath.getName).foreach { case (lo, hi) =>
          val keep = runs.exists(r =>
            r.lo == lo && r.hi == hi && r.path.getName == s.getPath.getName)
          val covered = runs.exists(_.covers(GenRun(lo, hi, s.getPath)))
          if (!keep && covered) fs.delete(s.getPath, true)
        }
      }
    }
  }
}
