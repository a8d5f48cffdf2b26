package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class IdxDoc(doc_id: Long, text: String)

/** Focused suite for the standing-index store machinery (runs, tiers,
  * markers, Bloom sidecars) that [[Streams.dedupIngestSink]],
  * [[Streams.noveltyMonitor]] and the delta upsert share — split out of
  * Streams.scala in round 16 so new sink consumers don't re-test
  * compaction through sink behavior. */
class IndexStoreSpec extends SparkSpec {

  private val made = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  private def tmp(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    made.add(dir)
    dir.toString
  }

  override def afterAll(): Unit =
    try made.forEach(d => graft.sources.ScratchDir.deleteTree(d)) finally super.afterAll()

  private def writeBatchDir(liveDir: String, id: Long, values: Seq[String]): Unit = {
    val s = spark
    import s.implicits._
    values.toDF("s").withColumn("batch", lit(id))
      .write.mode("overwrite").parquet(s"$liveDir/batch=$id")
  }

  test("covers tie-break: a legacy gen=<hi> and a fanout=1 gen=0_<hi> twin " +
      "with the identical range resolve to exactly one surviving run") {
    val s = spark
    import s.implicits._
    val base = tmp("idx-twin")
    val (live, gen) = (s"$base/live", s"$base/gen")
    // the ADVICE r15 shape: a crash-replay of the legacy fold after a
    // compactFanout upgrade leaves BOTH names with the same [0, 8) range
    val rows = (0 until 8).flatMap(b => Seq((s"g${b}_a", b.toLong), (s"g${b}_b", b.toLong)))
    rows.toDF("s", "batch").write.mode("overwrite").parquet(s"$gen/gen=8")
    IndexStore.markCommitted(spark, s"$gen/gen=8")
    rows.toDF("s", "batch").write.mode("overwrite").parquet(s"$gen/gen=0_8")
    IndexStore.markCommitted(spark, s"$gen/gen=0_8")
    val runs = IndexStore.completeRuns(spark, gen)
    assert(runs.size === 1, s"exact-range twins must resolve to one run: $runs")
    // the two-part name wins the tie deterministically
    assert(runs.head.path.getName === "gen=0_8")
    // the read path therefore counts every row exactly once
    val read = IndexStore.readIndexDir(spark, live, gen, id = 100L).get
    assert(read.count() === rows.size.toLong)
    // and cleanup (step 3 of compactIndexDir) deletes the covered twin
    IndexStore.compactIndexDir(spark, live, gen, id = 100L, compactEvery = 1000)
    val names = IndexStore.hadoopFs(spark, gen)
      .listStatus(new org.apache.hadoop.fs.Path(gen)).map(_.getPath.getName).toSet
    assert(!names.contains("gen=8"), s"covered twin must be cleaned: $names")
    assert(names.contains("gen=0_8"))
  }

  test("tierOf uses integer arithmetic: exact fanout powers land on their " +
      "own tier instead of rounding down") {
    val p = new org.apache.hadoop.fs.Path("/dev/null")
    def run(span: Long) = IndexStore.GenRun(0L, span, p)
    // span/compactEvery = 16 = 4^2 must be tier 2; the floating-log form
    // computed log(16)/log(4) = 1.9999999999999998 -> tier 1 (ADVICE r15)
    assert(IndexStore.tierOf(run(16L * 64), 64, 4) === 2)
    assert(IndexStore.tierOf(run(4L * 64), 64, 4) === 1)
    assert(IndexStore.tierOf(run(64L * 64), 64, 4) === 3)
    assert(IndexStore.tierOf(run(64), 64, 4) === 0)
    assert(IndexStore.tierOf(run(3L * 64), 64, 4) === 0)
    // every power up to 4^9 lands exactly
    (0 to 9).foreach { t =>
      val span = math.pow(4, t).toLong * 64
      assert(IndexStore.tierOf(run(span), 64, 4) === t, s"span=$span")
    }
  }

  test("bloom sidecars: no false negatives, fallback when a dir lacks its " +
      "sidecar, bits survive tiered merges") {
    val base = tmp("idx-bloom")
    val (live, gen) = (s"$base/live", s"$base/gen")
    val valuesOf = (b: Long) => (0 until 50).map(i => s"v${b}_$i")
    // 9 batches at compactEvery=2, fanout=2: triggers tier-0 folds AND
    // at least one tier-up merge, so the front spans a merge boundary
    (0L until 9L).foreach { b =>
      IndexStore.compactIndexDir(spark, live, gen, b, compactEvery = 2,
        fanout = 2, bloomCol = Some("s"), bloomFpp = 0.01)
      writeBatchDir(live, b, valuesOf(b))
      IndexStore.writeBloomSidecar(spark, s"$live/batch=$b", "s", 0.01,
        expectedRows = Some(50L))
    }
    IndexStore.compactIndexDir(spark, live, gen, 9L, compactEvery = 2,
      fanout = 2, bloomCol = Some("s"), bloomFpp = 0.01)
    assert(IndexStore.completeRuns(spark, gen).nonEmpty, "a run must exist")
    val front = IndexStore.readBloomFront(spark, live, gen, id = 9L)
    assert(front.isDefined, "all consumed dirs carry sidecars")
    val s = spark
    import s.implicits._
    val members = (0L until 9L).flatMap(valuesOf).toDF("s")
    val might = IndexStore.mightContain(front.get, col("s"))
    // no false negatives — every stored value must be accepted, including
    // values whose rows crossed a tier merge
    assert(members.filter(!might).count() === 0L)
    // false positives bounded: most non-members are rejected
    val nonMembers = (0 until 2000).map(i => s"absent_$i").toDF("s")
    val fp = nonMembers.filter(might).count()
    assert(fp < 200L, s"bloom front rejects almost all non-members, fp=$fp")
    // a consumed dir without a sidecar forces the exact fallback
    writeBatchDir(live, 9L, valuesOf(9L)) // no sidecar written
    assert(IndexStore.readBloomFront(spark, live, gen, id = 10L).isEmpty)
    // empty-dir sidecars read back as matches-nothing, not as a failure
    writeBatchDir(live, 9L, Seq.empty[String])
    IndexStore.writeBloomSidecar(spark, s"$live/batch=9", "s", 0.01)
    assert(IndexStore.readBloomFront(spark, live, gen, id = 10L).isDefined)
  }

  test("bloomProbe: correct verdicts, cache invalidates on new batches and compaction") {
    val s = spark
    import s.implicits._
    val base = tmp("idx-probe")
    val (live, gen) = (s"$base/live", s"$base/gen")
    val fpp = 0.01 / 12
    def addBatch(b: Long): Unit = {
      writeBatchDir(live, b, (0 until 40).map(i => s"p${b}_$i"))
      IndexStore.writeBloomSidecar(spark, s"$live/batch=$b", "s", fpp)
    }
    def verdicts(id: Long, values: Seq[String]): Map[String, Boolean] = {
      val might = IndexStore.bloomProbe(spark, live, gen, id).get
      values.toDF("s").select(col("s"), might(col("s")).as("m"))
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    }
    (0L until 3L).foreach(addBatch)
    val v1 = verdicts(3L, Seq("p0_1", "p2_39", "absent_x"))
    assert(v1("p0_1") && v1("p2_39"), "no false negatives")
    assert(!v1("absent_x"), "absent key rejected")
    // a NEW batch must invalidate the live-half cache: its values were
    // rejected before, accepted after
    assert(!verdicts(3L, Seq("p3_5"))("p3_5"))
    addBatch(3L)
    assert(verdicts(4L, Seq("p3_5", "p0_1"))
      .forall(_._2), "new batch visible after cache refresh")
    // compaction folds live dirs into a run; the probe must still accept
    // every stored value through the RUN half (fingerprint change)
    IndexStore.compactIndexDir(spark, live, gen, 4L, compactEvery = 2,
      fanout = 2, bloomCol = Some("s"), bloomFpp = fpp)
    assert(IndexStore.completeRuns(spark, gen).nonEmpty)
    val v3 = verdicts(5L, Seq("p0_1", "p1_20", "p3_39", "absent_y"))
    assert(v3("p0_1") && v3("p1_20") && v3("p3_39"),
      "values survive into the run half across compaction")
    assert(!v3("absent_y"))
    // strictly-below semantics: a replayed batch must not see its own dir
    addBatch(5L)
    assert(!verdicts(5L, Seq("p5_0"))("p5_0"),
      "a batch's own sidecar is invisible to its replay")
  }

  test("noveltyMonitor bloom modes: exact == off, approx within the fpp bound") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def body(tag: String, off: Int) =
      (1 to 20).map(i => s"$tag${i + off}").mkString(" ")
    def batchDocs(b: Int): Seq[IdxDoc] = Seq(
      IdxDoc(100L + b, body("n", b * 5)), // overlapping novelty
      IdxDoc(200L + b, body(s"u$b ", 0))) // fully fresh
    def run(mode: String): Seq[(Long, Long, Long)] = {
      val mem = MemoryStream[IdxDoc]
      val out = tmp("novelty-bloom")
      val q = Streams.noveltyMonitor(mem.toDF(), "doc_id", "text", out,
        compactEvery = 3, bloomMode = mode, bloomFpp = 0.01).start()
      try {
        (0 until 7).foreach { b =>
          mem.addData(batchDocs(b): _*); q.processAllAvailable()
        }
      } finally q.stop()
      spark.read.parquet(s"$out/log").orderBy("batch_id").collect()
        .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("n_grams"),
          r.getAs[Long]("n_novel"))).toSeq
    }
    val off = run("off")
    val exact = run("exact")
    assert(exact === off, "exact bloom mode must not change any verdict")
    val approx = run("approx")
    // approx can only UNDER-count novelty (a Bloom false positive marks a
    // truly-novel gram as seen; false negatives cannot happen), and at
    // fpp=1% over a handful of runs the undercount stays tiny
    approx.zip(off).foreach { case ((b, ng, nvA), (_, ngO, nvO)) =>
      assert(ng === ngO)
      assert(nvA <= nvO, s"batch $b: approx must not over-count novelty")
      assert(nvA >= (nvO * 0.9).toLong, s"batch $b: undercount beyond bound")
    }
  }

  test("dedupIngestSink band-key bloom prefilter keeps the corpus identical") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 400).map(i => s"w$i")
    def fresh(id: Long) =
      IdxDoc(id, (0 until 40).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    def dup(id: Long, tpl: Int) =
      IdxDoc(id, (0 until 40).map(i => s"t${tpl}_$i").mkString(" "))
    var next = 0L
    def batch(): Seq[IdxDoc] = (0 until 8).map { _ =>
      next += 1
      if (rnd.nextDouble() < 0.3) dup(next, rnd.nextInt(3)) else fresh(next)
    }
    val batches = (0 until 6).map(_ => batch())
    def run(fpp: Double): Set[Long] = {
      val mem = MemoryStream[IdxDoc]
      val out = tmp("dedup-bloom")
      val q = Streams.dedupIngestSink(mem.toDF(), "doc_id", "text", out,
        compactEvery = 3, bloomFpp = fpp).start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      } finally q.stop()
      spark.read.parquet(s"$out/docs").select("doc_id")
        .collect().map(_.getLong(0)).toSet
    }
    val withBloom = run(0.01)
    val control = run(0.0)
    assert(withBloom === control,
      "the bk bloom prefilter is a pure candidate reduction — same corpus")
    assert(control.size < next, "some near-dups must actually drop")
  }

  test("a replaced bloom front's OLD probe handle stays usable (unpersist, " +
      "never destroy — VERDICT r16 #3)") {
    val s = spark
    import s.implicits._
    val base = tmp("idx-lifecycle")
    val (live, gen) = (s"$base/live", s"$base/gen")
    def addBatch(b: Long): Unit = {
      writeBatchDir(live, b, Seq(s"k$b"))
      IndexStore.writeBloomSidecar(spark, s"$live/batch=$b", "s", 0.001)
    }
    addBatch(0L)
    // consumer A takes a probe (captures the broadcast handles)
    val oldProbe = IndexStore.bloomProbe(spark, live, gen, 1L).get
    def verdict(p: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
        v: String): Boolean =
      Seq(v).toDF("s").select(p(col("s")).as("m")).head().getBoolean(0)
    assert(verdict(oldProbe, "k0"))
    // consumer B advances the index: the live-half fingerprint changes,
    // the shared cache entry is REPLACED and the old handle unpersisted
    addBatch(1L)
    val newProbe = IndexStore.bloomProbe(spark, live, gen, 2L).get
    assert(verdict(newProbe, "k1"))
    // the replaced handle must still answer (re-fetches, no
    // "Broadcast used after destroyed" job failure)
    assert(verdict(oldProbe, "k0"))
    assert(!verdict(oldProbe, "absent_z"))
    // and churn PAST the cache capacity (64 entries; 2 per probed dir
    // pair) must not kill the oldest handle either: evicted entries are
    // unpersisted, not destroyed
    (0 until 34).foreach { i =>
      val d = tmp(s"idx-churn-$i")
      writeBatchDir(s"$d/live", 0L, Seq(s"c$i"))
      IndexStore.writeBloomSidecar(spark, s"$d/live/batch=0", "s", 0.001,
        expectedRows = Some(1L))
      assert(IndexStore.bloomProbe(spark, s"$d/live", s"$d/gen", 1L).isDefined)
    }
    assert(verdict(oldProbe, "k0"), "evicted handle survives cache churn")
  }

  test("an in-place sidecar rewrite with identical length invalidates the " +
      "cache (mtime rides the fingerprint — ADVICE r16)") {
    val s = spark
    import s.implicits._
    val base = tmp("idx-mtime")
    val (live, gen) = (s"$base/live", s"$base/gen")
    writeBatchDir(live, 0L, Seq("alpha"))
    IndexStore.writeBloomSidecar(spark, s"$live/batch=0", "s", 0.001,
      expectedRows = Some(1L))
    val p1 = IndexStore.bloomProbe(spark, live, gen, 1L).get
    def verdict(p: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
        v: String): Boolean =
      Seq(v).toDF("s").select(p(col("s")).as("m")).head().getBoolean(0)
    assert(verdict(p1, "alpha") && !verdict(p1, "beta"))
    // rewrite the dir + sidecar IN PLACE with different content but the
    // same expectedRows (same serialized length), then force a distinct
    // mtime — the probe must serve the NEW bits, not the cached ones
    writeBatchDir(live, 0L, Seq("beta"))
    IndexStore.writeBloomSidecar(spark, s"$live/batch=0", "s", 0.001,
      expectedRows = Some(1L))
    val fs = IndexStore.hadoopFs(spark, live)
    val sc = new org.apache.hadoop.fs.Path(s"$live/batch=0/_BLOOM")
    fs.setTimes(sc, fs.getFileStatus(sc).getModificationTime + 5000L, -1L)
    val p2 = IndexStore.bloomProbe(spark, live, gen, 1L).get
    assert(verdict(p2, "beta"), "rewritten bits must be visible")
    assert(!verdict(p2, "alpha"))
  }

  test("legacy sidecar-less runs are backfilled on the next compaction " +
      "(ADVICE r16: top-tier runs may never merge again)") {
    val s = spark
    import s.implicits._
    val base = tmp("idx-backfill")
    val (live, gen) = (s"$base/live", s"$base/gen")
    (0L until 4L).foreach(b => writeBatchDir(live, b, Seq(s"v$b")))
    // legacy compaction: NO bloomCol — runs exist without sidecars
    IndexStore.compactIndexDir(spark, live, gen, 4L, compactEvery = 2,
      fanout = 2)
    assert(IndexStore.completeRuns(spark, gen).nonEmpty)
    assert(IndexStore.bloomProbe(spark, live, gen, 4L).isEmpty,
      "no front on a legacy index")
    // bloom-enabled compaction with NOTHING new to fold must still
    // backfill every complete run's sidecar
    IndexStore.compactIndexDir(spark, live, gen, 4L, compactEvery = 2,
      fanout = 2, bloomCol = Some("s"), bloomFpp = 0.001)
    val fs = IndexStore.hadoopFs(spark, gen)
    IndexStore.completeRuns(spark, gen).foreach(r =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(r.path, "_BLOOM")),
        s"run ${r.path.getName} not backfilled"))
    val probe = IndexStore.bloomProbe(spark, live, gen, 4L)
    assert(probe.isDefined, "front engages after backfill")
    val got = Seq("v0", "v3", "absent_q").toDF("s")
      .select(col("s"), probe.get(col("s")).as("m"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got("v0") && got("v3") && !got("absent_q"))
  }

  test("upsertSink rejects streams carrying its reserved fold columns") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val bad = mem.toDF().toDF("k", "__b")
    val e = intercept[IllegalArgumentException] {
      Streams.upsertSink(bad, Seq("k"), tmp("upsert-reserved"))
    }
    assert(e.getMessage.contains("reserved"))
  }
}
