package graft.streaming

import graft.SparkSpec
import graft.sources.ScratchDir
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Focused suite for the standing-index store machinery (runs, tiers,
  * markers) that [[Streams.dedupIngestSink]],
  * [[Streams.noveltyMonitor]] and the delta upsert share — split out of
  * Streams.scala in round 16 so new sink consumers don't re-test
  * compaction through sink behavior. */
class IndexStoreSpec extends SparkSpec {

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
    val base = ScratchDir.create("idx-twin")
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

  test("an index written with Bloom sidecars reads, folds and cleans up " +
      "as one written without them") {
    val s = spark
    import s.implicits._
    // earlier layouts wrote a `_BLOOM` file into every live dir and run;
    // Spark skips `_`-prefixed files, so such an index needs no migration
    def build(withSidecars: Boolean): (String, String) = {
      val base = ScratchDir.create("idx-upgrade")
      val (live, gen) = (s"$base/live", s"$base/gen")
      def sidecar(dir: String): Unit = if (withSidecars) {
        val fs = IndexStore.hadoopFs(spark, dir)
        val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_BLOOM"), true)
        try org.apache.spark.util.sketch.BloomFilter.create(100L).writeTo(out)
        finally out.close()
      }
      (0L until 2L).foreach(b => writeBatchDir(live, b, Seq(s"v${b}_a", s"v${b}_b")))
      IndexStore.compactIndexDir(spark, live, gen, 2L, compactEvery = 2, fanout = 2)
      IndexStore.completeRuns(spark, gen).foreach(r => sidecar(r.path.toString))
      (2L until 4L).foreach { b =>
        writeBatchDir(live, b, Seq(s"v${b}_a", s"v${b}_b"))
        sidecar(s"$live/batch=$b")
      }
      (live, gen)
    }
    def rows(live: String, gen: String, id: Long): Seq[(String, Long)] =
      IndexStore.readIndexDir(spark, live, gen, id).get
        .select("s", "batch").as[(String, Long)].collect().toSeq.sorted
    def names(dir: String): Set[String] =
      IndexStore.hadoopFs(spark, dir).listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.getName).toSet
    val (live, gen) = build(withSidecars = true)
    val (liveC, genC) = build(withSidecars = false)
    assert(names(s"$live/batch=2").contains("_BLOOM"))
    assert(IndexStore.completeRuns(spark, gen).map(_.path.getName) === Seq("gen=0_2"))
    assert(rows(live, gen, 4L) === rows(liveC, genC, 4L))
    assert(rows(live, gen, 4L).size === 8)
    // the fold at 4 writes gen=2_4, merges it with gen=0_2 into gen=0_4,
    // and deletes the folded live dirs and both merged runs
    IndexStore.compactIndexDir(spark, live, gen, 4L, compactEvery = 2, fanout = 2)
    IndexStore.compactIndexDir(spark, liveC, genC, 4L, compactEvery = 2, fanout = 2)
    assert(names(gen) === Set("gen=0_4"))
    assert(names(gen) === names(genC))
    assert(names(live).filter(_.startsWith("batch=")).isEmpty)
    assert(rows(live, gen, 5L) === rows(liveC, genC, 5L))
  }

  test("a live dir whose batch suffix is not a number is skipped by the " +
      "lister, the reader and the compactor") {
    val base = ScratchDir.create("idx-stray")
    val (live, gen) = (s"$base/live", s"$base/gen")
    (0L until 2L).foreach(b => writeBatchDir(live, b, Seq(s"v$b")))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$live/batch=tmp"))
    assert(IndexStore.liveBatchIds(spark, live).sorted === Seq(0L, 1L))
    assert(IndexStore.readIndexDir(spark, live, gen, 2L).get.count() === 2L)
    IndexStore.compactIndexDir(spark, live, gen, 2L, compactEvery = 2, fanout = 2)
    assert(IndexStore.completeRuns(spark, gen).map(_.path.getName) === Seq("gen=0_2"))
    assert(IndexStore.readIndexDir(spark, live, gen, 2L).get.count() === 2L)
  }

  test("upsertSink rejects streams carrying its reserved fold columns") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val bad = mem.toDF().toDF("k", "__b")
    val e = intercept[IllegalArgumentException] {
      Streams.upsertSink(bad, Seq("k"), ScratchDir.create("upsert-reserved"))
    }
    assert(e.getMessage.contains("reserved"))
  }
}
