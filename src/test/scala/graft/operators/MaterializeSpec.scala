package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.operators.Materialize._

/** The r18 materialization-policy seam (ADVICE r17): every strategy
  * must produce the same rows; only fault-tolerance and partition
  * layout may differ. Also pins the Graph `checkpointEvery` escape
  * hatch and the repeatedNgramSpans exact mode to their default-mode
  * results. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def base = spark.range(0, 1000)
    .select(col("id"), (col("id") % 7).as("k"))
    .groupBy("k").agg(sum("id").as("s"))

  test("barrier returns identical rows under local, reliable and persist") {
    val expected = base.collect().map(_.toSeq).toSet
    val ckpt = graft.sources.ScratchDir.create("graft-ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    for (strategy <- Seq("local", "reliable", "persist")) {
      spark.conf.set(Materialize.ConfKey, strategy)
      try {
        val got = base.barrier().collect().map(_.toSeq).toSet
        assert(got == expected, s"strategy $strategy changed rows")
      } finally spark.conf.unset(Materialize.ConfKey)
    }
  }

  test("barrier rejects an unknown strategy loudly") {
    spark.conf.set(Materialize.ConfKey, "bogus")
    try {
      val e = intercept[IllegalArgumentException](base.barrier())
      assert(e.getMessage.contains("bogus"))
    } finally spark.conf.unset(Materialize.ConfKey)
  }

  private def withStrategy(strategy: String)(body: => Unit): Unit = {
    spark.conf.set(Materialize.ConfKey, strategy)
    try body finally spark.conf.unset(Materialize.ConfKey)
  }

  /** Whether `b`'s OWN blocks are held: the RDD under a checkpointed
    * frame's top node, or the CacheManager entry of a persisted one.
    * Never a global getPersistentRDDs snapshot — suites share one
    * SparkContext. */
  private def holdsBlocks(b: org.apache.spark.sql.DataFrame): Boolean =
    b.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
      case _ => b.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    }

  // distinct plans per case: under `persist`, equal plans share one
  // CacheManager entry
  private def frame(tag: Int) = base.withColumn("tag", lit(tag))

  test("release frees a barrier's blocks under local and persist") {
    for ((strategy, tag) <- Seq("local" -> 1, "persist" -> 2)) withStrategy(strategy) {
      val b = frame(tag).barrier()
      assert(holdsBlocks(b), s"$strategy barrier holds no blocks")
      release(b)
      assert(!holdsBlocks(b), s"$strategy release left the blocks")
    }
  }

  test("release is harmless under reliable: the checkpoint stays readable") {
    spark.sparkContext.setCheckpointDir(
      graft.sources.ScratchDir.create("graft-ckpt"))
    withStrategy("reliable") {
      val expected = frame(3).collect().map(_.toSeq).toSet
      val b = frame(3).barrier()
      release(b)
      assert(b.collect().map(_.toSeq).toSet == expected)
    }
  }

  test("releasing one barrier leaves a concurrently created one persisted") {
    for ((strategy, tag) <- Seq("local" -> 4, "persist" -> 6)) withStrategy(strategy) {
      val first = frame(tag).barrier()
      val second = scala.concurrent.Await.result(
        scala.concurrent.Future(frame(tag + 1).barrier())(
          scala.concurrent.ExecutionContext.global),
        scala.concurrent.duration.Duration.Inf)
      release(first)
      assert(!holdsBlocks(first), s"$strategy: first barrier not released")
      assert(holdsBlocks(second), s"$strategy: release freed a sibling barrier")
      assert(second.count() == 7)
      release(second)
    }
  }

  test("release on a frame derived from a barrier leaves the barrier's blocks") {
    for ((strategy, tag) <- Seq("local" -> 8, "persist" -> 9)) withStrategy(strategy) {
      val b = frame(tag).barrier()
      release(b.filter(col("k") > 2))
      assert(holdsBlocks(b), s"$strategy: a derived frame's release freed the barrier")
      assert(b.count() == 7)
      release(b)
    }
  }

  private def edges = Seq(
    ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
    ("a", "c"), ("c", "a"), ("a", "d"), ("d", "a")
  ).toDF("src", "dst")

  test("pageRank checkpointEvery=1 is bit-identical to the lazy chain") {
    val lazyRanks = Graph.pageRank(edges, "src", "dst", iters = 4)
      .orderBy("node").collect().map(_.toSeq)
    val ckptRanks = Graph.pageRank(edges, "src", "dst", iters = 4,
      checkpointEvery = 1).orderBy("node").collect().map(_.toSeq)
    assert(ckptRanks.toSeq == lazyRanks.toSeq)
  }

  test("labelPropagation checkpointEvery=2 is bit-identical to the lazy chain") {
    // numeric node ids: the deterministic argmax negates the label
    val nedges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (1L, 3L), (3L, 1L), (1L, 4L), (4L, 1L)).toDF("src", "dst")
    val a = Graph.labelPropagation(nedges, "src", "dst", iters = 3)
      .orderBy("node").collect().map(_.toSeq)
    val b = Graph.labelPropagation(nedges, "src", "dst", iters = 3,
      checkpointEvery = 2).orderBy("node").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("repeatedNgramSpans exact mode matches the hashed default") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog the quick brown fox"),
      (2L, "the quick brown fox is here and the quick brown fox is there"),
      (3L, "entirely unique words compose this very document body here")
    ).toDF("id", "text")
    val h = Dedup.repeatedNgramSpans(docs, "id", "text", 3)
      .orderBy("id").collect().map(_.toSeq)
    val e = Dedup.repeatedNgramSpans(docs, "id", "text", 3, exact = true)
      .orderBy("id").collect().map(_.toSeq)
    assert(h.toSeq == e.toSeq)
  }
}
