package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class VectorOpsSpec extends SparkSpec {

  private def vecs(rows: (Long, Seq[Float])*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("id", "v")
  }

  test("randomProjection emits outDim components and is partition-invariant") {
    val base = (1L to 40L).map(i => (i, Seq.tabulate(16)(j => (i * 31 + j).toFloat % 7)))
    val p1 = Vectors.randomProjection(vecs(base: _*), "id", "v", outDim = 4, seed = 7L)
    val p2 = Vectors.randomProjection(vecs(base: _*).repartition(7), "id", "v", outDim = 4, seed = 7L)
    val rows1 = p1.orderBy("id").collect()
    val rows2 = p2.orderBy("id").collect()
    assert(rows1.forall(_.getSeq[Double](1).length === 4))
    // bit-identical across partitionings: the left-fold order is per-row
    assert(rows1.map(_.getSeq[Double](1)).toSeq === rows2.map(_.getSeq[Double](1)).toSeq)
  }

  test("randomProjection approximately preserves pairwise distance ratios (JL)") {
    val rnd = new scala.util.Random(3)
    val base = (1L to 30L).map(i => (i, Seq.fill(64)(rnd.nextGaussian().toFloat)))
    val proj = Vectors.randomProjection(vecs(base: _*), "id", "v", outDim = 32, seed = 11L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val orig = base.toMap
    def d(a: Seq[Double], b: Seq[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val ratios = for {
      i <- 1L to 10L; j <- (i + 1) to 10L
    } yield d(proj(i), proj(j)) / d(orig(i).map(_.toDouble), orig(j).map(_.toDouble))
    // JL with outDim=32: distortion concentrated around 1; generous bounds
    assert(ratios.forall(r => r > 0.5 && r < 1.6), s"ratios out of band: $ratios")
  }

  test("randomProjection raises on ragged vectors instead of null-padding") {
    val df = vecs((1L, Seq(1f, 2f, 3f)), (2L, Seq(1f, 2f)))
    val ex = intercept[Exception] {
      Vectors.randomProjection(df, "id", "v", outDim = 2, seed = 1L).collect()
    }
    assert(ex.getMessage.contains("vector length") || ex.getCause != null)
  }

  test("kmeans recovers planted well-separated blobs and is partition-invariant") {
    val rnd = new scala.util.Random(5)
    def blob(center: Double, ids: Range) =
      ids.map(i => (i.toLong, Seq.fill(8)((center + rnd.nextGaussian() * 0.05).toFloat)))
    // ids 1..3 seed the init: lowest-id init must place one centroid per blob
    val data = blob(0.0, 1 to 1) ++ blob(10.0, 2 to 2) ++ blob(-10.0, 3 to 3) ++
      blob(0.0, 10 to 29) ++ blob(10.0, 30 to 49) ++ blob(-10.0, 50 to 69)
    val df = vecs(data: _*)
    val out = Vectors.kmeansAssign(df, "id", "v", k = 3, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // all members of a blob share their seed row's cell
    assert((10 to 29).forall(i => out(i.toLong) === out(1L)))
    assert((30 to 49).forall(i => out(i.toLong) === out(2L)))
    assert((50 to 69).forall(i => out(i.toLong) === out(3L)))
    assert(Set(out(1L), out(2L), out(3L)).size === 3)
    val out2 = Vectors.kmeansAssign(df.repartition(5), "id", "v", k = 3, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out2 === out)
  }

  test("kmeansFit drops a cell that loses all members (no stale-centroid carry)") {
    // two tight blobs; k=3 with the three lowest ids as inits: ids 1,2 sit in
    // blob A, id 3 in blob B. After one iteration the all-of-blob-A mass goes
    // to whichever of cells 0/1 is nearer; with identical seeds 1 and 2 the
    // tie rule sends every blob-A vector to cell 0, leaving cell 1 empty.
    val a = Seq.fill(8)(0.0f); val b = Seq.fill(8)(10.0f)
    val df = vecs((1L, a), (2L, a), (3L, b), (4L, a), (5L, b))
    val cents = Vectors.kmeansFit(df, "id", "v", k = 3, iters = 1)
    assert(cents.map(_._1) === Seq(0, 2))
  }

  test("labelOutliers ranks a planted far vector first, own-label centroids only") {
    val s = spark
    import s.implicits._
    // label 0: tight blob at 0 plus ONE planted outlier at 5; label 1:
    // tight blob at 10 — the outlier must rank 1 and label-1 members
    // must not be flagged against label-0's centroid
    val rows =
      (1L to 20L).map(i => (i, Seq.fill(4)(0.0f), 0)) ++
        Seq((99L, Seq.fill(4)(5.0f), 0)) ++
        (101L to 120L).map(i => (i, Seq.fill(4)(10.0f), 1))
    val df = rows.toDF("id", "v", "lab")
    val out = Vectors.labelOutliers(df, "id", "v", "lab", topN = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(out.head === ((1, 99L)))
    // everything else is essentially at its centroid; ranks 2..3 are the
    // tight-blob members whose centroid the outlier dragged over
    assert(out.length === 3)
  }

  test("embeddingDrift: identical halves cosine 1, orthogonal shift detected, empty slice null") {
    val s = spark
    import s.implicits._
    // identical distributions: both halves are the same two vectors
    val same = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) Seq(1.0f, 0.0f, 1.0f, 0.0f) else Seq(0.0f, 1.0f, 0.0f, 1.0f)))
      .toDF("id", "v")
    val a = Vectors.embeddingDrift(same, "v", col("id") <= 20).head
    assert(math.abs(a.getDouble(2) - 1.0) < 1e-9, s"same mix must read 1: $a")
    assert(a.getLong(0) === 20L && a.getLong(1) === 20L)
    assert(math.abs(a.getDouble(3) - a.getDouble(4)) < 1e-9)
    // base along e1, other along e2: centroids orthogonal, cosine 0
    val shifted = ((1L to 10L).map(i => (i, Seq(1.0f, 0.0f))) ++
      (11L to 20L).map(i => (i, Seq(0.0f, 1.0f)))).toDF("id", "v")
    val b = Vectors.embeddingDrift(shifted, "v", col("id") <= 10).head
    assert(math.abs(b.getDouble(2)) < 1e-9, s"orthogonal centroids must read 0: $b")
    // empty other slice: null cosine and null other-norm, counts intact
    val e = Vectors.embeddingDrift(shifted, "v", lit(true)).head
    assert(e.isNullAt(2) && e.isNullAt(4) && e.getLong(0) === 20L && e.getLong(1) === 0L)
  }

  test("crossNearDupCosineLsh finds planted cross-set hits, never same-side pairs") {
    val s = spark
    import s.implicits._
    def axis(a: Int, jitter: Float): Seq[Float] = {
      val v = Array.fill(8)(0.0f); v(a) = 1.0f; v((a + 3) % 8) = jitter; v.toSeq
    }
    val eval = Seq((1L, axis(0, 0.01f)), (2L, axis(4, 0.01f))).toDF("id", "v")
    val train = Seq(
      (10L, axis(0, 0.02f)),  // near eval 1
      (11L, axis(4, 0.03f)),  // near eval 2
      (12L, axis(2, 0.0f))    // near neither
    ).toDF("id", "v")
    val out = Similarity.crossNearDupCosineLsh(
        eval, "id", "v", train, "id", "v", threshold = 0.9, planes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet === Set((1L, 10L), (2L, 11L)))
  }

  test("upsert: updates win, inserts appear, untouched rows survive") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "s", "x")
    val upd = Seq((2L, "B", 99.0), (9L, "new", 1.0)).toDF("k", "s", "x")
    val out = Merge.upsert(base, upd, Seq("k")).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq === Seq((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0), (9L, "new", 1.0)))
  }

  test("scd2 chains versions into valid_from/valid_to with one open current row per key") {
    val s = spark
    import s.implicits._
    val h = Seq((1L, "a", 100L), (1L, "b", 200L), (1L, "c", 300L), (2L, "x", 150L))
      .toDF("k", "v", "ts")
    val out = Merge.scd2(h, Seq("k"), "ts").orderBy("k", "valid_from")
      .select("k", "v", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
    assert(out.toSeq === Seq(
      (1L, "a", 100L, 200L, false),
      (1L, "b", 200L, 300L, false),
      (1L, "c", 300L, -1L, true),
      (2L, "x", 150L, -1L, true)))
  }

  test("upsert rejects a missing key column with a clear error") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, 1.0)).toDF("k", "x")
    val ex = intercept[IllegalArgumentException] {
      Merge.upsert(base, base, Seq("nope"))
    }
    assert(ex.getMessage.contains("nope"))
  }
}
