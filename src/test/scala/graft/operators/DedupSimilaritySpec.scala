package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions

class DedupSimilaritySpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("exact dedup keeps the lowest tie-break row per key group, deterministically") {
    val s = spark
    import s.implicits._
    val df = Seq((3L, "k1", "c"), (1L, "k1", "a"), (2L, "k2", "b")).toDF("id", "k", "v")
    val out = Dedup.exact(df, Seq("k"), "id").orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(out.map(_.getString(2)).toSeq === Seq("a", "b"))
  }

  test("duplicate report lists only groups with more than one row") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "k1"), (2L, "k1"), (3L, "k2")).toDF("id", "k")
    val out = Dedup.duplicateReport(df, Seq("k"), "id").collect()
    assert(out.length === 1)
    assert(out.head.getString(0) === "k1")
    assert(out.head.getLong(1) === 2L) // n_dups
    assert(out.head.getLong(2) === 1L) // keep_id
  }

  test("jaccard of distinct shingle arrays is |∩|/|∪|") {
    val df = docs((1L, "a b c d"), (2L, "b c d e"))
    val sh = df.select(Dedup.wordShingles(col("text"), 2).as("s"))
    val Array(s1, s2) = sh.collect().map(_.getSeq[String](0))
    assert(s1.toSet === Set("a b", "b c", "c d"))
    val j = df.as("x").crossJoin(df.as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(Dedup.jaccard(
        Dedup.wordShingles(col("x.text"), 2), Dedup.wordShingles(col("y.text"), 2)))
      .head().getDouble(0)
    assert(j === 2.0 / 4.0) // {b c, c d} over {a b, b c, c d, d e}
  }

  test("minhash/LSH + verify finds a planted near-duplicate and not unrelated docs") {
    val df = docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota"), // 1 word dropped
      (3L, "one two three four five six seven eight nine ten"))
    val pairs = Dedup.nearDupPairsMinhash(df, "doc_id", "text",
      shingleWords = 2, numHashes = 64, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .collect()
    assert(pairs.length === 1)
    assert((pairs.head.getLong(0), pairs.head.getLong(1)) === (1L, 2L))
    assert(pairs.head.getDouble(2) === 8.0 / 9.0) // 8 shared of 9 union bigrams
  }

  test("simhash: identical texts collide, unrelated texts differ; hamming is symmetric") {
    val df = docs((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "q r s t u v"))
    val sigs = Dedup.simhashSignatures(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
    val s = spark
    import s.implicits._
    val h = Seq((sigs(1L), sigs(3L))).toDF("a", "b")
      .select(Dedup.hamming64(col("a"), col("b"))).head().getInt(0)
    assert(h > 0 && h <= 64)
  }

  test("simhash blocking with 8 chunks keeps exact recall vs brute-force Hamming") {
    val s = spark
    import s.implicits._
    // corpus with planted near-dups: each doc repeats its vocabulary 10x
    // (large vote margins), the twin changes ONE token occurrence — so the
    // twin's signature flips only the few bits with tiny margins and lands
    // within Hamming 3; brute-force all-pairs Hamming is the ground truth
    val base = Seq("red green blue yellow purple orange pink brown",
      "north south east west up down left right",
      "cat dog bird fish horse cow sheep goat",
      "one two three four five six seven eight")
    val rows = base.zipWithIndex.flatMap { case (t, i) =>
      val rep = (Seq.fill(10)(t)).mkString(" ")
      Seq((2L * i, rep), (2L * i + 1, rep.replaceFirst(t.split(' ').head, "zzz")))
    }
    val df = docs(rows: _*)
    val sigs = Dedup.simhashSignatures(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    assert(brute.nonEmpty) // the planted near-dups must actually be within Hamming 3
    for (chunks <- Seq(4, 8)) {
      val blocked = Dedup.nearDupPairsSimhash(df, "doc_id", "text", chunks = chunks)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(blocked === brute, s"chunks=$chunks")
    }
  }

  test("connected components: path graph converges to min label across hops") {
    val s = spark
    import s.implicits._
    // a 10-node path (multi-round convergence) plus a disjoint triangle
    val path = (0L until 9L).map(i => (i, i + 1))
    val tri = Seq((20L, 21L), (21L, 22L), (20L, 22L))
    val pairs = (path ++ tri).toDF("a", "b")
    val out = Dedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 9L).foreach(i => assert(out(i) === 0L, s"node $i"))
    Seq(20L, 21L, 22L).foreach(i => assert(out(i) === 20L, s"node $i"))
    assert(out.size === 13)
  }

  test("connected components: edge direction and duplicates do not matter; empty graph is empty") {
    val s = spark
    import s.implicits._
    val pairs = Seq((5L, 3L), (3L, 5L), (5L, 3L), (7L, 5L)).toDF("a", "b")
    val out = Dedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(3L -> 3L, 5L -> 3L, 7L -> 3L))
    val empty = Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
    assert(empty.isEmpty)
  }

  test("connected components: driver fast path equals the distributed star loop") {
    val s = spark
    import s.implicits._
    // random-ish union of paths, cliques and singleton-adjacent edges
    val rnd = new scala.util.Random(11)
    val edges = ((0 until 60).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)) ++
      (100L until 110L).map(i => (i, i + 1))).filter { case (a, b) => a != b }
    val pairs = edges.toDF("a", "b")
    val fast = Dedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val dist = Dedup.connectedComponents(pairs, "a", "b", smallGraphMaxEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(fast === dist)
    assert(fast.nonEmpty)
  }

  test("cosine matches manual dot/norm arithmetic") {
    val s = spark
    import s.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(2.0f, 3.0f))).toDF("a", "b")
    val c = df.select(VectorFunctions.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(c - (1 * 2 + 2 * 3) / (math.sqrt(5) * math.sqrt(13))) < 1e-15)
  }

  test("exact cosineTopK ranks by similarity desc with id tiebreak") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f)), (11L, Array(0.9f, 0.1f)),
      (12L, Array(0.0f, 1.0f)), (13L, Array(-1.0f, 0.0f))).toDF("id", "v")
    val queries = Seq((1L, Array(1.0f, 0.0f))).toDF("id", "v")
    val out = Similarity.cosineTopK(corpus, "id", "v", queries, "id", "v", k = 3)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(2)).toSeq === Seq(10L, 11L, 12L))
    assert(out.head.getDouble(3) === 1.0)
  }

  test("ANN LSH achieves full recall on well-separated clusters") {
    val s = spark
    import s.implicits._
    // two tight clusters in 64-d: e1-aligned and e2-aligned
    def vec(axis: Int, jitter: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(axis) = 1.0f; a((axis + 2) % 64) = jitter; a
    }
    val corpus = (0 until 20).map(i =>
      (i.toLong, vec(if (i < 10) 0 else 1, 0.01f * i))).toDF("id", "v")
    val queries = Seq((100L, vec(0, 0.05f))).toDF("id", "v")
    val exact = Similarity.cosineTopK(corpus, "id", "v", queries, "id", "v", k = 5)
      .collect().map(_.getLong(2)).toSet
    val ann = Similarity.annTopK(corpus, "id", "v", queries, "id", "v", k = 5, planes = 4)
      .collect().map(_.getLong(2)).toSet
    assert((exact intersect ann).size >= 4) // near-full recall on separated clusters
  }

  test("ANN LSH probes dimension from the data: non-64-d vectors bucket correctly") {
    val s = spark
    import s.implicits._
    // 8-d clusters: with the old hardcoded dim=64 every row hashed to
    // bucket 0 (null-padded dot products) — here the two clusters must
    // land in different buckets and recall must still hold
    def vec(axis: Int, jitter: Float): Array[Float] = {
      val a = Array.fill(8)(0.0f); a(axis) = 1.0f; a((axis + 2) % 8) = jitter; a
    }
    val corpus = (0 until 20).map(i =>
      (i.toLong, vec(if (i < 10) 0 else 4, 0.01f * i))).toDF("id", "v")
    val queries = Seq((100L, vec(0, 0.05f))).toDF("id", "v")
    val exact = Similarity.cosineTopK(corpus, "id", "v", queries, "id", "v", k = 5)
      .collect().map(_.getLong(2)).toSet
    val ann = Similarity.annTopK(corpus, "id", "v", queries, "id", "v", k = 5, planes = 6)
      .collect().map(_.getLong(2)).toSet
    assert((exact intersect ann).size >= 4)
    // and the buckets genuinely partition: fewer candidates than the cross product
    val candidates = Similarity.annTopK(corpus, "id", "v", queries, "id", "v",
      k = 100, planes = 6).count()
    assert(candidates < 20)
  }

  test("ANN LSH raises on vectors that do not match the plane dimension") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f, 0.5f)))
      .toDF("id", "v")
    val queries = Seq((100L, Array(1.0f, 0.0f))).toDF("id", "v")
    val ex = intercept[Exception] {
      Similarity.annTopK(corpus, "id", "v", queries, "id", "v", k = 1, dim = 2).collect()
    }
    assert(ex.getMessage.contains("vector length") ||
      Option(ex.getCause).exists(_.getMessage.contains("vector length")))
  }

  test("IVF with nprobe = cells is exactly exhaustive search; nprobe < cells keeps recall") {
    val s = spark
    import s.implicits._
    def vec(axis: Int, jitter: Float): Array[Float] = {
      val a = Array.fill(16)(0.0f); a(axis) = 1.0f; a((axis + 3) % 16) = jitter; a
    }
    // 4 tight clusters along distinct axes; queries land in cluster 0
    val corpus = (0 until 40).map(i =>
      (i.toLong, vec(i % 4, 0.02f * (i / 4)))).toDF("id", "v")
    val queries = Seq((100L, vec(0, 0.03f))).toDF("id", "v")
    val exact = Similarity.cosineTopK(corpus, "id", "v", queries, "id", "v", k = 5)
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    val exhaustive = Similarity.ivfTopK(corpus, "id", "v", queries, "id", "v",
      k = 5, cells = 8, nprobe = 8)
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    assert(exhaustive === exact)
    // approximate probe: top-5 all live in cluster 0's cell(s)
    val probed = Similarity.ivfTopK(corpus, "id", "v", queries, "id", "v",
      k = 5, cells = 8, nprobe = 2)
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    assert(probed.map(_.getLong(2)).toSet === exact.map(_.getLong(2)).toSet)
    // and the inverted lists genuinely bound the candidates
    val candidates = Similarity.ivfTopK(corpus, "id", "v", queries, "id", "v",
      k = 100, cells = 8, nprobe = 1).count()
    assert(candidates < 40)
  }

  test("cosine-LSH near-dup pairs: same-bucket near-dups found, candidates bounded by buckets") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3)
    def jitter(base: Array[Float], eps: Float): Array[Float] =
      base.map(_ + (rnd.nextFloat() - 0.5f) * eps)
    val anchor = Array.fill(16)(rnd.nextFloat() - 0.5f)
    // 3 planted near-dups of the anchor + 30 unrelated vectors
    val rows = Seq((0L, anchor), (1L, jitter(anchor, 0.02f)), (2L, jitter(anchor, 0.02f))) ++
      (10 until 40).map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() - 0.5f)))
    val df = rows.toDF("id", "v")
    val pairs = Similarity.nearDupPairsCosineLsh(df, "id", "v", threshold = 0.95, planes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // tight jitters of the same anchor share every sign bit -> same bucket
    assert(pairs === Set((0L, 1L), (0L, 2L), (1L, 2L)))
    // and the bucket join never degenerates into all-pairs: candidate
    // count at threshold -1 (accept everything in-bucket) < n*(n-1)/2
    val candidates = Similarity.nearDupPairsCosineLsh(df, "id", "v",
      threshold = -1.0, planes = 4).count()
    assert(candidates < 33L * 32 / 2)
  }

  test("IVF recall curve is monotone in nprobe and exact at nprobe = cells") {
    val s = spark
    import s.implicits._
    // 8 clusters on distinct axes, 20 points each, jittered; queries are
    // BLENDS of two cluster directions, so their true neighbor sets
    // straddle cells and low nprobe genuinely under-recalls — the shape
    // of the operating curve a user tunes against (see ivfTopK scaladoc).
    val rnd = new scala.util.Random(42)
    def clusterVec(axis: Int): Array[Float] = {
      val a = Array.fill(16)(rnd.nextFloat() * 0.1f); a(axis) = 1.0f; a
    }
    val corpus = (0 until 160).map(i => (i.toLong, clusterVec(i % 8))).toDF("id", "v")
    val queries = (0 until 4).map { qi =>
      val a = Array.fill(16)(0.05f)
      a(qi * 2) = 0.8f; a(qi * 2 + 1) = 0.75f // between two clusters
      (1000L + qi, a)
    }.toDF("id", "v")
    val k = 10
    val exact = Similarity.cosineTopK(corpus, "id", "v", queries, "id", "v", k = k)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = Seq(1, 2, 4, 8, 16).map { nprobe =>
      val ann = Similarity.ivfTopK(corpus, "id", "v", queries, "id", "v",
          k = k, cells = 16, nprobe = nprobe)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val perQ = exact.map { case (q, ex) =>
        ann.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size }
      nprobe -> perQ.sum / perQ.size
    }
    info(recalls.map { case (p, r) => f"nprobe=$p%2d recall@$k=$r%.3f" }.mkString(", "))
    // monotone non-decreasing, genuinely partial at nprobe=1, exact at cells
    recalls.map(_._2).sliding(2).foreach { case Seq(a, b) => assert(a <= b + 1e-9) }
    assert(recalls.head._2 < 1.0, "blended queries must under-recall at nprobe=1")
    assert(recalls.last._2 === 1.0, "nprobe = cells is exhaustive")
  }

  test("native cosine expression matches the HOF formulation bit-exactly") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)((Array.fill(64)(rnd.nextFloat() - 0.5f),
      Array.fill(64)(rnd.nextFloat() - 0.5f)))
    val df = rows.toDF("a", "b")
    val out = df.select(
      graft.plans.CosineSimilarityExpr.cosine(col("a"), col("b")).as("native"),
      VectorFunctions.cosine(col("a"), col("b")).as("hof")).collect()
    out.foreach(r => assert(r.getDouble(0) === r.getDouble(1))) // bit-identical
  }

  test("native cosine matches the HOF formulation on ragged inputs: both NULL") {
    val s = spark
    import s.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val out = df.select(
      graft.plans.CosineSimilarityExpr.cosine(col("a"), col("b")).as("native"),
      VectorFunctions.cosine(col("a"), col("b")).as("hof")).collect().head
    assert(out.isNullAt(0) && out.isNullAt(1))
  }

  test("as-of join picks the greatest right time <= left time, inclusive, null when none") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 5L, "b"), (2L, 7L, "c"), (3L, 9L, "z"))
      .toDF("k", "t", "lid")
    val right = Seq((1L, 3L, "x"), (1L, 8L, "y"), (2L, 7L, "w")).toDF("k", "t", "rid")
    val out = AsofJoin.asofLeft(left, right, "k", "k", "t", "t")
      .select("k", "t", "lid", "asof_rid", "asof_t")
      .orderBy("k", "t").collect()
    // mirrors the DuckDB ASOF LEFT JOIN reference behavior
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getString(2),
      Option(r.get(3)).orNull, Option(r.get(4)).orNull)).toSeq === Seq(
      (1L, 5L, "b", "x", 3L), (1L, 10L, "a", "y", 8L),
      (2L, 7L, "c", "w", 7L), (3L, 9L, "z", null, null)))
  }

  test("as-of join tolerance dissolves matches older than the bound (merge_asof parity)") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 5L, "b"), (2L, 7L, "c")).toDF("k", "t", "lid")
    val right = Seq((1L, 3L, "x"), (1L, 8L, "y"), (2L, 7L, "w")).toDF("k", "t", "rid")
    val out = AsofJoin.asofLeft(left, right, "k", "k", "t", "t",
      tolerance = Some(lit(2L)))
      .select("k", "t", "lid", "asof_rid")
      .orderBy("k", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(3)).orNull))
    // (1,5): match x@3, lag 2 <= 2 kept; (1,10): match y@8, lag 2 kept;
    // (2,7): w@7, lag 0 kept — then tighten: with tolerance 1 the first two dissolve
    assert(out.toSeq === Seq((1L, 5L, "x"), (1L, 10L, "y"), (2L, 7L, "w")))
    val tight = AsofJoin.asofLeft(left, right, "k", "k", "t", "t",
      tolerance = Some(lit(1L)))
      .select("k", "t", "asof_rid")
      .orderBy("k", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).orNull))
    assert(tight.toSeq === Seq((1L, 5L, null), (1L, 10L, null), (2L, 7L, "w")))
  }

  test("deterministic sampling/splits: stable by key, complete, append-invariant") {
    val s = spark
    import s.implicits._
    val df = (1L to 2000L).map(i => (i, s"v$i")).toDF("id", "v")
    val splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val assigned = Sampling.assignSplits(df, "id", splits)
    val census = assigned.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(census.values.sum === 2000L)              // every row labeled
    assert(census("train") > census("val") * 4)      // ~80/10/10 shape
    // append-invariance: the first 1000 rows keep their labels exactly
    val firstHalf = Sampling.assignSplits(df.filter($"id" <= 1000), "id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val fromFull = assigned.filter($"id" <= 1000)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(firstHalf === fromFull)
    // sampling is a subset selection by the same hash, ~10%
    val n = Sampling.deterministicSample(df, "id", 0.10).count()
    assert(n > 120 && n < 280, s"sampled $n of 2000")
  }

  test("salted join equals the plain join on skewed data (inner and left)") {
    val s = spark
    import s.implicits._
    // one hot key (90% of rows) + a key missing from the small side
    val skewed = ((1 to 90).map(i => (1L, s"row$i")) ++
      Seq((2L, "x"), (3L, "y"))).toDF("k", "payload")
    val small = Seq((1L, "dim1"), (2L, "dim2")).toDF("k", "attr")
    for (jt <- Seq("inner", "left")) {
      val expected = skewed.join(small, Seq("k"), jt)
        .orderBy("k", "payload").collect().toSeq
      val got = SkewJoin.saltedJoin(skewed, small, "k", buckets = 8, joinType = jt)
        .orderBy("k", "payload").collect().toSeq
      assert(got === expected, jt)
    }
  }

  test("hot-key split salted join equals the plain join, keeps null keys, detects the hot key") {
    val s = spark
    import s.implicits._
    // one hot key (90%), a dim-missing key, and a NULL key (must survive
    // the left join through the plain branch)
    val skewed = ((1 to 90).map(i => (Option(1L), s"row$i")) ++
      Seq((Some(2L), "x"), (Some(3L), "y"), (None, "z"))).toDF("k", "payload")
    val small = Seq((1L, "dim1"), (2L, "dim2")).toDF("k", "attr")
    // detection: only the 90%-key is hot at minShare 0.2, nulls excluded
    assert(SkewJoin.hotKeys(skewed, "k", 0.2) === Seq(1L))
    assert(SkewJoin.hotKeys(skewed, "k", 0.99).isEmpty)
    for (jt <- Seq("inner", "left")) {
      val expected = skewed.join(small, Seq("k"), jt)
        .orderBy("k", "payload").collect().toSeq
      val hot = SkewJoin.saltedJoinHot(skewed, small, "k", buckets = 8,
        hotKeys = Seq(1L), joinType = jt)
        .orderBy("k", "payload").collect().toSeq
      assert(hot === expected, s"saltedJoinHot $jt")
      val auto = SkewJoin.saltedJoinAuto(skewed, small, "k", buckets = 8,
        minShare = 0.2, joinType = jt)
        .orderBy("k", "payload").collect().toSeq
      assert(auto === expected, s"saltedJoinAuto $jt")
      // no hot keys detected -> identical plain-join semantics still hold
      val none = SkewJoin.saltedJoinHot(skewed, small, "k", buckets = 8,
        hotKeys = Seq.empty, joinType = jt)
        .orderBy("k", "payload").collect().toSeq
      assert(none === expected, s"empty hotKeys $jt")
    }
  }

  test("multimodal stub features are deterministic, bounded, fixed-width") {
    val df = Multimodal.extractFeatures(
      Multimodal.withPayload(docs((1L, "hello world")), "text", "text/plain"),
      "payload", dim = 4)
    val f1 = df.select("features").head().getSeq[Float](0)
    val f2 = df.select("features").head().getSeq[Float](0)
    assert(f1 === f2)
    assert(f1.length === 4)
    assert(f1.forall(v => v >= -1.0f && v < 1.0f))
  }

  test("containmentPairs flags an embedded excerpt that Jaccard misses") {
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 12).map(i => s"w$i").mkString(" ")     // prefix of long
    val other = (100 to 160).map(i => s"x$i").mkString(" ")
    val df = docs((1L, long), (2L, excerpt), (3L, other))
    val out = Dedup.containmentPairs(df, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length === 1)
    assert(out.head._1 === 1L && out.head._2 === 2L)
    assert(out.head._3 === 1.0) // every excerpt shingle is in the long doc
    // and symmetric Jaccard on the same pair is far below any dedup bar
    val j = df.filter(col("doc_id") < 3)
      .select(Dedup.jaccard(Dedup.wordShingles(lit(long), 3),
        Dedup.wordShingles(lit(excerpt), 3))).head.getDouble(0)
    assert(j < 0.25, s"jaccard should be low for an excerpt, got $j")
  }

  test("containmentPairs maxDf guard drops pairs sharing only common shingles") {
    // the same boilerplate sentence in every doc; unique prose otherwise.
    // with maxDf = 2 the boilerplate shingles (df = 4) generate no
    // candidates, so docs sharing ONLY boilerplate never pair
    val boiler = "all rights reserved contact us today"
    val rows = (1L to 4L).map(i =>
      (i, s"$boiler unique${i}a unique${i}b unique${i}c unique${i}d"))
    val out = Dedup.containmentPairs(docs(rows: _*), "doc_id", "text",
        threshold = 0.3, maxDf = 2)
      .collect()
    assert(out.isEmpty, s"common-shingle-only pairs must be guarded out: ${out.toSeq}")
  }

  test("keepByPolicy keeps each cluster's policy-max (tie lowest id), unpaired survive") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "short"), (2L, "the longest text here"), (3L, "medium txt"),
      (4L, "lonely doc"), (5L, "same len"), (6L, "same len")).toDF("doc_id", "text")
    // cluster {1,2,3} and cluster {5,6}; 4 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val kept = Dedup.keepByPolicy(df, "doc_id", pairs, "a", "b",
        length(col("text")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 4L, 5L)) // longest of {1,2,3}; lonely 4; tie -> 5
  }

  test("winnowing: every hash window has a fingerprint; shared runs share one") {
    val s = spark
    import s.implicits._
    val body = (1 to 60).map(i => s"w${i * 13 % 41}n$i").mkString(" ")
    val out = Dedup.winnowFingerprints(Seq((1L, body)).toDF("doc_id", "text"),
        "doc_id", "text", k = 3, w = 4)
      .collect().map(r => (r.getLong(1), r.getString(2)))
    val selected = out.map(_._1).toSet
    // guarantee: every window of 4 consecutive gram positions (grams
    // 0..57) contains at least one selected position
    for (e <- 3 to 57)
      assert((e - 3 to e).exists(p => selected.contains(p.toLong)),
        s"window ending at $e has no fingerprint: $selected")
    // density well below the full gram set
    assert(selected.size < 58 && selected.size >= 58 / 4)
    // any shared run of >= w+k-1 = 6 tokens shares a fingerprint hash
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val two = Seq((1L, s"$shared " + (1 to 30).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 30).map(i => s"b$i").mkString(" ") + s" $shared"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(two, "doc_id", "text", k = 3, w = 4)
      .collect().groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(_.getString(2)).toSet }
    assert((fps(1L) intersect fps(2L)).nonEmpty,
      "documents sharing a 10-token run must share a fingerprint")
    // docs without one full hash window emit nothing (m < w)
    assert(Dedup.winnowFingerprints(Seq((1L, "a b c d e")).toDF("doc_id", "text"),
      "doc_id", "text", k = 3, w = 4).collect().isEmpty)
  }

  test("winnow candidate pairs: near-twins surface, boilerplate guarded out") {
    val s = spark
    import s.implicits._
    val body = (1 to 40).map(i => s"v${i * 11 % 37}q$i").mkString(" ")
    val boiler = (1 to 12).map(i => s"tpl$i").mkString(" ")
    // 1 and 2 near-twins; 3 unrelated; 4..29 share ONLY boilerplate
    val docs = (Seq((1L, body), (2L, body + " extra tail"),
      (3L, (1 to 40).map(i => s"z$i").mkString(" "))) ++
      (4L to 29L).map(i => (i, s"$boiler uniq${i}a uniq${i}b uniq${i}c uniq${i}d uniq${i}e uniq${i}f")))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowCandidatePairs(docs, "doc_id", "text",
        k = 3, w = 4, minShared = 2, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 2),
      s"twins must pair with a high shared count: ${pairs.toSeq}")
    // 26 docs share the boilerplate fingerprints -> df > 10 -> guarded out
    assert(!pairs.exists(p => p._1 >= 4L),
      s"boilerplate-only pairs must be guarded out: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("winnow pairing consumes a materialized fingerprint table — lineage runs once") {
    val s = spark
    import s.implicits._
    val body = (1 to 40).map(i => s"m${i * 7 % 31}p$i").mkString(" ")
    val docs = Seq((1L, body), (2L, body + " tail x"),
      (3L, (1 to 40).map(i => s"q$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.winnowCandidatePairs(docs, "doc_id", "text",
      k = 3, w = 4, minShared = 2, maxDf = 10)
    // the fingerprint lineage (posexplode + two per-doc windows) is cut
    // by the eager localCheckpoint, so the pairing plan must contain NO
    // window at all — each of the three consumers (df guard + both join
    // sides) scans the stored blocks instead of re-running the windows
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"fingerprint lineage leaked into the pairing plan:\n$plan")
    assert(plan.contains("ExistingRDD"), plan)
    // and the standing-index entry point reproduces the operator exactly
    val fp = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 3, w = 4)
      .select(col("doc_id"), col("fingerprint")).distinct().localCheckpoint(true)
    val viaIndex = Dedup.winnowCandidatePairsFromFingerprints(fp, "doc_id",
      minShared = 2, maxDf = 10)
    assert(viaIndex.orderBy("a", "b").collect() === pairs.orderBy("a", "b").collect())
  }

  test("softDedupWeights gives 1/|cluster| per doc, singletons weight 1") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"), (6L, "f"))
      .toDF("doc_id", "text")
    // cluster {1,2,3} and cluster {5,6}; 4 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val out = Dedup.softDedupWeights(df, "doc_id", pairs, "a", "b")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq(
      (1L, 1L, 3L, 0.333333), (2L, 1L, 3L, 0.333333), (3L, 1L, 3L, 0.333333),
      (4L, 4L, 1L, 1.0), (5L, 5L, 2L, 0.5), (6L, 5L, 2L, 0.5)))
    // total mass = one document's worth per cluster
    assert(out.map(_._4).sum === 0.333333 * 3 + 1.0 + 0.5 * 2)
  }

  test("cross-dedup finds batch-vs-corpus near-dups and never within-side pairs") {
    val s = spark
    import s.implicits._
    val body = (1 to 40).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, body),                                   // near-dup source
      (2L, (100 to 140).map(i => s"x$i").mkString(" ")), // unrelated
      (3L, (200 to 240).map(i => s"y$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val batch = Seq(
      (101L, body + " tail"),                        // ~dup of corpus doc 1
      (102L, (300 to 340).map(i => s"z$i").mkString(" ")), // novel
      (103L, (300 to 340).map(i => s"z$i").mkString(" "))) // dup WITHIN batch only
      .toDF("doc_id", "text")
    val out = Dedup.crossNearDupPairsMinhash(batch, corpus, "doc_id", "text",
        shingleWords = 3, numHashes = 128, bands = 32, rowsPerBand = 4, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // only the cross-side planted pair: batch-internal dup (102, 103) and
    // corpus rows never pair with their own side
    assert(out === Set((101L, 1L)))
  }

  test("index-probe form matches the general cross-dedup on every internal path") {
    val s = spark
    import s.implicits._
    val body = (1 to 40).map(i => s"w$i").mkString(" ")
    val mk = (rows: Seq[(Long, String)]) => rows.toDF("doc_id", "text")
    val corpus = mk(Seq(
      (1L, body),
      (2L, (100 to 140).map(i => s"x$i").mkString(" ")),
      (3L, (200 to 240).map(i => s"y$i").mkString(" "))))
    val batch = mk(Seq(
      (101L, body + " tail"),                              // ~dup of doc 1
      (102L, (100 to 138).map(i => s"x$i").mkString(" ")), // ~dup of doc 2
      (104L, (300 to 340).map(i => s"z$i").mkString(" ")))) // novel
    def sides() = {
      val shB = Dedup.shingleRows(batch, "doc_id", "text", 3)
      val shC = Dedup.shingleRows(corpus, "doc_id", "text", 3)
      (shB, Dedup.bandRows(shB, 128, 32, 4), shC, Dedup.bandRows(shC, 128, 32, 4))
    }
    val (shB, bkB, shC, bkC) = sides()
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6) / 1e6)).toSet
    val general = norm(
      Dedup.crossNearDupPairsFromIndex(shB, bkB, shC, bkC, 0.7))
    assert(general.map(p => (p._1, p._2)) === Set((101L, 1L), (102L, 2L)),
      s"planted pairs must verify: $general")
    // path 1 (default): localized candidates + isInCollection pushdown
    assert(norm(Dedup.crossNearDupPairsFromIndexProbe(
      shB, bkB, shC, bkC, 0.7)) === general)
    // path 2: candidate ids above maxIsinIds -> broadcast semi-join
    assert(norm(Dedup.crossNearDupPairsFromIndexProbe(
      shB, bkB, shC, bkC, 0.7, maxIsinIds = 0)) === general)
    // path 3: candidates above maxLocalCand -> general-form fallback
    assert(norm(Dedup.crossNearDupPairsFromIndexProbe(
      shB, bkB, shC, bkC, 0.7, maxLocalCand = 0)) === general)
    // disjoint sides: zero candidates must short-circuit to empty
    val lone = mk(Seq((900L, (500 to 540).map(i => s"q$i").mkString(" "))))
    val shL = Dedup.shingleRows(lone, "doc_id", "text", 3)
    assert(Dedup.crossNearDupPairsFromIndexProbe(
      shL, Dedup.bandRows(shL, 128, 32, 4), shC, bkC, 0.7).count() === 0L)
  }

  test("keepByPolicy preserves caller-owned 'id'/'component' data columns") {
    val s = spark
    import s.implicits._
    // 'id' and 'component' are the names the cluster join uses internally;
    // a caller's unrelated data columns with those names must survive intact
    val df = Seq((1L, "short", "idA", "compA"), (2L, "the longest", "idB", "compB"),
        (3L, "lonely", "idC", "compC"))
      .toDF("doc_id", "text", "id", "component")
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val out = Dedup.keepByPolicy(df, "doc_id", pairs, "a", "b", length(col("text")))
    assert(out.columns.toSeq === Seq("doc_id", "text", "id", "component"))
    val rows = out.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(3))).toSeq
    assert(rows === Seq((2L, "idB", "compB"), (3L, "idC", "compC")))
  }

  test("Lloyd-fitted IVF centroids beat lowest-id sampling on adversarial id order") {
    val s = spark
    import s.implicits._
    // adversarial ordering: ALL low ids sit in cluster 0, so sampled
    // centroids are 4 near-copies of one cluster and nprobe=1 scatters
    // the other clusters arbitrarily across cells; a Lloyd fit separates
    // the clusters and restores recall
    val rnd = new scala.util.Random(9)
    def clusterVec(axis: Int): Array[Float] = {
      val a = Array.fill(16)(rnd.nextFloat() * 0.05f); a(axis) = 1.0f; a
    }
    val corpus = ((0 until 40).map(i => (i.toLong, clusterVec(0))) ++
      (40 until 160).map(i => (i.toLong, clusterVec(1 + i % 3)))).toDF("id", "v")
    val queries = (0 until 4).map { qi =>
      val a = Array.fill(16)(0.02f); a(qi) = 1.0f
      (1000L + qi, a)
    }.toDF("id", "v")
    val k = 10
    val exact = Similarity.cosineTopK(corpus, "id", "v", queries, "id", "v", k = k)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def recall(cents: Seq[(Int, Seq[Float])]): Double = {
      val ann = Similarity.ivfTopKWith(corpus, "id", "v", queries, "id", "v",
          k = k, cents = cents, nprobe = 1)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val perQ = exact.map { case (q, ex) =>
        ann.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size }
      perQ.sum / perQ.size
    }
    val sampled = recall(Similarity.sampleCentroids(corpus, "id", "v", 4))
    // lowest-id Lloyd init is equally adversarial here, so seed with
    // deterministic farthest-first spread before the Lloyd iterations
    val seeds = Vectors.farthestFirstCentroids(corpus, "id", "v", 4)
    val fitted = recall(
      Vectors.kmeansFit(corpus, "id", "v", k = 4, iters = 2, init = Some(seeds))
        .map { case (c, v) => (c, v.map(_.toFloat)) })
    info(f"recall@$k nprobe=1: sampled=$sampled%.3f lloyd=$fitted%.3f")
    // measured: sampled=0.925, lloyd=1.000 — the fit recovers exactly the
    // recall the adversarial id layout loses
    assert(fitted > sampled, s"fit must strictly improve: $fitted <= $sampled")
    assert(fitted >= 0.99, s"Lloyd fit should separate the 4 clusters, got $fitted")
    assert(sampled < 0.99, "adversarial sampling should under-recall (else the test is vacuous)")
  }

  test("farthest-first seeding is a single scan and partition-invariant") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3)
    val df = (1L to 500L).map(i => (i, Array.fill(8)(rnd.nextFloat()))).toDF("id", "v")
    val a = Vectors.farthestFirstCentroids(df.repartition(1), "id", "v", 5)
    val b = Vectors.farthestFirstCentroids(df.repartition(13), "id", "v", 5)
    assert(a === b, "seeds must not depend on physical partitioning")
    // ONE scan regardless of k — the classic Gonzalez loop issues k full
    // scans. AQE/limit mechanics cost a constant few jobs per call, so
    // assert the job count is k-independent rather than literally 1.
    val sc = spark.sparkContext
    def jobsFor(k: Int): Int = {
      val group = s"ffc-scan-count-$k"
      sc.setJobGroup(group, group)
      try Vectors.farthestFirstCentroids(df, "id", "v", k)
      finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val (j2, j8) = (jobsFor(2), jobsFor(8))
    assert(j2 === j8, s"job count must not grow with k: k=2 -> $j2 jobs, k=8 -> $j8")
  }

  test("repeated spans: overlapping gram hits merge into maximal spans; self-repeats count; short docs drop") {
    // docs 1 and 2 share tokens a..d (3 overlapping 2-grams -> ONE
    // merged span of 4 tokens each); doc 3 repeats "x y" within itself
    // (two disjoint spans of 2); doc 4 is unique; doc 5 is shorter than n
    val df = docs(
      (1L, "a b c d p q"),
      (2L, "z a b c d w"),
      (3L, "x y k m x y"),
      (4L, "u v r s t n"),
      (5L, "a"))
    val out = Dedup.repeatedNgramSpans(df, "doc_id", "text", n = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 1L, 4L), (2L, 1L, 4L), (3L, 2L, 4L)))
  }
}
