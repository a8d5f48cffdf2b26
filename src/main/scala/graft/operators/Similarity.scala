package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.functions.VectorFunctions._
import graft.plans.CosineSimilarityExpr

/** Similarity search over an embedding column (SURVEY.md §2.C row 11).
  *
  * Two paths, one API:
  *  - [[cosineTopK]] — exact brute force. The query side is broadcast, so
  *    the corpus is scanned once with no shuffle of the big side; cost is
  *    O(|corpus| * |queries|). Correct at any scale where |queries| is
  *    small; this is the oracle-checkable baseline.
  *  - [[annTopK]] — LSH-bucketed approximate path for query sets too large
  *    to broadcast-cross: random-hyperplane signatures (seed-pinned plane
  *    matrix, driver-generated, shipped as a literal) bucket both sides;
  *    candidates only meet inside a bucket, turning the cross product into
  *    an equi-join Spark shuffles by bucket key. Recall is tunable via
  *    planes/bands (unit-tested against the exact path).
  *
  * Never an unguarded crossJoin: the exact path requires an explicit
  * maxQueries cap to keep the broadcast side bounded.
  */
object Similarity {

  /** Cosine over the fastest path for the column's type: the native
    * codegen'd expression for float arrays (one fused loop inside
    * whole-stage codegen), the interpreted higher-order-function
    * formulation otherwise. Both produce bit-identical doubles. */
  private def cosineFor(df: DataFrame, vecCol: String)(a: Column, b: Column): Column =
    df.schema(vecCol).dataType match {
      case ArrayType(FloatType, _) => CosineSimilarityExpr.cosine(a, b)
      case _ => cosine(a, b)
    }

  /** Exact cosine top-k: for every query vector, the k nearest corpus
    * vectors by cosine (ties broken by ascending corpus id). */
  def cosineTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, maxQueries: Int = 1000): DataFrame = {
    val q = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv")).limit(maxQueries)
    val cos = cosineFor(corpus, vecCol) _
    // the broadcast join + per-pair cosine fuse into the corpus SCAN
    // stage; widen a narrow (few-file) source or |queries| x dim flops
    // per corpus row run one core per split (Parallelize; safe: cosines
    // are row-local sequential folds, ranks tie-break on neighbor_id)
    val sim = Parallelize.cpuBound(corpus.select(col(idCol), col(vecCol)))
      .join(broadcast(q), col(idCol) =!= col("query_id"))
      .select(
        col("query_id"), col(idCol).as("neighbor_id"),
        cos(col(vecCol), col("__qv")).as("sim"))
    topKPerQuery(sim, k)
  }

  /** Each query's `k` best (query_id, neighbor_id, sim) rows, ranked by
    * sim desc with ties broken by ascending neighbor_id, as
    * (query_id, rank, neighbor_id, sim). */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** All pairs (a < b) with cosine >= threshold among a bounded id range —
    * embedding-cosine near-duplicate detection. Bounded sides broadcast. */
  def cosinePairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxId: Long): DataFrame = {
    val a = df.filter(col(idCol) < maxId)
      .select(col(idCol).as("a"), col(vecCol).as("__va"))
    val b = df.filter(col(idCol) < maxId)
      .select(col(idCol).as("b"), col(vecCol).as("__vb"))
    a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"),
        cosineFor(df, vecCol)(col("__va"), col("__vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** IVF (inverted-file) approximate nearest neighbors — the second ANN
    * family next to the hyperplane LSH: a coarse quantizer of `cells`
    * centroids partitions the corpus into inverted lists (each vector is
    * assigned to its best-cosine centroid); a query probes only its
    * `nprobe` nearest cells and exact cosine ranks those lists. The cell
    * id is an equi-join key, so candidates meet only inside probed cells —
    * never all-pairs — and the shuffle partitions by cell.
    *
    * Centroids are sampled deterministically from the corpus (the `cells`
    * lowest-id vectors, KBs collected driver-side and shipped as
    * literals). A production fit would run a few Lloyd iterations on a
    * sample first; the assignment/probe/join plumbing — the part that has
    * to scale — is identical either way.
    *
    * `nprobe = cells` probes every list and is exactly exhaustive search
    * (the oracle case). Operating guide for the nprobe knob: recall@k
    * rises monotonically with nprobe and hits 1.0 at `cells`;
    * DedupSimilaritySpec's sweep on 8-cluster data with queries blended
    * across two clusters (the hard case — the true neighbor set
    * straddles cells) measures recall@10 = 0.60 / 1.00 / 1.00 / 1.00 /
    * 1.00 at nprobe = 1 / 2 / 4 / 8 / 16 over cells = 16: one extra
    * probe recovers the straddled cluster, so size nprobe to the number
    * of clusters a query can plausibly border (2–4 in practice), not to
    * a fraction of cells. Cost scales linearly with nprobe (candidates
    * come only from probed lists). */
  def ivfTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, cells: Int = 16, nprobe: Int = 4): DataFrame =
    ivfTopKWith(corpus, idCol, vecCol, queries, qIdCol, qVecCol, k,
      sampleCentroids(corpus, idCol, vecCol, cells), nprobe)

  /** Deterministic coarse-quantizer sample: the `cells` lowest-id
    * vectors. Adequate when low ids are spread across the data's
    * clusters; for adversarial id orderings (all low ids in one
    * cluster) refine with [[Vectors.kmeansFit]] and pass the result to
    * [[ivfTopKWith]] — DedupSimilaritySpec measures the recall gap. */
  def sampleCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      cells: Int): Seq[(Int, Seq[Float])] =
    corpus.orderBy(col(idCol)).limit(cells)
      .select(col(vecCol)).collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](0)) }.toSeq

  /** [[ivfTopK]] with caller-supplied centroids (e.g. a Lloyd fit from
    * [[Vectors.kmeansFit]], floats via `.map(_.toFloat)`) — the
    * assignment/probe/join plumbing is identical, only the coarse
    * quantizer quality changes. */
  def ivfTopKWith(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, cents: Seq[(Int, Seq[Float])], nprobe: Int): DataFrame = {
    val cells = cents.size
    require(cells > 0 && nprobe > 0 && nprobe <= cells,
      s"need 0 < nprobe <= cells, got nprobe=$nprobe cells=$cells")
    val cos = cosineFor(corpus, vecCol) _
    // per-centroid (similarity, cell) structs: argmax via array_max is
    // lexicographic on (s, cell) — deterministic ties
    def centScores(v: Column): Column = array(cents.map { case (cid, cv) =>
      struct(cos(v, typedLit(cv)).as("s"), lit(cid).as("cell"))
    }: _*)
    // cells x dim flops per corpus row fuse into the scan stage — widen a
    // narrow source (Parallelize; the cell id is a row-local
    // deterministic argmax, and the probe-join cosine downstream is
    // row-local too)
    val assigned = Parallelize.cpuBound(corpus.select(col(idCol), col(vecCol)))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        array_max(centScores(col(vecCol))).getField("cell").as("__cell"))
    val probes = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"),
      explode(transform(
        slice(reverse(array_sort(centScores(col(qVecCol)))), 1, nprobe),
        s => s.getField("cell"))).as("__cell"))
    topKPerQuery(assigned.join(probes, Seq("__cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cos(col("__cv"), col("__qv")).as("sim")), k)
  }

  /** Deterministic random-hyperplane matrix (planes x dim), seed-pinned. */
  private[graft] def planeMatrix(planes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes, dim)(rnd.nextGaussian())
  }

  /** The seed-pinned (rows x d) [[planeMatrix]] as a plan literal, and a
    * length guard for vectors hashed or projected against it. `d` is
    * `dim`, or when 0 the length of the first `df.vecCol` vector (one
    * tiny driver-side action). The guard raises
    * "`caller`: vector length n != `matrix` dim d" on any other length:
    * zip_with pads a short vector with nulls, which would silently null
    * the dot product instead of failing. */
  private[graft] def guardedMatrix(
      df: DataFrame, vecCol: String, dim: Int, rows: Int, seed: Long,
      caller: String, matrix: String = "plane"): (Column, Column => Column) = {
    val d = if (dim > 0) dim else df.select(size(col(vecCol))).head.getInt(0)
    def guarded(v: Column): Column = when(size(v) === d, v).otherwise(
      raise_error(concat(lit(s"$caller: vector length "), size(v).cast("string"),
        lit(s" != $matrix dim $d"))))
    (typedLit(planeMatrix(rows, d, seed)), guarded)
  }

  /** Sign-bit signature of a vector against the plane matrix, as an
    * Int bucket key (planes <= 30). Computed with codegen'd higher-order
    * functions over a literal matrix — no UDF. */
  private[graft] def signature(vec: Column, planesLit: Column, planes: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(planes - 1)), p =>
        when(aggregate(
          zip_with(toDoubleArray(vec), element_at(planesLit, p + 1), (x, h) => x * h),
          lit(0.0), (acc, x) => acc + x) >= 0, lit(1)).otherwise(lit(0))),
      lit(0), (acc, bit) => acc * 2 + bit)

  /** Embedding near-duplicate pairs at scale — the semantic-dedup
    * candidate generator: every vector is hashed into a sign-bit
    * hyperplane bucket and pairs meet ONLY inside a shared bucket (an
    * equi-join on the bucket id, never all-pairs); exact cosine then
    * verifies each candidate against `threshold`. Approximation is
    * one-sided and explicit: a near-dup pair split across buckets is
    * missed (probability (angle/π)·planes per plane, driven down by
    * fewer planes = bigger buckets), while every returned pair is
    * exactly verified. Returns (a, b, sim) with a < b. */
  def nearDupPairsCosineLsh(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 6, seed: Long = 42L, dim: Int = 0): DataFrame = {
    val (planesLit, guarded) =
      guardedMatrix(df, vecCol, dim, planes, seed, "nearDupPairsCosineLsh")
    // planes x dim interpreted-HOF flops per row fuse into the scan
    // stage — widen a narrow source (Parallelize; sign bits are
    // row-local deterministic folds)
    val sig = Parallelize.cpuBound(df.select(col(idCol), col(vecCol)))
      .select(col(idCol), col(vecCol),
        signature(guarded(col(vecCol)), planesLit, planes).as("__bucket"))
    sig.select(col("__bucket"), col(idCol).as("a"), col(vecCol).as("__va"))
      .join(sig.select(col("__bucket"), col(idCol).as("b"), col(vecCol).as("__vb")),
        Seq("__bucket"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), cosineFor(df, vecCol)(col("__va"), col("__vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Cross-dataset embedding near-duplicates — SEMANTIC decontamination
    * (the embedding-space sibling of Contamination's n-gram overlap):
    * flag right-side (training) vectors whose cosine to any left-side
    * (benchmark/eval) vector reaches `threshold`, meeting only inside a
    * shared hyperplane bucket (equi-join on the bucket id computed with
    * ONE shared seed-pinned plane matrix, never all-pairs). Returns
    * (left_id, right_id, sim) for every verified hit; approximation is
    * one-sided exactly as in [[nearDupPairsCosineLsh]] — a cross-bucket
    * pair is missed, every returned pair is exactly verified. */
  def crossNearDupCosineLsh(
      left: DataFrame, lIdCol: String, lVecCol: String,
      right: DataFrame, rIdCol: String, rVecCol: String,
      threshold: Double, planes: Int = 6, seed: Long = 42L, dim: Int = 0): DataFrame = {
    val (planesLit, guarded) =
      guardedMatrix(left, lVecCol, dim, planes, seed, "crossNearDupCosineLsh")
    val l = left.select(col(lIdCol).as("left_id"), col(lVecCol).as("__lv"),
      signature(guarded(col(lVecCol)), planesLit, planes).as("__bucket"))
    val r = right.select(col(rIdCol).as("right_id"), col(rVecCol).as("__rv"),
      signature(guarded(col(rVecCol)), planesLit, planes).as("__bucket"))
    l.join(r, Seq("__bucket"))
      .select(col("left_id"), col("right_id"),
        cosineFor(left, lVecCol)(col("__lv"), col("__rv")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Approximate nearest neighbors: both sides hashed into hyperplane
    * buckets; exact cosine ranks candidates inside each bucket only.
    *
    * `dim` is the plane dimension; when 0 (default) it is probed from the
    * first corpus vector (one tiny driver-side action). Every hashed
    * vector is guarded against that dimension at runtime — a mismatched
    * length raises instead of silently hashing to bucket 0 (zip_with pads
    * with null, nulling the dot product), which would collapse the LSH
    * partitioning into the cross product it exists to avoid. */
  def annTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, planes: Int = 12, seed: Long = 42L, dim: Int = 0): DataFrame = {
    val (planesLit, guarded) =
      guardedMatrix(corpus, vecCol, dim, planes, seed, "annTopK")
    // planes x dim interpreted-HOF flops per corpus row fuse into the
    // scan stage — widen a narrow source (Parallelize; sign bits are
    // row-local deterministic folds)
    val c = Parallelize.cpuBound(corpus.select(col(idCol), col(vecCol)))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        signature(guarded(col(vecCol)), planesLit, planes).as("__bucket"))
    val q = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"),
      signature(guarded(col(qVecCol)), planesLit, planes).as("__bucket"))
    topKPerQuery(c.join(q, Seq("__bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFor(corpus, vecCol)(col("__cv"), col("__qv")).as("sim")), k)
  }
}
