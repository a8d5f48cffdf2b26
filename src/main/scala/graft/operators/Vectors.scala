package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.toDoubleArray

/** VECTOR-modality profiling (SURVEY.md §2.C row 12 extension ladder):
  * dimension and norm statistics for an ArrayType(Numeric) column — the
  * describe() analog for embedding columns. One aggregation job. */
object Vectors {

  /** Per-vector dimension + L2 norm. */
  def norms(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol),
      size(col(vecCol)).cast("long").as("dim"),
      VectorFunctions.norm(col(vecCol)).as("norm"))

  /** Symmetric per-vector int8 quantization — the 100 TB memory lever for
    * embedding search: scale = 127 / max|v| per vector, q_i = ⌊v_i·scale
    * + 0.5⌋ (the same portable round-half-up formula the SQL oracle uses,
    * never engine `round()`). Cosine is invariant to per-vector positive
    * scaling, so ranking over quantized vectors approximates the float
    * ranking at one quarter of the footprint — and because the quantized
    * components are small integers, cosine sums over them are EXACT in
    * IEEE double, which is what lets an independent engine reproduce
    * similarity scores bit-for-bit. Zero vectors quantize to zeros.
    *
    * Since round 11 the scale and the codes are native one-pass codegen
    * expressions ([[graft.plans.Quantize8Expr]]), which RETIRES the
    * CollapseProject hazard this operator used to carry: the earlier
    * two-projection HOF form kept its non-cheap `scale` alias apart, but
    * any downstream projection (a consumer's select, or
    * InferFiltersFromGenerate under a posexplode) could collapse the
    * alias back into the per-element lambda and re-evaluate the O(dim)
    * array_max per ELEMENT — O(dim²) interpreted work per row (measured
    * 8.45 s vs 0.55 s at sf0.1 for quantize_vectors, 11.6 s vs 0.9 s at
    * sf≈1 for quantized_topk). The native expressions are O(dim) by
    * construction regardless of what Catalyst collapses around them. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    // native one-pass expressions (graft.plans.Quantize8Expr): the
    // previous two-step projection kept `scale` aliased apart, but any
    // DOWNSTREAM projection could still CollapseProject the non-cheap
    // alias back into a per-element lambda — O(dim²) interpreted work
    // per row (measured 11.6 s vs 0.9 s at sf≈1 for quantized_topk).
    // The native form is O(dim) by construction and codegen'd.
    df.select(col(idCol),
      graft.plans.Quantize8Expr.scale8(col(vecCol)).as("scale"),
      graft.plans.Quantize8Expr.codes8(col(vecCol)).as("qvec"))

  /** Johnson–Lindenstrauss random projection: dim → outDim via a
    * seed-pinned Gaussian matrix R (outDim × dim, the same generator as
    * the LSH plane matrix), proj_j = (Σ_i v_i·R[j,i]) / √outDim. JL
    * guarantees pairwise distances are preserved within (1±ε) for
    * outDim = O(log n / ε²) — the standard compression step before ANN
    * indexing or clustering when the raw dimension is large.
    *
    * Scale shape: the matrix is a driver-side literal (outDim·dim
    * doubles, KBs), the projection is one narrow codegen'd projection
    * per row — no shuffle, no UDF. The left-fold dot product keeps the
    * summation order deterministic, so an independent engine replaying
    * the same literals reproduces every component bit-for-bit (the
    * ann_lsh_topk oracle trick). Ragged vectors raise rather than
    * silently projecting through null-padded zip_with. */
  def randomProjection(
      df: DataFrame, idCol: String, vecCol: String,
      outDim: Int, seed: Long = 42L, dim: Int = 0): DataFrame = {
    require(outDim > 0, s"outDim must be positive, got $outDim")
    val (rLit, guarded) = Similarity.guardedMatrix(
      df, vecCol, dim, outDim, seed, "randomProjection", matrix = "matrix")
    val denom = lit(math.sqrt(outDim.toDouble))
    df.select(col(idCol),
      transform(sequence(lit(0), lit(outDim - 1)), j =>
        aggregate(
          zip_with(toDoubleArray(guarded(col(vecCol))), element_at(rLit, j + 1),
            (x, h) => x * h),
          lit(0.0), (acc, x) => acc + x) / denom).as("proj"))
  }

  /** Squared L2 distance to a centroid literal, UNROLLED over the
    * centroid's components so the whole sum is plain codegen'd
    * arithmetic — the zip_with/aggregate HOF formulation is interpreted
    * (no whole-stage codegen) and cost 17 s for kmeans_assign at sf0.1
    * vs ~1 s unrolled. Left-associated reduce keeps the exact IEEE
    * summation order of the fold the SQL oracle replays (the leading
    * 0.0 + t1 of a fold is bit-identical to t1 for non-negative
    * squares), so results stay bit-for-bit comparable. */
  /** Assignment as a DataFrame with a materialized `cell` attribute.
    *
    * Plan shape matters more than the formula here. The distances are k
    * codegen'd [[graft.plans.SqL2Expr]] nodes (one fused loop each, same
    * left-to-right double arithmetic as the per-element expansion this
    * replaces — that expansion built ~k·dim-node trees that paid
    * Catalyst analysis + Janino compilation per Lloyd iteration, the
    * dominant cost of kmeans_assign at bench scale). Argmin =
    * array_min over (d, cell) structs — lexicographic, so an exact
    * distance tie resolves to the lowest cell, the rule the SQL oracle
    * replays as ORDER BY dist ASC, cell ASC; a null distance (vector
    * shorter than the centroid) is skipped by array_min, and all-null
    * yields a null cell, matching the old when-chain.
    *
    * The measured Generate trap still applies: computing the cell in
    * the SAME select as a posexplode lets the optimizer hoist the
    * argmin ABOVE the Generate, re-evaluating it once per exploded
    * element (64×) — so `cell` is materialized here and is a plain
    * attribute by the time a caller explodes. The scored array is
    * referenced TWICE in the consuming select (min distance + cell),
    * which blocks CollapseProject from re-inlining it, the same guard
    * the quantizeInt8 scale column relies on. */
  private def assignCells(
      df: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Int, Seq[Double])], keepVec: Boolean): DataFrame = {
    require(cents == cents.sortBy(_._1), "centroids must be in ascending cell order")
    val keep = col(idCol) +: (if (keepVec) Seq(col(vecCol)) else Nil)
    val scored = array(cents.map { case (cid, cv) =>
      val d = graft.plans.SqL2Expr.sqL2(col(vecCol), typedLit(cv))
      when(d.isNotNull, struct(d.as("d"), lit(cid).as("cell")))
    }: _*)
    val m = array_min(col("__s"))
    df.select(keep :+ scored.as("__s"): _*)
      .select((keep :+ m.getField("d").as("__dmin")) :+
        m.getField("cell").as("cell"): _*)
      .select(keep :+ col("cell"): _*)
  }

  /** Deterministic Lloyd k-means fit — the "production fit" the IVF
    * scaladoc promises (Similarity.ivfTopK samples centroids; this
    * refines them):
    *
    *  - init: the k lowest-id vectors (each is distance-0 from itself,
    *    so every initial cell is non-empty);
    *  - iterate: assign each vector to its nearest centroid by squared
    *    L2 (ties → lowest cell), recompute each populated cell's
    *    centroid as the per-dimension mean; a cell that loses all
    *    members DROPS OUT (no stale-centroid carry — the rule an
    *    independent replay can reproduce without our history).
    *
    * Per iteration: one assignment projection + one posexplode hash
    * aggregation over (cell, pos) — k·dim rows (KBs) collected
    * driver-side, exactly the IVF centroid budget. Means are rounded to
    * 1e-6 with the portable floor formula before the next assignment so
    * both engines iterate from identical centroid bits (Spark's partial
    * aggregation sums in partition order; unrounded last-ULP drift
    * would otherwise compound across iterations). */
  /** Deterministic farthest-first (Gonzalez 1985) seeding in ONE scan.
    * The classic loop issues k sequential full-scan TakeOrdered actions —
    * k passes over 100 TB. Instead: one deterministic hash-uniform
    * oversample (the max(64·k, 1024) rows with the smallest
    * md5(seed # id) — a pure function of the ids, so partition- and
    * run-invariant), then Gonzalez runs driver-side over the sample
    * (O(m·k·dim), microseconds at the IVF centroid budget). The sample
    * IS the whole dataset whenever it has ≤ m rows, and at scale a
    * hash-uniform m-sample covers every cluster that holds ≥ a ~1/m
    * fraction of the data — the clusters a k-cell IVF index can resolve.
    * Start seed = the sample's hash-minimal vector; farthest ties break
    * toward the smaller hash. Use when the id order is adversarial for
    * [[kmeansFit]]'s default lowest-id init (e.g. ids assigned per
    * source, so all low ids sit in one cluster — the DedupSimilaritySpec
    * recall test): spread seeds put one centroid per cluster regardless
    * of id layout. */
  def farthestFirstCentroids(
      df: DataFrame, idCol: String, vecCol: String, k: Int): Seq[Seq[Double]] = {
    require(k > 0, s"k must be positive, got $k")
    val m = math.max(64 * k, 1024)
    // one TakeOrderedAndProject job: no shuffle, partition-invariant order
    val cand = df
      .select(md5(concat_ws("#", lit("ffc"), col(idCol).cast("string"))).as("__h"),
        toDoubleArray(col(vecCol)).as("__v"))
      .orderBy(col("__h").asc)
      .limit(m)
      .collect()
      .map(_.getSeq[Double](1))
    def sqDist(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length && i < b.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    var chosen = Vector[Seq[Double]](cand.head)
    val dist = Array.fill(cand.length)(Double.MaxValue)
    while (chosen.size < k) {
      var best = 0
      var i = 0
      while (i < cand.length) {
        val d = sqDist(cand(i), chosen.last)
        if (d < dist(i)) dist(i) = d
        if (dist(i) > dist(best)) best = i // strict '>' breaks ties to the smaller hash
        i += 1
      }
      chosen = chosen :+ cand(best)
    }
    chosen
  }

  def kmeansFit(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int,
      init: Option[Seq[Seq[Double]]] = None): Seq[(Int, Seq[Double])] = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    def round6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    var cents: Seq[(Int, Seq[Double])] = init match {
      case Some(seeds) =>
        require(seeds.size == k, s"init must supply $k seeds, got ${seeds.size}")
        seeds.zipWithIndex.map { case (v, i) => (i, v) }
      case None => df.orderBy(col(idCol)).limit(k)
        .select(toDoubleArray(col(vecCol))).collect()
        .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0)) }.toSeq
    }
    for (_ <- 1 to iters) {
      val means = assignCells(df, idCol, vecCol, cents, keepVec = true)
        .select(col("cell"), posexplode(toDoubleArray(col(vecCol))).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
      cents = means.toSeq.sortBy(_._1).map { case (cell, rows) =>
        (cell, rows.sortBy(_.getInt(1)).map(r => round6(r.getDouble(2))).toSeq)
      }
    }
    cents
  }

  /** Cluster assignment after [[kmeansFit]]: (id, cell). The input is
    * persisted for the run (performance only — Lloyd makes iters+1
    * passes and each would otherwise re-read and re-decode the source);
    * harness runs drop blocks between queries, pipelines unpersist when
    * done. */
  def kmeansAssign(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    // respect a caller's existing persistence level (persist() on an
    // already-persisted Dataset at a different level throws)
    val cached =
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) df.persist() else df
    val cents = kmeansFit(cached, idCol, vecCol, k, iters)
    assignCells(cached, idCol, vecCol, cents, keepVec = false)
  }

  /** Per-label embedding OUTLIERS — the mislabel/noise detector for a
    * labeled embedding table: squared L2 distance of every vector to its
    * own label's centroid, top-N farthest ranked (distance desc, id asc).
    *
    * Fully distributed, no literals and no collect: explode to
    * (id, label, pos, x) rows, per-(label, pos) means as one hash
    * aggregation, a broadcast-sized join back on (label, pos), one more
    * hash aggregation for the per-vector sum. Centroid means are rounded
    * with the portable floor formula so an independent engine computes
    * the identical distances. */
  def labelOutliers(
      df: DataFrame, idCol: String, vecCol: String, labelCol: String,
      topN: Int): DataFrame = {
    val ex = df.select(col(idCol), col(labelCol),
      posexplode(toDoubleArray(col(vecCol))).as(Seq("pos", "x")))
    val cent = ex.groupBy(labelCol, "pos")
      .agg((floor(avg(col("x")) * 1e6 + 0.5) / 1e6).as("m"))
    val dist = ex.join(broadcast(cent), Seq(labelCol, "pos"))
      .groupBy(col(idCol), col(labelCol))
      .agg(sum((col("x") - col("m")) * (col("x") - col("m"))).as("sq_dist"))
    // distributed top-N (TakeOrderedAndProject), never a global
    // single-task window over the corpus; the rank window then runs on
    // topN rows only
    import org.apache.spark.sql.expressions.Window
    // AUDITED GLOBAL WINDOW: runs post-limit on ≤ topN rows — the
    // "No Partition Defined" WARN is benign here (see Packing.offW)
    val w = Window.orderBy(col("sq_dist").desc, col(idCol).asc)
    dist.orderBy(col("sq_dist").desc, col(idCol).asc).limit(topN)
      .withColumn("rank", row_number().over(w).cast("int"))
      .select(col("rank"), col(idCol), col(labelCol), col("sq_dist"))
  }

  /** EMBEDDING drift between the `isBase` slice and its complement —
    * the semantic-space counterpart of [[Drift.psi]]: has a new crawl
    * batch's embedding distribution MOVED? One row:
    * (n_base, n_other, centroid_cosine, avg_norm_base, avg_norm_other).
    * centroid_cosine near 1 = same region of space; drops as the new
    * slice's mass shifts.
    *
    * Scale shape: per-slice per-dimension means come from ONE hash
    * aggregation over the posexploded coordinates (2·dim output rows);
    * the cosine is array arithmetic on that bounded frame; norm stats
    * are conditional aggregates in one corpus pass. Centroid
    * coordinates are rounded to 1e-6 BEFORE the cosine (the
    * fitted-parameter rule) so both engines compose the final number
    * from identical literals. Zero-norm centroids and empty slices
    * yield null cosine — ANSI-safe. */
  def embeddingDrift(df: DataFrame, vecCol: String, isBase: Column): DataFrame = {
    val valid = df.filter(col(vecCol).isNotNull)
    val ex = valid.select(isBase.as("__b"),
      posexplode(toDoubleArray(col(vecCol))).as(Seq("pos", "x")))
    val cent = ex.groupBy("__b", "pos")
      .agg((floor(avg(col("x")) * 1e6 + 0.5) / 1e6).as("m"))
    val dots = cent.filter(col("__b")).select(col("pos"), col("m").as("ma"))
      .join(cent.filter(!col("__b")).select(col("pos"), col("m").as("mb")), "pos")
      .agg(sum(col("ma") * col("mb")).as("dot"),
        sum(col("ma") * col("ma")).as("na2"),
        sum(col("mb") * col("mb")).as("nb2"))
    val nrm = VectorFunctions.norm(col(vecCol))
    val denom = sqrt(col("na2")) * sqrt(col("nb2"))
    valid.agg(
        sum(when(isBase, 1L).otherwise(0L)).as("n_base"),
        sum(when(isBase, 0L).otherwise(1L)).as("n_other"),
        avg(when(isBase, nrm)).as("avg_norm_base"),
        avg(when(!isBase, nrm)).as("avg_norm_other"))
      .crossJoin(broadcast(dots)) // 1-row centroid-dot side
      .select(col("n_base"), col("n_other"),
        (col("dot") / when(denom =!= 0, denom)).as("centroid_cosine"),
        col("avg_norm_base"), col("avg_norm_other"))
  }

  /** One-row profile: count, nulls, dimension range, norm stats. */
  def profile(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val n = VectorFunctions.norm(v)
    df.agg(
      count(lit(1)).as("n"),
      count(v).as("count"),
      min(size(v)).cast("long").as("dim_min"),
      max(size(v)).cast("long").as("dim_max"),
      avg(n).as("avg_norm"),
      min(n).as("min_norm"),
      max(n).as("max_norm"))
  }
}
