package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Materialize._

/** Deduplication operators for large-scale document pipelines
  * (SURVEY.md §2.C rows 9–10): exact, MinHash+LSH near-dup, SimHash, and
  * n-gram Jaccard. All shapes are shuffle-by-key — never all-pairs — so
  * they scale: exact dedup is one hash aggregation; MinHash candidates
  * meet only inside an LSH band bucket (banded equi-join); the quadratic
  * exact-Jaccard verify runs per candidate bucket, not per corpus.
  */
object Dedup {

  /** Exact dedup: keep, per duplicate-key group, the row with the lowest
    * tie-break value. Deterministic alternative to dropDuplicates (which
    * keeps an arbitrary first row). One shuffle on the keys. */
  def exact(df: DataFrame, keys: Seq[String], tieBreak: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tieBreak).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Duplicate report: key groups occurring more than once, with count and
    * the surviving (minimum) tie-break id. */
  def duplicateReport(df: DataFrame, keys: Seq[String], tieBreak: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_dups"), min(tieBreak).as("keep_id"))
      .filter(col("n_dups") > 1)

  /** Line-level corpus dedup (the RefinedWeb/CCNet-family boilerplate
    * filter): a LINE that appears in at least `minDocFreq` documents
    * corpus-wide — navigation chrome, cookie banners, footers — is
    * removed from every document; document-unique prose is kept in
    * original order. Returns one row per input document:
    * (id, text_clean, n_lines, n_removed); a document whose every line
    * is boilerplate survives with `text_clean = ""`.
    *
    * Scale shape: posexplode (codegen) → line frequencies as ONE hash
    * aggregation keyed on `xxhash64(line)` — the shuffle for the count
    * and the join back carry an 8-byte key, never the line text twice —
    * then a shuffle join and one reassembly aggregation. Reassembly
    * collects (pos, line) structs per document (ObjectHashAggregate —
    * array buffers don't ride the codegen HashAggregate path, but the
    * state is one document's worth of text, which is bounded). Hash
    * collisions across distinct lines merge their counts (P ≈ 2⁻⁶⁴ per
    * pair — acceptable for a frequency threshold). */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      minDocFreq: Int, sep: String = "\n"): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    val lines = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "line")))
      .withColumn("h", xxhash64(col("line")))
    val freq = lines.groupBy("h").agg(count(lit(1)).as("line_docs"))
    lines.join(freq, "h")
      .groupBy(col("id").as(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(col("line_docs") < minDocFreq, struct(col("pos"), col("line"))))),
            s => s.getField("line")),
          sep).as("text_clean"),
        count(lit(1)).as("n_lines"),
        sum(when(col("line_docs") >= minDocFreq, 1L).otherwise(0L)).as("n_removed"))
  }

  /** Whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Distinct k-word shingles of a text column. */
  def wordShingles(text: Column, k: Int): Column = {
    val toks = tokens(text)
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - k, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }

  /** Distinct character n-grams, first-occurrence order — a native
    * one-pass expression ([[graft.plans.CharNgramsExpr]]; the previous
    * HOF composition paid interpreted per-character dispatch, which was
    * ~the whole language-ID fit cost at scale). */
  def charNgrams(text: Column, n: Int): Column =
    graft.plans.CharNgramsExpr.charNgrams(text, n)

  /** Exact Jaccard similarity of two pre-distinct arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Distinct k-word shingles in ROW form — (id, s) — built from
    * posexplode + window lead instead of array higher-order functions.
    * HOF lambdas are interpreted per element; this shape is whole-stage
    * codegen end to end and benched ~4x faster on a 5k-doc corpus, and at
    * 100 TB it is the right substrate anyway: signatures, set sizes and
    * intersections all become plain hash aggregations and equi-joins over
    * the shingle rows. Documents with fewer than k tokens yield no
    * shingles (the array form yields one truncated shingle — irrelevant
    * for real corpora, noted for parity). */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    gramRows(df, idCol, textCol, k).distinct()

  /** Every k-word gram occurrence in ROW form — (id, s), NOT
    * deduplicated: one row per gram position, so repetition statistics
    * (how often a gram repeats within a document) are computable.
    * [[shingleRows]] is this plus distinct. */
  def gramRows(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "t")))
      .filter(col("t") =!= "")
    val w = Window.partitionBy("id").orderBy("pos")
    val parts = col("t") +: (1 until k).map(i => lead(col("t"), i).over(w))
    toks.select(col("id"), concat_ws(" ", parts: _*).as("s"),
        lead(col("t"), k - 1).over(w).isNotNull.as("full"))
      .filter(col("full")).select("id", "s")
  }

  /** Bulk MinHash signing over shingle rows: returns (id, sig). The
    * numHashes minimums are ONE codegen'd hash aggregation with map-side
    * combine — the shuffle carries only per-id partial buffers of
    * numHashes longs. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int, numHashes: Int, seed: Int = 42): DataFrame =
    minhashSignaturesFromRows(shingleRows(df, idCol, textCol, shingleWords), numHashes, seed)

  private def minhashSignaturesFromRows(sh: DataFrame, numHashes: Int, seed: Int): DataFrame = {
    // hash the variable-length shingle string ONCE, then derive the
    // numHashes permutations by re-hashing the fixed 8-byte value — the
    // string bytes are not re-scanned per hash function
    val hashed = sh.select(col("id"), xxhash64(col("s")).as("h0"))
    val mins = (0 until numHashes).map(i => min(xxhash64(lit(i + seed), col("h0"))).as(s"m$i"))
    hashed.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH banding: (bandIndex, bandHash) keys for a signature split into
    * `bands` bands of `rows` rows. Two sets whose Jaccard is s collide in
    * at least one band with probability 1 - (1 - s^rows)^bands. */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), xxhash64(slice(sig, b * rows + 1, lit(rows))).as("bhash")))

  /** LSH band-key ROWS — (id, bk) — for shingle rows: the join key of
    * candidate generation, and (with the shingle rows) one half of a
    * STANDING DEDUP INDEX a pipeline stores alongside its corpus. */
  def bandRows(sh: DataFrame, numHashes: Int, bands: Int, rowsPerBand: Int,
      seed: Int = 42): DataFrame = {
    require(bands * rowsPerBand == numHashes, "bands * rowsPerBand must equal numHashes")
    minhashSignaturesFromRows(sh, numHashes, seed)
      .select(col("id"), explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
  }

  /** Exact-Jaccard verification of candidate pairs: |A ∩ B| by joining
    * the two sides' shingle rows (equi-join on the shingle),
    * |A ∪ B| = |A| + |B| - |∩| from the per-side size tables — set
    * algebra as plain joins/aggs, no array ops anywhere. Candidates
    * with zero shingle overlap (possible only via band-hash collisions)
    * have Jaccard 0 and can never pass a positive threshold, so the
    * intersection join is inner — `threshold` must be > 0. */
  private def verifyJaccard(cand: DataFrame, shA: DataFrame, shB: DataFrame,
      threshold: Double): DataFrame = {
    require(threshold > 0, s"threshold must be positive, got $threshold")
    val sizesA = shA.groupBy("id").agg(count(lit(1)).as("sza"))
    val sizesB = shB.groupBy("id").agg(count(lit(1)).as("szb"))
    cand
      .join(shA.select(col("id").as("a"), col("s")), Seq("a"))
      .join(shB.select(col("id").as("b"), col("s")), Seq("b", "s"))
      .groupBy("a", "b").agg(count(lit(1)).as("i"))
      .join(sizesA.select(col("id").as("a"), col("sza")), Seq("a"))
      .join(sizesB.select(col("id").as("b"), col("szb")), Seq("b"))
      .select(col("a"), col("b"),
        (col("i").cast("double") / (col("sza") + col("szb") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** [[nearDupPairsMinhash]] over prebuilt shingle + band-key rows —
    * candidates deduped BEFORE verification so Jaccard runs once per
    * pair, not per shared band. */
  def nearDupPairsFromRows(sh: DataFrame, bk: DataFrame,
      threshold: Double): DataFrame = {
    val cand = bk.select(col("bk"), col("id").as("a"))
      .join(bk.select(col("bk"), col("id").as("b")), Seq("bk"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()
    verifyJaccard(cand, sh, sh, threshold)
  }

  /** Near-duplicate pairs by MinHash/LSH with exact-Jaccard verification:
    * shingle → sign → band → bucket-join → verify. Returns (a, b, jaccard)
    * for pairs with verified Jaccard >= threshold (> 0); candidate
    * generation never compares rows outside a shared band bucket. */
  def nearDupPairsMinhash(
      df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, numHashes: Int = 128,
      bands: Int = 32, rowsPerBand: Int = 4,
      threshold: Double = 0.7, seed: Int = 42): DataFrame = {
    // Shingle rows feed four branches (signing, two verify lookups,
    // sizes); materialize once — the cluster-scale checkpoint of a
    // signing stage. localCheckpoint, not persist (r17): the lazy
    // persist both pinned every consumer stage at full shuffle width
    // (AQE cannot coalesce through a cached plan) and still recomputed
    // the shingle lineage when concurrently-submitted consumer stages
    // raced the first materialization (the bimodal spread documented on
    // crossNearDupPairsMinhash). Callers that manage their own
    // lifecycle (streaming sinks) use the FromRows/FromIndex entry
    // points instead.
    val sh = shingleRows(df, idCol, textCol, shingleWords).barrier()
    nearDupPairsFromRows(sh, bandRows(sh, numHashes, bands, rowsPerBand, seed), threshold)
  }

  /** INCREMENTAL cross-dedup — the ingestion-time shape: a new BATCH is
    * checked against the already-kept CORPUS without re-clustering the
    * corpus or computing any within-side pairs. Both sides sign
    * independently (the corpus side's signatures are the reusable
    * artifact of a standing dedup index); candidates meet ONLY through
    * shared LSH band keys across sides (equi-join — never all-pairs,
    * never batch×corpus), then exact Jaccard verifies each candidate
    * from the full shingle sets, the [[nearDupPairsMinhash]] verify
    * shape. Returns (batch id `a`, corpus id `b`, jaccard) for verified
    * matches ≥ `threshold` — the batch rows a pipeline drops (or routes
    * to keep-best arbitration) before appending the remainder.
    *
    * Same recall contract as the one-sided operator: a true pair missed
    * by every band is missed (banding probability), every returned pair
    * is exact. */
  def crossNearDupPairsMinhash(
      batch: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, numHashes: Int = 128,
      bands: Int = 32, rowsPerBand: Int = 4,
      threshold: Double = 0.7, seed: Int = 42): DataFrame = {
    val shB = shingleRows(batch, idCol, textCol, shingleWords).barrier()
    val shC = shingleRows(corpus, idCol, textCol, shingleWords).barrier()
    crossNearDupPairsFromIndex(
      shB, bandRows(shB, numHashes, bands, rowsPerBand, seed),
      shC, bandRows(shC, numHashes, bands, rowsPerBand, seed), threshold)
  }

  /** [[crossNearDupPairsMinhash]] against a STANDING INDEX: the corpus
    * side arrives as prebuilt shingle rows (id, s) and band-key rows
    * (id, bk) — exactly the two tables an ingestion pipeline stores
    * alongside its corpus — so checking a batch costs batch signing plus
    * equi-joins against the stored tables, with ZERO corpus recompute.
    * Both sides must be built with the same shingle/hash/band
    * parameters. */
  def crossNearDupPairsFromIndex(
      batchSh: DataFrame, batchBk: DataFrame,
      indexSh: DataFrame, indexBk: DataFrame,
      threshold: Double): DataFrame = {
    val cand = batchBk.select(col("bk"), col("id").as("a"))
      .join(indexBk.select(col("bk"), col("id").as("b")), Seq("bk"))
      .select("a", "b")
      .distinct()
    verifyJaccard(cand, batchSh, indexSh, threshold)
  }

  /** [[crossNearDupPairsFromIndex]] specialized to the MICRO-BATCH PROBE
    * shape — a bounded batch against an unbounded standing index — with
    * the SAME exact result and the standing index never shuffled. The
    * general form pays three full-index costs per call: the candidate
    * join shuffles every index band-key row, the verify join shuffles
    * every index shingle row by (id, shingle), and the union-size
    * denominator aggregates the whole index shingle table. Per ingested
    * micro-batch that is O(index) shuffle work forever. Here instead:
    *
    *   1. the batch's band keys (docs × bands rows — micro-batch-sized
    *      by construction; callers gate on that, see
    *      [[graft.streaming.Streams.dedupIngestSink]]) are BROADCAST to
    *      the index band-key scan, so candidates cost one in-place
    *      columnar scan of (id, bk) — no index shuffle;
    *   2. candidate pairs collect to the driver when they fit
    *      `maxLocalCand` (they are near-dups of a bounded batch — the
    *      natural small side; above the cap the call falls back to the
    *      general form rather than trusting the bound);
    *   3. the verify side of the index shingle table is reduced to
    *      candidate doc ids BEFORE the verify join — as an
    *      `isInCollection` FILTER when the id set fits `maxIsinIds`
    *      (it reaches the parquet scan as an In/range pushdown, so a
    *      generation snapshot range-sharded by id serves candidate
    *      shingles from only the matching files — zone-map pruning), a
    *      broadcast semi-join otherwise. Per-id shingle sizes are
    *      computed after the reduction and are identical by
    *      construction (the reduction keeps every row of a kept id).
    *
    * Storage-side band-key bucketing was the named alternative and is
    * deliberately NOT used: a batch of d docs probes ~d × bands distinct
    * band keys spread uniformly over the hash space (xxhash64 of band
    * slices), so for any practical bucket count every bucket matches and
    * directory-level pruning can never fire — the same measured argument
    * recorded for the novelty gram index (BASELINE.md round 15). What
    * CAN be pruned is the verify side, which is keyed by doc id, and
    * that is what (3) does. */
  def crossNearDupPairsFromIndexProbe(
      batchSh: DataFrame, batchBk: DataFrame,
      indexSh: DataFrame, indexBk: DataFrame,
      threshold: Double, maxLocalCand: Int = 1 << 20,
      maxIsinIds: Int = 1 << 12): DataFrame = {
    val spark = batchSh.sparkSession
    val candPlan = indexBk.select(col("bk"), col("id").as("b"))
      .join(broadcast(batchBk.select(col("bk"), col("id").as("a"))), Seq("bk"))
      .select("a", "b")
      .distinct()
    val collected = candPlan.limit(maxLocalCand + 1).collect()
    if (collected.length > maxLocalCand)
      // adversarial batch (near-everything collides): the candidate set
      // is not micro-batch-sized after all — take the general form's
      // shuffle plan instead of a driver-side OOM
      crossNearDupPairsFromIndex(batchSh, batchBk, indexSh, indexBk, threshold)
    else {
      val cand = spark.createDataFrame(
        java.util.Arrays.asList(collected: _*), candPlan.schema)
      val bIds = collected.map(_.get(1)).distinct.toSeq
      val shCand =
        if (bIds.isEmpty) indexSh.filter(lit(false))
        else if (bIds.size <= maxIsinIds)
          indexSh.filter(col("id").isInCollection(bIds))
        else
          indexSh.join(broadcast(cand.select(col("b").as("id")).distinct()),
            Seq("id"), "left_semi")
      verifyJaccard(cand, batchSh, shCand, threshold)
    }
  }

  /** Asymmetric CONTAINMENT near-duplicates — the crawl case symmetric
    * Jaccard misses: a short document (an excerpt, a quoted article, a
    * syndicated fragment) embedded in a much longer one has low Jaccard
    * (the union is dominated by the long side) but containment
    * |A∩B| / min(|A|,|B|) ≈ 1.
    *
    * Candidate generation is an inverted index over RARE shingles:
    * pairs meet only through a shingle whose document frequency is at
    * most `maxDf` (the posting-list guard — a boilerplate shingle in
    * half the corpus would alone contribute O(n²) candidate rows), then
    * the FULL shingle intersection verifies each candidate exactly, the
    * minhash verify shape. One-sided approximation, explicit: a pair
    * sharing only corpus-common shingles is missed; every returned pair
    * is exact. Returns (a, b, containment) with a < b. */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, threshold: Double = 0.9, maxDf: Long = 20): DataFrame = {
    // localCheckpoint, not persist (r17): a persisted subplan's output
    // partitioning is pinned (AQE cannot coalesce through a cached plan
    // — spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
    // defaults false), so all five consumers of the old persist ran
    // their stages at the full session shuffle width regardless of data
    // size (measured: 518 tasks for this query at sf0.1). The
    // checkpoint materializes with AQE-coalesced partitions.
    val sh = shingleRows(df, idCol, textCol, shingleWords).barrier()
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val rare = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("s")
    val rareRows = sh.join(rare, "s")
    // candidates share >= 1 rare shingle, so the verify join is inner
    // (i >= 1 by construction, unlike minhash band candidates)
    val cand = rareRows.select(col("s"), col("id").as("a"))
      .join(rareRows.select(col("s"), col("id").as("b")), Seq("s"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()
    cand
      .join(sh.select(col("id").as("a"), col("s")), Seq("a"))
      .join(sh.select(col("id").as("b"), col("s")), Seq("b", "s"))
      .groupBy("a", "b").agg(count(lit(1)).as("i"))
      .join(sizes.select(col("id").as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col("id").as("b"), col("sz").as("szb")), Seq("b"))
      .select(col("a"), col("b"),
        (col("i").cast("double") / least(col("sza"), col("szb"))).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Connected components of an undirected pair graph by alternating
    * large-star / small-star contraction (the MapReduce CC algorithm of
    * Kiveris et al., SoCC 2014 — public literature): each round is a
    * bounded number of hash aggregations and equi-joins over edge ROWS,
    * and the edge set converges to a star forest rooted at each
    * component's minimum id in O(log n) rounds. This is the missing last
    * stage of a dedup pipeline: near-dup PAIRS (minhash/simhash/cosine)
    * become dedup CLUSTERS, from which one canonical document per
    * cluster survives.
    *
    * Scale notes: no adjacency list is ever materialized (a viral
    * duplicate cluster is a wide groupBy, not a giant array); each
    * round's output is localCheckpoint'ed so the iterative lineage never
    * compounds; rounds are data-dependent but logarithmic — a path graph
    * of length 1000 converges in ~10 rounds, and real near-dup graphs
    * (small dense cliques) in 2-3.
    *
    * Returns (id, component): every node incident to an edge, labeled
    * with the minimum node id of its component. Nodes with no edges are
    * absent — union them back with component = id at the call site.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, smallGraphMaxEdges: Long = 1L << 20): DataFrame = {
    var edges = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .barrier()
    // Adaptive small-graph fast path (the AQE-broadcast pattern): the
    // VERIFIED near-dup edge set is usually orders of magnitude smaller
    // than the corpus — when it fits comfortably on the driver
    // (~16 MB at the default bound), a union-find replaces the whole
    // O(log n) star-contraction loop and its per-round job tax. Output
    // is identical by construction (component id = min node id of the
    // component, a pure function of the edge set, no order dependence);
    // the distributed loop below is unchanged and remains the path for
    // graphs over the bound (tests force it with smallGraphMaxEdges = 0).
    val edgeCount = edges.count()
    if (edgeCount <= smallGraphMaxEdges) {
      val es = edges.collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { r =>
        val (u, v) = (r.getLong(0), r.getLong(1))
        parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(ru) = rv
      }
      val minOfRoot = scala.collection.mutable.Map.empty[Long, Long]
      parent.keys.foreach { n =>
        val r = find(n)
        minOfRoot(r) = math.min(minOfRoot.getOrElse(r, n), n)
      }
      val out = parent.keys.toSeq.sorted.map(n => (n, minOfRoot(find(n))))
      val s = pairs.sparkSession
      import s.implicits._
      return out.toDF("id", "component")
    }
    val nodes = edges.select(col("u").as("id"))
      .union(edges.select(col("v").as("id")))
      .distinct()
      .barrier()
    var converged = edgeCount == 0L
    var i = 0
    while (!converged && i < maxIter) {
      // large-star: every neighbor v > u re-links to min(N(u) ∪ {u})
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val lmin = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = sym.join(lmin, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star: with edges directed large→small, every smaller
      // neighbor and u itself re-link to u's minimum smaller neighbor
      val dir = large.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val smin = dir.groupBy("u").agg(min("v").as("m"))
      val small = dir.join(smin, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(smin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .barrier()
      // both sets are distinct, so they are equal iff every (u, v) of the
      // union appears exactly twice — ONE aggregation action per
      // iteration, not count()+count()+except().isEmpty (three jobs over
      // both edge sets; the convergence check dominated iteration
      // overhead for the CC-bearing bench queries)
      converged = small.union(edges)
        .groupBy("u", "v").count()
        .filter(col("count") =!= 2)
        .isEmpty
      edges = small
      i += 1
    }
    // fixed point is a star forest: every edge is (member, root)
    nodes.join(edges.select(col("u").as("id"), col("v").as("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Canonical-document selection per dedup cluster by an explicit
    * POLICY expression — production pipelines keep the BEST copy of a
    * near-dup cluster (longest, highest quality score, newest), not the
    * lowest id. Clusters come from [[connectedComponents]] over the
    * verified pair graph; within each cluster the row maximizing
    * `policy` survives (ties → lowest id). Unpaired documents keep
    * themselves.
    *
    * Scale shape: the per-cluster argmax windows on the component id —
    * components are high-cardinality (most clusters are tiny), so a
    * plain window is the right plan here, unlike per-source keys (see
    * [[GroupTopK]] for the low-cardinality case).
    *
    * Returns exactly `df`'s columns (surviving rows). The cluster label
    * rides on reserved `__cc_*` names internally, so callers may have
    * their own `id` / `component` data columns without collision. */
  def keepByPolicy(
      df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, policy: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = connectedComponents(pairs, aCol, bCol)
      .select(col("id").as("__cc_id"), col("component").as("__cc_component"))
    val labeled = df.join(comp, df(idCol) === comp("__cc_id"), "left")
      .withColumn("__cc_component", coalesce(col("__cc_component"), col(idCol)))
      .drop("__cc_id")
    val w = Window.partitionBy("__cc_component")
      .orderBy(policy.desc, col(idCol).asc)
    labeled.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk", "__cc_component")
  }

  /** WINNOWING document fingerprints (Schleimer et al. 2003 — the MOSS
    * algorithm): hash every k-token gram, slide a window of `w`
    * consecutive gram hashes, and select each window's RIGHTMOST minimal
    * hash. The selected (position, hash) set is the fingerprint: any
    * shared run of at least w+k-1 tokens between two documents is
    * GUARANTEED to share a fingerprint, at ~2/(w+1) the density of the
    * full gram set — the local-fingerprint middle ground between one
    * digest per doc ([[graft.operators.TextAnalysis.fingerprintMd5]])
    * and every-gram inverted indexes ([[containmentPairs]]).
    *
    * Hashes are md5 hex strings: engine-portable (DuckDB replays them)
    * and collision-free in practice, so the min is unambiguous and the
    * rightmost tie-break only arbitrates genuinely repeated gram text.
    *
    * Scale shape: gram rows ride the per-document lead window
    * ([[gramRows]] — bounded by doc length, high-cardinality partition
    * key); the rightmost-argmin is ONE more bounded-frame window —
    * `min_by` ordered by (hash, -pos) picks the minimal hash with the
    * rightmost position directly, so no self-join and no second
    * evaluation of the gram lineage. Docs with fewer than k+w-1 tokens
    * have no full window and emit nothing (the paper's m < w case).
    * Returns (id, pos, fingerprint) with pos the 0-based token index
    * the winning gram starts at. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k > 0 && w > 1, s"need k > 0, w > 1; got k=$k w=$w")
    val toks = df.select(col(idCol).as("id"),
      posexplode(tokens(col(textCol))).as(Seq("gpos", "t")))
    val byPos = Window.partitionBy("id").orderBy("gpos")
    val gramParts = col("t") +: (1 until k).map(i => lead(col("t"), i).over(byPos))
    val grams = toks
      .select(col("id"), col("gpos"),
        md5(concat_ws(" ", gramParts: _*)).as("h"),
        lead(col("t"), k - 1).over(byPos).isNotNull.as("full"))
      .filter(col("full")).drop("full")
    val winFrame = Window.partitionBy("id").orderBy("gpos")
      .rowsBetween(-(w - 1), Window.currentRow)
    grams
      .withColumn("__sel", min_by(struct(col("gpos"), col("h")),
        struct(col("h"), (-col("gpos")).as("__np"))).over(winFrame))
      .filter(col("gpos") >= w - 1)
      .select(col("id").as(idCol),
        col("__sel.gpos").cast("long").as("pos"),
        col("__sel.h").as("fingerprint"))
      .distinct()
  }

  /** Candidate near-dup pairs from SHARED winnow fingerprints — the MOSS
    * use of [[winnowFingerprints]]: documents sharing at least
    * `minShared` selected hashes are candidates, with the shared count
    * as the match signal. Corpus-frequent fingerprints (boilerplate
    * selected by more than `maxDf` docs) are excluded before pairing —
    * the same posting guard as [[containmentPairs]], which is what keeps
    * the self-join from squaring on template text. Pair candidates meet
    * only on a shared fingerprint key (equi join, bounded posting
    * lists), never all-pairs. Returns (a, b, n_shared). */
  def winnowCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Int = 2, maxDf: Int = 20): DataFrame = {
    // The fingerprint table feeds THREE consumers (the df guard and both
    // sides of the pair self-join); its lineage is window-heavy
    // (posexplode + two per-document windows), so materialize it eagerly
    // before the diamond fans out — localCheckpoint cuts the lineage and
    // each consumer reads the stored blocks instead of re-running the
    // whole fingerprint computation (the recompute tripled this
    // operator's cost). Pipelines with a standing fingerprint table use
    // [[winnowCandidatePairsFromFingerprints]] directly.
    val fp = winnowFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol), col("fingerprint")).distinct()
      .barrier()
    winnowCandidatePairsFromFingerprints(fp, idCol, minShared, maxDf)
  }

  /** [[winnowCandidatePairs]] over a PREBUILT fingerprint table —
    * distinct (idCol, fingerprint) rows, exactly the artifact a pipeline
    * stores alongside its corpus (the winnow analogue of
    * [[crossNearDupPairsFromIndex]]'s standing index): pairing costs the
    * posting joins only, zero fingerprint recompute. */
  def winnowCandidatePairsFromFingerprints(fp: DataFrame, idCol: String,
      minShared: Int, maxDf: Int): DataFrame = {
    require(minShared > 0 && maxDf > 0)
    val rare = fp.groupBy("fingerprint")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("fingerprint")
    val fr = fp.join(rare, Seq("fingerprint"))
    val l = fr.select(col("fingerprint"), col(idCol).as("a"))
    val r = fr.select(col("fingerprint"), col(idCol).as("b"))
    l.join(r, Seq("fingerprint"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SOFT dedup: instead of dropping near-duplicates, down-weight them —
    * every document gets `weight = 1 / |its dedup cluster|`, so each
    * near-dup cluster contributes one document's worth of mass to the
    * training mix however many copies it has (the sampling-weight
    * alternative to hard removal: cheaper to revisit than a deleted
    * corpus, and unbiased where hard dedup keeps an arbitrary copy).
    * Clusters come from [[connectedComponents]] over the verified pair
    * graph; unpaired documents form singleton clusters with weight 1.
    *
    * Scale shape: cluster sizes are one hash aggregation on the
    * component id (high-cardinality — most clusters are tiny) and join
    * back on the same key — the size table is |components| rows and the
    * join an equi shuffle join, never a broadcast of corpus-sized state.
    * Returns (idCol, component, cluster_size, weight), the weight
    * rounded to 1e-6 so any engine replays the division exactly. */
  def softDedupWeights(
      df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
      .select(col("id").as("__cc_id"), col("component").as("__cc_component"))
    val labeled = df.select(col(idCol))
      .join(comp, df(idCol) === comp("__cc_id"), "left")
      .select(col(idCol),
        coalesce(col("__cc_component"), col(idCol)).as("component"))
    val sizes = labeled.groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, Seq("component"))
      .select(col(idCol), col("component"), col("cluster_size"),
        (floor(lit(1.0) / col("cluster_size") * 1e6 + 0.5) / 1e6).as("weight"))
  }

  /** 64-bit SimHash signatures: bit b is set when the sum of (+1 / -1)
    * votes from token-hash bit b is positive. Tokens are exploded and all
    * 64 vote sums plus the signature assembly run as ONE fused aggregate
    * buffer ([[graft.plans.SimhashVotesAgg]]) with map-side combine —
    * the per-bit expression form tripped the codegen budget and fell
    * back to interpreting ~64 CASE trees per token.
    * Returns (id, sig). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
      seed: Int = 42): DataFrame =
    simhashSignaturesWith(df, idCol, textCol,
      t => xxhash64(lit(seed), t), bits = 64)

  /** SimHash with a caller-supplied token-hash expression and bit width
    * (≤ 64). The xxhash64 default is the production choice; an
    * md5-derived hash (conv over hex digits — arithmetic both Spark and
    * a SQL oracle can express identically) makes the whole operator
    * end-to-end verifiable against an independent engine. */
  def simhashSignaturesWith(df: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column, bits: Int): DataFrame = {
    require(bits >= 2 && bits <= 64, s"bits must be in [2, 64], got $bits")
    // project the hash ONCE before the aggregation (an expensive hash —
    // md5 + conv — must not be re-evaluated per bit), then fuse the
    // `bits` vote sums AND the signature assembly into one
    // TypedImperativeAggregate: the expression form (`bits` parallel
    // sum(when...) columns) generated wide enough code that the whole
    // stage fell out of whole-stage codegen and every token paid ~60
    // interpreted CASE trees — see [[graft.plans.SimhashVotesAgg]] for
    // the parity argument (null votes −1 on every bit, bit set iff vote
    // sum strictly positive, merge is elementwise addition)
    // the per-token hash projection (md5 + conv in the oracle-replayable
    // variant) fuses into the SCAN stage — widen a narrow (few-file)
    // source first or it runs one core per split (Parallelize; safe
    // here: the signature is integer vote sums + bit assembly, fully
    // order-insensitive)
    Parallelize.cpuBound(df.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), explode(tokens(col(textCol))).as("t"))
      .select(col("id"), tokenHash(col("t")).as("h"))
      .groupBy("id")
      .agg(graft.plans.SimhashVotesAgg.simhashSig(col("h"), bits).as("sig"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: pigeonhole blocking + exact Hamming verify.
    *
    * The signature is split into `chunks` equal blocks. A pair within
    * Hamming distance k differs in at most k blocks, so it AGREES on at
    * least m = chunks - k blocks — hence it shares at least one of the
    * C(chunks, m) possible m-block combinations. Each combination becomes
    * a blocking table whose key is the m blocks concatenated
    * (Manku/Jain/Sarma-style); candidates only meet inside a bucket and
    * the exact Hamming filter makes the output exact (full recall by the
    * pigeonhole argument, full precision by the verify).
    *
    * Scaling the blocking to the corpus: per table the key is
    * m * (64/chunks) bits wide, so expected bucket occupancy is
    * n / 2^(m*64/chunks) and verify work is about
    * C(chunks, m) * n^2 / 2^(m*64/chunks + 1) candidate pairs. The
    * default (chunks=4, k=3 -> m=1, 16-bit keys) caps at 65,536 buckets —
    * fine to ~10^6 docs; at 10^9 docs use chunks=8 (m=5, 40-bit keys:
    * ~10^6 verify pairs per table) at the cost of C(8,5)=56 table entries
    * per row instead of 4. Pick the smallest `chunks` whose key width
    * keeps n / 2^(m*64/chunks) near 1. */
  def nearDupPairsSimhash(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, seed: Int = 42, chunks: Int = 4): DataFrame =
    nearDupPairsFromSigs(simhashSignatures(df, idCol, textCol, seed),
      maxHamming, chunks, bits = 64)

  /** [[nearDupPairsSimhash]] with a caller-supplied token-hash expression
    * and signature width — the whole operator (vote aggregation, signature
    * assembly, pigeonhole blocking, Hamming verify) parameterized on its
    * hash substrate. With an md5-derived hash the full pipeline is
    * replayable digit-for-digit by an independent SQL engine; xxhash64
    * ([[nearDupPairsSimhash]]) stays the production default. */
  def nearDupPairsSimhashWith(
      df: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column, bits: Int,
      maxHamming: Int = 3, chunks: Int = 4): DataFrame =
    nearDupPairsFromSigs(
      simhashSignaturesWith(df, idCol, textCol, tokenHash, bits),
      maxHamming, chunks, bits)

  /** Pigeonhole blocking + Hamming verify over precomputed (id, sig)
    * signatures of `bits` significant bits — the blocking half of
    * [[nearDupPairsSimhash]], reusable for any signature family. */
  def nearDupPairsFromSigs(sigs: DataFrame, maxHamming: Int, chunks: Int,
      bits: Int): DataFrame = {
    require(bits % chunks == 0, s"chunks must divide $bits, got $chunks")
    val m = chunks - maxHamming
    require(m >= 1, s"pigeonhole blocking needs chunks > maxHamming ($chunks <= $maxHamming)")
    val width = bits / chunks
    val mask = lit(if (width == 64) -1L else (1L << width) - 1)
    def block(c: Int): Column = shiftright(col("sig"), c * width).bitwiseAND(mask)
    val tables = (0 until chunks).combinations(m).toSeq.zipWithIndex.map {
      case (combo, t) =>
        val key = combo.map(block).reduce((acc, b) => shiftleft(acc, width).bitwiseOR(b))
        struct(lit(t).as("chunk"), key.as("ckey"))
    }
    val chunked = sigs.select(col("id"), col("sig"),
      explode(array(tables: _*)).as("ck"))
    val l = chunked.select(col("ck"), col("id").as("a"), col("sig").as("siga"))
    val r = chunked.select(col("ck"), col("id").as("b"), col("sig").as("sigb"))
    l.join(r, Seq("ck"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), hamming64(col("siga"), col("sigb")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** ExactSubstr-style repeated-span report (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", the
    * substring half next to the document-level MinHash half): for every
    * document, the MAXIMAL token spans whose every covering `n`-gram
    * occurs at least twice in the corpus (any doc, self-repeats
    * included) — the regions substring dedup would strip before
    * training. Returns one row per document that has any duplicated
    * span: (id, n_dup_spans, dup_tokens).
    *
    * Scale shape: grams are built in the codegen'd posexplode + lead
    * form ([[gramRows]]' substrate — the array-HOF form interpreted its
    * lambdas per position and benched ~4x slower on this very operator),
    * with contiguous post-filter positions from the same per-document
    * window; duplicated grams come from one hash aggregation keyed on
    * the gram, matched start positions join back on the same key, and
    * span merging (gaps-and-islands) runs in per-document windows —
    * bounded by document length, partitioned on the high-cardinality id,
    * never corpus-global. All arithmetic is integral: no float bridge
    * needed for the oracle.
    *
    * The census and join key xxhash64(gram) over a narrow once-
    * materialized (id, pos, hash) substrate (r17 — see the body
    * comment); the gram-string form cost a second full substrate build
    * plus n·avg-token bytes per shuffled gram. */
  /** Every n-gram occurrence with its contiguous 0-based start position
    * over the FILTERED tokens (raw split positions have gaps where
    * empties fell out) — (idCol, __pos, __g), the codegen'd
    * posexplode + lead substrate shared by span detection. */
  private[operators] def positionalGramRows(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    // the split + posexplode fuse into the scan stage — widen a narrow
    // (few-file) source first (Parallelize; safe: the per-id window
    // right below re-shuffles by id and is deterministic per id, and
    // both consumers — contamination span probe, repeated-span report —
    // aggregate integers/sets)
    val raw = Parallelize.cpuBound(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("__rp", "__t")))
      .filter(col("__t") =!= "")
    val byP = Window.partitionBy(idCol).orderBy("__rp")
    val gramParts = col("__t") +: (1 until n).map(i => lead(col("__t"), i).over(byP))
    raw.select(col(idCol),
        (row_number().over(byP) - 1).as("__pos"),
        concat_ws(" ", gramParts: _*).as("__g"),
        lead(col("__t"), n - 1).over(byP).isNotNull.as("__full"))
      .filter(col("__full")).drop("__full")
  }

  /** The gaps-and-islands merge shared by span reporters: matched gram
    * START positions (idCol, __pos) → maximal merged spans
    * (idCol, span_start, span_end) with span_end EXCLUSIVE (pos + n). */
  private[operators] def mergeSpans(hits: DataFrame, idCol: String,
      n: Int): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy("__pos")
    val prevEnd = max(col("__pos") + n)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("__new",
        when(col("__pos") > coalesce(prevEnd, lit(-1)), 1L).otherwise(0L))
      .withColumn("__isl",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__pos")).as("span_start"),
        (max(col("__pos")) + n).as("span_end"))
      .drop("__isl")
  }

  /** Repeated-span census per document. DEFAULT MODE IS PROBABILISTIC:
    * the duplicate-gram census keys on `xxhash64(gram)` (8 bytes), not
    * the gram string. Collision math at scale (r18, per VERDICT r17):
    * with G distinct grams the expected number of colliding PAIRS is
    * ~G²·2⁻⁶⁵ — negligible through G ≈ 10⁹ (~0.00003 expected pairs),
    * but at a full 100 TB corpus (G ≈ 10¹² distinct grams) it reaches
    * ~10⁴ expected colliding pairs, each of which can flag ONE
    * spurious duplicate span on two otherwise-unique documents. Callers
    * that need certainty at that scale pass `exact = true`: the census
    * and join key on the gram STRING — the r16 shape — trading
    * ~n·avg-token× more substrate bytes through the checkpoint and
    * shuffle for zero collision risk. At the oracle scales both modes
    * are verified bit-identical. */
  def repeatedNgramSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, exact: Boolean = false): DataFrame = {
    require(n >= 2, s"span grams need n >= 2, got $n")
    // Narrow (id, pos, gram-key) substrate, materialized ONCE (r17).
    // The gram table feeds two consumers (the duplicate census and the
    // matched-position join) and ReuseExchange cannot dedupe them —
    // column pruning diverges the two subtrees — so the un-materialized
    // form built the split + two windows + gram concat TWICE (measured:
    // the two builds were the query's whole CPU profile).
    val gramKey = if (exact) col("__g") else xxhash64(col("__g"))
    val grams = positionalGramRows(df, idCol, textCol, n)
      .select(col(idCol), col("__pos"), gramKey.as("__gh"))
      .barrier()
    val dupGrams = grams.groupBy("__gh").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).select("__gh")
    val hits = grams.join(dupGrams, Seq("__gh")).select(col(idCol), col("__pos"))
    mergeSpans(hits, idCol, n)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("span_end") - col("span_start")).cast("long").as("dup_tokens"))
  }
}
