package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Materialize._

/** Edit-distance (Levenshtein) fuzzy matching via symmetric-delete
  * blocking — the FastSS / SymSpell candidate scheme (Bocek et al.,
  * "Fast Similarity Search in Large Dictionaries", 2007; Garbe's
  * SymSpell): two strings within Levenshtein distance ≤ k share at
  * least one common variant obtainable by deleting ≤ k characters from
  * each, so candidate generation is an EQUI-join on deletion-variant
  * keys and only candidates meeting in a shared key are verified with
  * the exact distance. Complements the token-level near-dup family
  * ([[Dedup]] MinHash/SimHash/containment/winnowing): those measure
  * set overlap of shingles; this one catches character-level typos and
  * OCR noise in short strings (names, titles, codes) where a single
  * edit is invisible to shingle sets yet decisive for record linkage.
  *
  * 100 TB shape: no all-pairs anywhere — the blocking key join is the
  * only place strings meet, each string fans out to O(|s| choose ≤k)
  * variant keys (|s|+1 for k=1), and the exact O(|a|·|b|) DP distance
  * runs only on the candidate set. The variant join is a plain shuffle
  * equi-join Catalyst plans like any other; completeness is exact
  * (the deletion-neighborhood cover is lossless for Levenshtein ≤ k,
  * unlike LSH's probabilistic recall).
  *
  * Reference behavioral anchor: the reference engine's dedup surface is
  * key-equality only (`petk/validation.py` accepted/range rules,
  * exploration duplicates) — fuzzy matching is part of the
  * training-data-pipeline extension mandated by SURVEY §2.C.
  */
object Fuzzy {

  /** All distinct strings reachable from `s` by deleting UP TO `maxDel`
    * characters (including `s` itself), as an array column. Pure
    * builtin HOFs (`transform` over `sequence`) — codegen-friendly, no
    * UDF, and an independent engine can replay it. Fan-out is
    * O(|s|^maxDel); intended for short strings (names, codes) with
    * maxDel ∈ {1, 2}. */
  def deletionVariants(s: Column, maxDel: Int): Column = {
    require(maxDel >= 1 && maxDel <= 2, s"maxDel must be 1 or 2, got $maxDel")
    def deletions(t: Column): Column =
      // position list is empty for empty strings: sequence(a, b) runs
      // DESCENDING when b < a, which would fabricate positions
      transform(
        when(length(t) > 0, sequence(lit(1), length(t))).otherwise(array()),
        i => concat(t.substr(lit(1), i - 1), t.substr(i + 1, length(t) - i)))
    var level = array(s)
    for (_ <- 1 to maxDel)
      level = array_distinct(concat(level, flatten(transform(level, deletions(_)))))
    level
  }

  /** Exact Levenshtein-distance pairs over the DISTINCT strings of
    * `strCol`: all unordered pairs (s_a < s_b) with distance in
    * [1, maxDist]. Distance-0 (exact duplicates) is [[Dedup.exact]]'s
    * domain — run this on the distinct-string table, which is also the
    * scale posture (dedupe exact copies first; a group of g identical
    * strings would otherwise multiply every fuzzy pair g² times).
    *
    * `maxKeyDf` drops variant keys shared by more than that many
    * strings before pairing — a hot-key guard for pathological inputs
    * (e.g. millions of near-empty strings whose variants collapse to a
    * handful of keys). With the default (no guard) the result is EXACT;
    * with a guard it may miss pairs that only meet in dropped keys, the
    * same recall trade [[Dedup.containmentPairs]] documents for its
    * maxDf. */
  def fuzzyPairs(strings: DataFrame, strCol: String, maxDist: Int,
      maxKeyDf: Int = Int.MaxValue,
      chainRowsPerTask: Long = variantChainRowsPerTask): DataFrame = {
    // Join on FINGERPRINTS, resolve strings late: the candidate join and
    // its dedup run over (long, long) hash pairs instead of wide string
    // pairs — the shuffle carries 16 bytes per candidate, not two names.
    // Hash collisions only ADD candidates (the superset property is on
    // equal variants ⇒ equal hashes); the final exact-distance filter
    // removes them, so the result stays exact.
    // the distinct-string table feeds SIX consumers (two self-join
    // sides, identity keys, deletion keys, both resolution broadcasts)
    // — materialize it once or every consumer re-runs the scan+distinct
    // shuffle (the recompute-diamond class Dedup's cross-dedup fix
    // documents); it is |distinct strings| rows, linear and small
    val strs = strings
      .select(col(strCol).as("s")).filter(col("s").isNotNull).distinct()
      .select(col("s"), fp(col("s")).as("sid"))
      .barrier()
    val nStrs = strs.count()
    // SCALE-ADAPTIVE width for the variant chain (r18): the checkpointed
    // distinct-string table AQE-coalesces to ~1 partition at byte-small
    // sizes, so the whole variant+hash+candidate chain used to run ONE
    // task at ANY core count — the sf1 scaling arm measured 8 cores
    // FASTER than 32 on this query (8.2 vs 11.5 s), the signature of a
    // serial stage taxed by session width. The width is derived from
    // the DATA (a rows-per-task budget), never the core count: under
    // the budget nothing changes (the r17 sf0.1 widening negative
    // stands — there the exchange cost more than it bought), over it
    // the chain fans out to ceil(n / budget) tasks. Hash-partitioned on
    // the deterministic sid (a keyless round-robin repartition would
    // pay sortBeforeRepartition and, under fetch-failure replay, is the
    // rand-derived-key hazard class).
    require(chainRowsPerTask >= 1)
    val chainWidth = math.min(1 + (nStrs / chainRowsPerTask), 65536L).toInt
    val strsChain = if (chainWidth > 1) strs.repartition(chainWidth, col("sid"))
      else strs
    val cand =
      if (maxDist == 1) positionTypedCandidates(strsChain, maxKeyDf)
      else plainCandidates(strsChain, maxDist, maxKeyDf)
    // Fingerprint COLLISIONS (distinct strings, equal sid — negligible
    // at gate scale, a certainty somewhere in a 10^9-string universe)
    // are handled by a separate branch: every colliding sid group is a
    // candidate outright, so the main branch can require STRICTLY
    // ordered sids — its resolved pairs are then unique by construction
    // ((h(a), h(b)) is a function of the pair) and need no wide
    // string-pair dedup shuffle; only the ~empty collision branch pays
    // a dropDuplicates, against its 4-way resolution fan-out.
    val collisionCand = strs.groupBy("sid").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("sid").as("sid_a"), col("sid").as("sid_b"))
    // The distinct-string table grows with the corpus: broadcast the
    // resolution side only while its MEASURED count fits (cheap — strs
    // is checkpointed above); past the bound the resolutions become
    // shuffled equi-joins on the 60-bit sid, the 100 TB path.
    val strsFit = SizeGuard.fits(strings.sparkSession, nStrs)
    def dim(d: DataFrame): DataFrame = if (strsFit) broadcast(d) else d
    def resolve(c: DataFrame): DataFrame = c
      .join(dim(strs.withColumnRenamed("s", "ra")), col("sid_a") === col("sid"))
      .drop("sid")
      .join(dim(strs.withColumnRenamed("s", "rb")), col("sid_b") === col("sid"))
      .select(least(col("ra"), col("rb")).as("s_a"),
        greatest(col("ra"), col("rb")).as("s_b"))
      // thresholded levenshtein = banded DP + early length-gap exit,
      // returning -1 past maxDist — the between() keeps identical rows
      // with identical distances, at a fraction of the DP cells
      .withColumn("dist",
        levenshtein(col("s_a"), col("s_b"), maxDist).cast("long"))
      .filter(col("dist").between(1, maxDist))
    resolve(cand)
      .unionByName(resolve(collisionCand).dropDuplicates("s_a", "s_b"))
  }

  /** Rows-per-task budget for the variant chain's scale-adaptive width:
    * 250k names × (|name|+1 ≈ 20) variants × 3 key families per task is
    * a comfortably sized CPU-dense task; sf0.1's 150k names stay under
    * it (no exchange, the measured-better shape there), sf1's 1.5M fan
    * out 7-way, a real corpus to thousands of tasks. */
  private val variantChainRowsPerTask = 250L * 1000

  /** 64-bit xxhash64 fingerprint (r18: replaces the md5-hex-conv form,
    * which paid a crypto digest plus two string conversions PER VARIANT
    * KEY — the dominant per-row cost of the candidate build. Any
    * consistent hash works here: kh collisions only ADD candidates the
    * exact-distance filter removes, and sid collisions ride the
    * dedicated collision branch — the output is hash-choice-invariant,
    * oracle-checked). */
  private def fp(c: Column): Column = xxhash64(c)

  private def keyGuard(keyed: DataFrame, maxKeyDf: Int): DataFrame =
    if (maxKeyDf == Int.MaxValue) keyed
    else keyed.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("kh")))
      .filter(col("df") <= maxKeyDf).drop("df")

  /** Candidate sid pairs for the general ≤ maxDist cover: one key per
    * ≤ maxDist-deletion variant. STRICT sid order — self-matches (every
    * string meets itself on all of its variant keys) never enter the
    * join output, and equal-sid pairs between DISTINCT strings are the
    * caller's collision branch, which admits every colliding group
    * outright. */
  private def plainCandidates(strs: DataFrame, maxDist: Int,
      maxKeyDf: Int): DataFrame = {
    val keyed = keyGuard(strs
      .select(col("sid"), explode(deletionVariants(col("s"), maxDist)).as("k"))
      .select(col("sid"), fp(col("k")).as("kh")), maxKeyDf)
      .barrier() // both self-join sides read one materialization
    keyed.as("a")
      .join(keyed.as("b"), col("a.kh") === col("b.kh") && col("a.sid") < col("b.sid"))
      .select(col("a.sid").as("sid_a"), col("b.sid").as("sid_b"))
      .distinct() // candidates meet once per shared variant key
  }

  /** POSITION-TYPED candidates for maxDist = 1 — the refinement that
    * makes the k=1 cover near-exact instead of merely lossless. A
    * distance-1 pair is either a SUBSTITUTION (equal length, deleting
    * the SAME position from both yields the same string) or an INDEL
    * (the shorter string IS a deletion of the longer). Typing the keys
    * accordingly —
    *   S-keys ("S", p, delete_p(s)) self-joined, so deletions at
    *     DIFFERENT positions never collide, and
    *   identity keys ("D", s) joined against deletion keys
    *     ("D", delete_p(s)) across roles, so indels meet without
    *     admitting deletion-vs-deletion matches —
    * eliminates the dominant false-candidate class of the plain cover
    * (delete position i from a = delete position j from b with i ≠ j:
    * a distance-2 alignment shift, endemic in serial-numbered keys; on
    * the sf0.1 customer names it is 971k plain candidates vs 277k typed
    * for 262.5k true pairs). Not applicable at k = 2, where edits shift
    * downstream positions — the general cover handles that. */
  private def positionTypedCandidates(strs: DataFrame,
      maxKeyDf: Int): DataFrame = {
    val dels = strs
      .select(col("sid"), col("s"),
        explode(when(length(col("s")) > 0, sequence(lit(1), length(col("s"))))
          .otherwise(array())).as("p"))
      .select(col("sid"), col("p"),
        concat(col("s").substr(lit(1), col("p") - 1),
          col("s").substr(col("p") + 1, length(col("s")) - col("p"))).as("v"))
    // typed keys hash their parts directly (seeded by the type tag) —
    // no intermediate concat_ws string materializes per variant (r18)
    val sKeys = keyGuard(dels.select(col("sid"),
      xxhash64(lit("S"), col("p"), col("v")).as("kh")), maxKeyDf)
      .barrier() // both self-join sides read one materialization
    // duplicate variants within one string (runs of a repeated char)
    // fan the indel join out per duplicate; the union-level distinct
    // absorbs them, so no dedicated dedup shuffle here
    val dKeys = keyGuard(dels.select(col("sid"),
      xxhash64(lit("D"), col("v")).as("kh")), maxKeyDf)
    val iKeys = keyGuard(strs.select(col("sid"),
      xxhash64(lit("D"), col("s")).as("kh")), maxKeyDf)
    // strict order: self-matches stay out; equal-sid collision pairs
    // are the caller's collision branch (see fuzzyPairs)
    val subCand = sKeys.as("a")
      .join(sKeys.as("b"), col("a.kh") === col("b.kh") && col("a.sid") < col("b.sid"))
      .select(col("a.sid").as("sid_a"), col("b.sid").as("sid_b"))
    // roles differ, so self-match is impossible (s = delete_p(s) never
    // holds — lengths differ); canonicalize the pair order by sid,
    // excluding equal-sid rows (collision branch again)
    val indelCand = iKeys.as("a")
      .join(dKeys.as("b"), col("a.kh") === col("b.kh") && col("a.sid") =!= col("b.sid"))
      .select(least(col("a.sid"), col("b.sid")).as("sid_a"),
        greatest(col("a.sid"), col("b.sid")).as("sid_b"))
    subCand.union(indelCand).distinct()
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo's merge/purge,
    * 1995) — the OTHER classic record-linkage candidate scheme: sort the
    * distinct strings, compare each only with its `window − 1`
    * successors in sort order, verify candidates with the exact
    * Levenshtein distance. Complements [[fuzzyPairs]]: symmetric-delete
    * is lossless for distance ≤ k but its variant fan-out grows with k;
    * sorted-neighborhood costs O(n·window) REGARDLESS of the distance
    * cutoff, at the price of recall limited to pairs the sort key puts
    * near each other (the standard trade; prefix-heavy keys like names
    * and codes are where it earns its keep).
    *
    * Spark shape: the global sort rank comes from
    * [[Packing.prefixSums]]' two-phase plan over the
    * DISTINCT strings (deterministic slices, per-slice windows, one
    * |slices|-row global window — never a single-task sort of the
    * table). Each string then meets its neighbors through a plain
    * equi-join: the right side re-keys every string to its `d`
    * following rank positions (d ∈ [1, window)), the left side stays at
    * its own rank, so a pair at sort distance d meets exactly once (at
    * the later string's rank) — no pair dedup shuffle. Exact distances
    * verify the bounded candidate set; output is
    * (s_a, s_b, sort_gap, dist) with s_a the sort-order predecessor. */
  def sortedNeighborPairs(strings: DataFrame, strCol: String,
      window: Int, maxDist: Int): DataFrame =
    neighborCandidates(strings, strCol, window)
      // thresholded levenshtein runs the BANDED DP (O(maxDist·n) cells,
      // early length-gap exit) and returns -1 past the bound — identical
      // dist for every row the between() keeps, ~3x fewer cells at k=2
      .withColumn("dist",
        levenshtein(col("s_a"), col("s_b"), maxDist).cast("long"))
      .filter(col("dist").between(1, maxDist))

  /** Sorted-neighborhood candidates scored with the native
    * [[graft.plans.JaroWinklerExpr]] instead of an edit-distance bound —
    * the linkage variant for name data, where a similarity RATIO (and
    * Winkler's shared-prefix boost) ranks matches better than an
    * absolute edit budget. Same O(n·window) candidate topology; the
    * scorer is a codegen'd expression, so the verify filter stays
    * inside the candidate join's fused stage. */
  def sortedNeighborJaroWinkler(strings: DataFrame, strCol: String,
      window: Int, minSim: Double): DataFrame =
    neighborCandidates(strings, strCol, window)
      .withColumn("jw",
        graft.plans.JaroWinklerExpr.jaroWinkler(col("s_a"), col("s_b")))
      .filter(col("jw") >= minSim && col("s_a") =!= col("s_b"))

  /** Shared sorted-neighborhood candidate generator: every string meets
    * its `window − 1` successors in sort order exactly once, via the
    * prefix-sum rank + anchored equi-join described on
    * [[sortedNeighborPairs]]. Returns (s_a, s_b, sort_gap). */
  private def neighborCandidates(strings: DataFrame, strCol: String,
      window: Int): DataFrame = {
    require(window >= 2, s"window must be at least 2, got $window")
    val strs = strings
      .select(col(strCol).as("s")).filter(col("s").isNotNull).distinct()
      .withColumn("_cnt", lit(1L))
    val ranked = Packing.prefixSums(strs, Nil, "s", Seq("_cnt"), Seq("rk"))
      .select(col("s"), col("rk"))
      .barrier() // feeds both join sides — one rank computation
    val anchored = ranked.select(col("s").as("sb"),
        explode(sequence(col("rk") - (window - 1), col("rk") - 1)).as("rk"),
        col("rk").as("rk_b"))
    ranked.as("a")
      .join(anchored, Seq("rk"))
      .select(col("s").as("s_a"), col("sb").as("s_b"),
        (col("rk_b") - col("rk")).as("sort_gap"))
  }
}
