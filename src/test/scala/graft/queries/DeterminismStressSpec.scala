package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.operators.Materialize.releaseAll

/** Same-session replay stress for the prefix-sum consumers.
  *
  * Round 6 shipped an INTERMITTENT wrong answer: `mix_corpus` failed the
  * driver's hash gate while standalone replays were green, because slice
  * ids came from `spark_partition_id()` over a sampled range exchange —
  * whichever consumer re-instantiated the exchange could observe different
  * sampled boundaries. A flake by nature escapes single-run tests, so this
  * spec reproduces the driver's harness shape: the same SparkSession runs
  * each consumer query MANY times with caches dropped between runs, and
  * every run must produce the identical canonical result. With
  * deterministic-by-construction slice ids (Packing.deterministicSlice)
  * this is exact, not probabilistic. */
class DeterminismStressSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val Runs = 20

  /** Order-insensitive canonical form of a query result. */
  private def canonical(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect().map(_.toString).sorted.mkString("\n")
  }

  test("BPE fit is bit-identical across shuffle-partition counts and codegen modes") {
    // the fitted merge table is an ITERATED argmax — ties broken by the
    // total order (count desc, pair asc), so any partitioning or eval
    // mode must produce the identical rule sequence. Calls the operator
    // directly (the query rides the Memo, which would mask replays).
    val docs = graft.sources.Tables.documents(spark, dir)
    val confs = Seq(
      Seq("spark.sql.shuffle.partitions" -> "2"),
      Seq("spark.sql.shuffle.partitions" -> "23"),
      Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    val runs = confs.map { cs =>
      val saved = cs.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        cs.foreach { case (k, v) => spark.conf.set(k, v) }
        val m = graft.operators.TextAnalysis.bpeFitMerges(docs, "text", 8)
        releaseAll(spark)
        m
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    assert(runs.distinct.size === 1,
      s"BPE merge sequence drifted across confs: ${runs.map(_.take(3))}")
  }

  test("describe bracket-chain quantiles are exact across shuffle-partition counts") {
    // the chain's slice count IS spark.sql.shuffle.partitions, so varying
    // it moves every slice boundary; cum positions are LONG sums (exact),
    // so the bracketed quantiles must be bit-identical — only mad (a
    // double sum) may move in the last ULP
    import graft.operators.Describe
    val li = graft.sources.Tables.lineitem(spark, dir)
    val key = "spark.sql.shuffle.partitions"
    val orig = spark.conf.get(key)
    try {
      val runs = Seq("2", "7", "23").map { parts =>
        spark.conf.set(key, parts)
        val p = Describe.profile(li, Seq("l_extendedprice", "l_shipdate"),
          percentileBufferMaxDistinct = 0)
        releaseAll(spark)
        p.map(c => c.column -> c.stats).toMap
      }
      runs.tail.foreach { r =>
        runs.head.foreach { case (colName, stats) =>
          stats.foreach { case (k, v) =>
            (v, r(colName)(k)) match {
              case (a: Double, b: Double) if k == "mad" =>
                // mad is sum(f·|v-mean|)/sum(f) over the freq substrate;
                // its FP association follows that table's partitioning,
                // which since the r17 localCheckpoint swap is the
                // AQE-coalesced byte layout rather than the pinned
                // shuffle width — measured ≤ 34 ulp across this grid
                // (was ≤ 8 under the pinned width; the 8-ulp bound was
                // calibrated to that shape, not a semantic contract).
                // Quantiles/min/max/counts above stay BIT-identical.
                assert(math.abs(a - b) <= math.ulp(a) * 64, s"$colName.$k")
              case (a, b) => assert(a === b, s"$colName.$k")
            }
          }
        }
      }
    } finally spark.conf.set(key, orig)
  }

  test("prefix-sum consumers are invariant across the driver-harness conf grid") {
    // VERDICT r7 #1(b): the mix_corpus driver-gate divergence reproduces
    // in the driver's harness only, so sweep the conf axes its
    // environment could plausibly differ on — shuffle-partition count
    // (slice granularity AND task boundaries), AQE replanning, ANSI
    // evaluation mode, and interpreted (non-codegen) expression eval —
    // and require the canonical result to be bit-identical to the
    // session-default run for every prefix-sum consumer.
    val queries = Seq("mix_corpus", "mix_corpus_check", "mix_temperature",
      "mix_unimax", "mix_unimax_epochs", "shuffle_order", "pack_sequences",
      "spearman_lineitem", "equidepth_lineitem",
      // round-9 second-session deterministic consumers: the systematic
      // sampler rides the same two-phase prefix sum; the fuzzy join and
      // its CC composition must be partition/conf-invariant sets; the
      // CMS cells are order-invariant sums of a pure key function
      "systematic_sample_docs", "fuzzy_name_pairs",
      "entity_resolution_names", "cms_freq_check",
      // round-10: the exact KS statistics ride the same two-phase
      // prefix sums over the distinct-value frames
      "ks_drift_lineitem", "ks_drift_by_priority",
      // round-10 second batch: the Lorenz brackets ride the same
      // two-phase prefix sums over the distinct-value frame
      "lorenz_revenue",
      // round-13: the hot-key histogram + split/union must detect the
      // same hot set and produce the same join at any partitioning; the
      // sidecar prune decisions are driver-side and must not shift with
      // conf (shard survivor sets are a pure function of the sidecar)
      "skew_join_events", "shard_pruned_scan_multi", "shard_pruned_scan_in",
      // round-16 enrollment (VERDICT r15 #3): the adaptive-prune
      // consumer (its broadcast survivor filter must make the same
      // engage/skip decision and the same output at any conf) and the
      // capped-fallback probe plan (collect + createDataFrame +
      // isInCollection pushdown must be a pure set function)
      "assoc_rules_skew", "cross_dedup_probe",
      // round-17 enrollment (VERDICT r16 #6): the learned-BPE family —
      // the fit's argmax total order and the fused greedy encode
      // (reference-object codegen) must be conf-invariant; fertility is
      // the encode's per-lang aggregate and the one query of the trio
      // that was in neither grid
      "bpe_fit", "bpe_encode", "bpe_fertility", "token_budget_bpe")
    val defaults = queries.map(q => q -> canonical(q)).toMap
    releaseAll(spark)
    val sweeps: Seq[(String, Seq[(String, String)])] = Seq(
      "partitions=1" -> Seq("spark.sql.shuffle.partitions" -> "1"),
      "partitions=200" -> Seq("spark.sql.shuffle.partitions" -> "200"),
      "aqe=off" -> Seq("spark.sql.adaptive.enabled" -> "false"),
      "ansi=off" -> Seq("spark.sql.ansi.enabled" -> "false"),
      "codegen=off" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
      "combined" -> Seq("spark.sql.shuffle.partitions" -> "200",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.codegen.wholeStage" -> "false"))
    for ((label, confs) <- sweeps) {
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        for (q <- queries) {
          val r = canonical(q)
          releaseAll(spark)
          assert(r === defaults(q), s"$q diverged under conf sweep [$label]")
        }
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  for (q <- Seq("mix_corpus", "shuffle_order", "pack_sequences",
                "spearman_lineitem", "chunk_docs", "quality_regression",
                // round-9 third-session order-sensitive shapes: the
                // prefix-sum rank join, lead-window paths, cohort
                // windows, and the rank-sum Gini must all survive
                // partitioning changes
                "sorted_neighbor_names", "event_paths",
                "retention_weekly", "gini_revenue",
                // round-10 order-sensitive shapes: the Q3 top-10 (total
                // order by (revenue, orderkey)) and the merged-MG rank
                "q3_shipping_priority", "shard_profile_topvalues",
                "q18_large_orders",
                // round-10 second batch: fixed-point pagerank (iterative
                // integer fan-in sums), the sorted-neighborhood JW rank
                // join, the streak islands (per-key row_number), the
                // mask-census rank, the Zipf head rank window, and the
                // Q21 per-row qualification over grouped maxima
                "pagerank_parts", "jw_linkage_names", "user_streaks",
                "pattern_census", "zipf_fit_docs",
                "q21_waiting_suppliers",
                // round 11: the language-ID fit rides Parallelize.cpuBound
                // (an extra round-robin exchange before the trigram
                // explode) — its doc-frequency counts and top-50 rank must
                // be invariant to the redistribution, per the Parallelize
                // integer/set safety contract
                "langid_docs",
                // round-11 second batch: the single-scan quality gates
                // (qualityColumns projection, no self-join) and the widened
                // gram/token extractions — the per-lang exact percentile,
                // the per-gram min-priority, and the integer tf moments
                // must all be invariant to the cpuBound redistribution
                "quality_filter_by_lang", "novelty_docs",
                "term_burstiness", "corpus_filter",
                // round 12: the sidecar-pruned scan (driver-side shard
                // decision + basePath read must pick the same shards on
                // any topology), the md5-substrate simhash pipeline
                // (C(5,2) pigeonhole + Hamming verify as a set), and the
                // explicit salted top-k fallback (rank at the k boundary
                // rides the tie-break total order)
                "shard_pruned_scan", "simhash_neardup_docs",
                "window_topk_scaled",
                // round 16: the two r15 queries join the replay grid
                // (VERDICT r15 #3) — the prune-engaging skew substrate
                // and the probe plan's driver-candidate path
                "assoc_rules_skew", "cross_dedup_probe")) {
    test(s"$q is bit-identical across $Runs same-session runs with caches dropped") {
      val first = canonical(q)
      releaseAll(spark)
      for (i <- 2 to Runs) {
        val again = canonical(q)
        releaseAll(spark)
        assert(again === first, s"$q drifted on run $i of $Runs")
      }
    }

    test(s"$q is invariant under shuffle-partition count (cluster-topology proxy)") {
      // changing spark.sql.shuffle.partitions changes slice granularity,
      // exchange fan-out and task boundaries — results must not move
      val key = "spark.sql.shuffle.partitions"
      val orig = spark.conf.get(key)
      try {
        val results = Seq("2", "7", "23").map { parts =>
          spark.conf.set(key, parts)
          val r = canonical(q)
          releaseAll(spark)
          r
        }
        assert(results.distinct.size === 1,
          s"$q differs across shuffle-partition counts 2/7/23")
      } finally spark.conf.set(key, orig)
    }
  }
}
