package graft.tools

import graft.operators.Materialize.releaseAll

/** Dev-only scale-evidence harness (VERDICT r10 task 4): run a fixed
  * panel of the most expensive queries + the prefix-sum/minhash/fuzzy/
  * vector consumers at an arbitrary SF dir, Bench-methodology (warmup
  * pass for codegen, then best-of-2 with caches dropped between
  * queries), and print one JSON line of per-query seconds. Run at
  * sf0.1 and at the dev/gen_sf1.py 10x corpus, the ratio gives each
  * query's local scaling exponent for BASELINE.md.
  *
  *   sbt "Test/runMain graft.tools.ScaleBench /tmp/graft_sf1"
  */
object ScaleBench {

  /** Top-10 by round-10 bench cost + the scale-sensitive consumers the
    * verdict names: two-phase prefix sums (pack/mix/systematic), minhash
    * LSH, fuzzy blocking, ANN/IVF/semantic vectors, plus q1_agg as the
    * linear-scan yardstick, plus the geometry family (its WKT volume is
    * synthesized from customer columns, so it scales with the corpus
    * like every other row — the interpreted JTS UDF is the thing under
    * watch here). */
  val panel: Seq[String] = Seq(
    "q1_agg",
    "fuzzy_name_pairs", "describe_numeric_lineitem", "pipeline_funnel",
    "assoc_rules_parts", "frequent_triples", "equidepth_lineitem",
    "langid_docs", "copurchase_parts", "ks_drift_by_priority",
    "ks_drift_lineitem",
    "pack_sequences", "mix_unimax_epochs", "systematic_sample_docs",
    "minhash_neardup_docs", "minhash_dedup_keep",
    "ann_lsh_topk", "ivf_topk", "semantic_dedup_keep", "tfidf_cosine_pairs",
    "geo_sliver", "geo_validate", "geo_validity_census", "geo_bbox",
    "sorted_neighbor_names", "jw_linkage_names", "entity_resolution_names",
    "q21_waiting_suppliers",
    // round-16 enrollment (VERDICT r15 #3) + the new learned-BPE pair:
    // the prune-engaging Apriori substrate (lineitem — scales through
    // gen_sf10/gen_sf100), the ingest probe plan (documents — scales
    // through gen_sf1's corpus recipe), and the iterative fit whose
    // vocabulary-sized working set is its scale claim
    "assoc_rules_skew", "cross_dedup_probe", "bpe_fit", "bpe_encode",
    // round-17: the encode's per-lang aggregate joins its pair
    // (VERDICT r16 #6)
    "bpe_fertility")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // optional 2nd arg: comma-separated query names — e.g. the sf≈10
    // heavy-family probe runs only the families whose tables
    // dev/gen_sf10.py generates
    val only = args.lift(1).map(_.split(',').toSet)
    val panel = this.panel.filter(n => only.forall(_.contains(n)))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Kit.session(cpus)
    graft.Bench.quietAuditedWindowWarn()
    graft.Bench.quietAuditedCheckpointWarn()
    val qs = panel.map(n => n -> graft.SparkEntry.queries(n))
    qs.foreach { case (_, fn) =>
      try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
      releaseAll(spark)
    }
    def measure(): Map[String, Double] = qs.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
      val dt = (System.nanoTime() - t0) / 1e9
      releaseAll(spark)
      name -> dt
    }.toMap
    val p1 = measure(); val p2 = measure()
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val line = panel.map(n => "\"" + n + "\":" + r3(math.min(p1(n), p2(n))))
      .mkString(s"""{"sf":"$sfDir","cpus":"$cpus","queries":{""", ",", "}}")
    println(line)
    spark.stop()
  }
}
