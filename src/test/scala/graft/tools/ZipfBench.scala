package graft.tools

import graft.operators.Materialize.releaseAll

/** Dev-only probe for the adaptive level-1 Apriori prune (VERDICT r13
  * #1): on a Zipf-distributed basket corpus (dev/gen_zipf.py — the item
  * distribution real corpora have, which every re-keyed TPC-H-ish
  * corpus lacks), measure the association-rules and frequent-triples
  * plans with the per-call `pruneMassThreshold` knob forced to 0.0
  * (prune whenever anything is infrequent) vs 2.0 (never prune),
  * everything else held fixed. The prune is lossless by downward closure (unit-gated in
  * StatsSpec), so the row counts must MATCH between arms; the JSON line
  * reports per-arm seconds + result rows.
  *
  *   SPARK_GRAFT_CPUS=16 SPARK_DRIVER_MEM=48g sbt \
  *     "Test/runMain graft.tools.ZipfBench /tmp/graft_zipf10 1000 2"
  *
  * args: corpusDir [minCount=1000] [reps=1]  (reps: on/off pairs run
  * alternating, min taken per arm — use 2 at the 60M-row scale, 1 at
  * 600M where a single arm is minutes).
  */
object ZipfBench {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_zipf10")
    val minCount = args.lift(1).map(_.toLong).getOrElse(1000L)
    val reps = args.lift(2).map(_.toInt).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Kit.session(cpus)
    val df = spark.read.parquet(s"$dir/baskets.parquet")
    val plans: Seq[(String, Double => Long)] = Seq(
      "assoc_rules" -> ((thr: Double) =>
        graft.operators.Stats.associationRules(df, "b", "i", minCount,
          pruneMassThreshold = thr).count()),
      "frequent_triples" -> ((thr: Double) =>
        graft.operators.Stats.frequentTriples(df, "b", "i", minCount,
          pruneMassThreshold = thr).count()))
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    val rows = scala.collection.mutable.LinkedHashMap[String, Long]()
    for (r <- 1 to reps; on <- Seq(true, false); (name, run) <- plans) {
      val t0 = System.nanoTime()
      val n = run(if (on) 0.0 else 2.0)
      val dt = (System.nanoTime() - t0) / 1e9
      releaseAll(spark)
      val key = s"$name:${if (on) "prune_on" else "prune_off"}"
      out(key) = out.get(key).fold(dt)(math.min(_, dt))
      rows(key) = n
      println(s"  [$r/$reps] $key: ${math.rint(dt * 100) / 100}s, $n rows")
    }
    // lossless check: both arms must agree on every plan's cardinality
    val mismatch = plans.map(_._1).filter(n =>
      rows(s"$n:prune_on") != rows(s"$n:prune_off"))
    def r3(v: Double) = math.rint(v * 1000) / 1000
    println(out.map { case (k, v) => s""""$k":${r3(v)}""" }
      .mkString(s"""{"corpus":"$dir","minCount":$minCount,"cpus":"$cpus",""" +
        s""""rows_equal":${mismatch.isEmpty},"queries":{""", ",", "}}"))
    spark.stop()
  }
}
