package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only skew-evidence harness: the salted operators
  * ([[graft.operators.SkewJoin]], [[graft.operators.GroupTopK]]) are
  * equivalence-tested in units, but never measured against a genuinely
  * hot key. This plants one (~20% of all rows on a single customer key /
  * a single group) into the scale corpus and times the salted plan
  * against the plain one — with Spark's own AQE skew-join mitigation
  * both ON (what a well-configured cluster gives you) and OFF (the
  * naive straggler the salting exists to kill, and the case AQE cannot
  * cover: broadcast-ineligible joins whose skew only shows post-shuffle,
  * or non-sort-merge plans).
  *
  *   sbt "Test/runMain graft.tools.SkewBench /tmp/graft_sf1"
  *
  * Prints one JSON line of seconds per variant; every variant's row
  * count is cross-checked so the timings compare equal answers. */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf1")
    // salt fan-out: size to (hot-key rows / target rows per task); the
    // join pays dim replication x buckets, so oversizing it is overhead
    val buckets = args.lift(1).map(_.toInt).getOrElse(16)
    // planted skew: P(row lands on the hot key) = hotPct/100
    val hotPct = args.lift(2).map(_.toInt).getOrElse(20)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the hot side must not be broadcast away: the probe is about
    // shuffle-join skew, so keep the dim above the broadcast bound
    val spark = Kit.session(cpus, "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    import graft.sources.Tables

    // ----- skewed join: orders (20% of rows remapped to one custkey)
    // joined to the full customer dim (too big to broadcast at sf>=1)
    val hotKey = 42L
    def orders = Tables.orders(spark, sfDir)
      .withColumn("custkey",
        when(pmod(col("o_orderkey"), lit(100L)) < hotPct, lit(hotKey))
          .otherwise(col("o_custkey")))
      .select("custkey", "o_orderkey", "o_totalprice")
    def cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("custkey"), col("c_acctbal"))
    def sink(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(count(lit(1)), sum(col("o_totalprice") + col("c_acctbal")))
        .head.getLong(0)

    def timed(body: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = body
      ((System.nanoTime() - t0) / 1e9, n)
    }
    def best2(body: => Long): (Double, Long) = {
      val (t1, n1) = timed(body); val (t2, n2) = timed(body)
      require(n1 == n2); (math.min(t1, t2), n1)
    }
    def aqeSkew(on: Boolean): Unit = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", on.toString)
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", on.toString)
    }

    // warmup (codegen, file listing)
    sink(orders.join(cust, "custkey"))

    aqeSkew(false)
    val (tPlainNoAqe, nPlainNoAqe) = best2(sink(orders.join(cust, "custkey")))
    aqeSkew(true)
    val (tPlainAqe, nPlainAqe) = best2(sink(orders.join(cust, "custkey")))
    val (tSalted, nSalted) = best2(
      sink(graft.operators.SkewJoin.saltedJoin(orders, cust, "custkey", buckets = buckets)))
    // the split variant: only the detected hot keys are salted, only
    // their dim rows replicated — detection cost included in the timing
    val (tHot, nHot) = best2(
      sink(graft.operators.SkewJoin.saltedJoinAuto(
        orders, cust, "custkey", buckets = buckets, minShare = 0.05)))
    require(nPlainNoAqe == nPlainAqe && nPlainAqe == nSalted && nSalted == nHot,
      s"salted join must match plain: $nPlainNoAqe / $nPlainAqe / $nSalted / $nHot")

    // ----- skewed group top-k: one group holds ~20% of lineitem
    def li = Tables.lineitem(spark, sfDir)
      .withColumn("grp",
        when(pmod(col("l_orderkey"), lit(100L)) < hotPct, lit("HOT"))
          .otherwise(col("l_returnflag")))
      .select("grp", "l_orderkey", "l_linenumber", "l_extendedprice")
    val ord = Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
      col("l_linenumber").asc)
    def plainTopK: Long = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("grp")).orderBy(ord: _*)
      li.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .agg(count(lit(1)), sum("l_extendedprice")).head.getLong(0)
    }
    def nativeTopK: Long =
      graft.operators.GroupTopK.topK(li, Seq("grp"), ord, k = 10)
        .agg(count(lit(1)), sum("l_extendedprice")).head.getLong(0)
    def saltedTopK: Long =
      graft.operators.GroupTopK.topKSalted(li, Seq("grp"), ord, k = 10, salts = buckets)
        .agg(count(lit(1)), sum("l_extendedprice")).head.getLong(0)

    plainTopK // warmup
    val (tWPlain, nWPlain) = best2(plainTopK)
    val (tWNative, nWNative) = best2(nativeTopK)
    val (tWSalted, nWSalted) = best2(saltedTopK)
    require(nWPlain == nWNative && nWNative == nWSalted,
      s"top-k variants must match: $nWPlain / $nWNative / $nWSalted")

    def r3(v: Double) = math.rint(v * 1000) / 1000
    println(s"""{"sf":"$sfDir","cpus":"$cpus","buckets":$buckets,"hot_share":${hotPct / 100.0},""" +
      s""""join":{"plain_noaqe":${r3(tPlainNoAqe)},"plain_aqe":${r3(tPlainAqe)},""" +
      s""""salted_full":${r3(tSalted)},"salted_hot":${r3(tHot)},"rows":$nSalted},""" +
      s""""topk":{"plain_window":${r3(tWPlain)},"native_grouplimit":${r3(tWNative)},""" +
      s""""salted":${r3(tWSalted)},"rows":$nWSalted}}""")
    spark.stop()
  }
}
