package graft.sources

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

import graft.SparkSpec

/** Two-session concurrency smoke (VERDICT r15 #7): the weak-session-keyed
  * [[Memo]] registries and the per-call Apriori prune knobs are DESIGNED
  * for concurrent sessions but were never exercised under one. Two
  * `newSession()` children of the shared context drive memoized queries
  * and opposing prune overrides concurrently; any registry entry, conf,
  * or knob leaking across sessions fails an assertion here. */
class ConcurrencySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("memo registry entries are per-session: same key, different builds, no cross-talk") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    def build(s: SparkSession, tag: String) = {
      import s.implicits._
      Seq.fill(64)(tag).toDF("tag")
    }
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futs = (0 until 8).map { i =>
        val (s, tag) = if (i % 2 == 0) (s1, "one") else (s2, "two")
        pool.submit(new Callable[(String, Array[String])] {
          def call() = (tag,
            Memo.tableFor(s, dir, "cc-smoke")(build(s, tag))
              .collect().map(_.getString(0)))
        })
      }
      futs.foreach { f =>
        val (tag, rows) = f.get(300, TimeUnit.SECONDS)
        assert(rows.length === 64)
        assert(rows.forall(_ == tag),
          s"session tagged '$tag' read another session's memoized table")
      }
    } finally pool.shutdownNow()
  }

  test("ten threads describing on one session reproduce the serial describe") {
    // ten callers submit describe's jobs on one session at once
    def describe(): Seq[(String, Map[String, Any])] =
      graft.core.Report(Tables.lineitem(spark, dir)).describe()
        .map(p => p.column -> (p.stats: Map[String, Any]))
    val serial = describe()
    val pool = Executors.newFixedThreadPool(10)
    try {
      val futs = (0 until 10).map { _ =>
        pool.submit(new Callable[Seq[(String, Map[String, Any])]] { def call() = describe() })
      }
      futs.zipWithIndex.foreach { case (f, i) =>
        assert(f.get(300, TimeUnit.SECONDS) === serial, s"caller $i diverged from the serial describe")
      }
    } finally pool.shutdownNow()
  }

  test("concurrent sessions with opposing confs and prune knobs reproduce the solo results") {
    import org.apache.spark.sql.functions._
    // solo baselines on the parent session
    val baseSkew = graft.SparkEntry.queries("assoc_rules_skew")(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val baseProbe = graft.SparkEntry.queries("cross_dedup_probe")(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    def baskets(s: SparkSession) = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        when(col("l_partkey") % 10 < 3, col("l_partkey") % 10)
          .otherwise(col("l_partkey")).as("item"))
    val baseRules = graft.operators.Stats
      .associationRules(baskets(spark), "l_orderkey", "item", minCount = 100L)
      .collect().map(_.toString).sorted.toSeq

    val s1 = spark.newSession()
    val s2 = spark.newSession()
    s1.conf.set("spark.sql.shuffle.partitions", "3")
    s2.conf.set("spark.sql.shuffle.partitions", "11")
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futs = (0 until 8).map { i =>
        val s = if (i % 2 == 0) s1 else s2
        // opposing per-call knobs: even workers FORCE the prune on, odd
        // workers force it off — outputs must be identical either way
        // (downward closure) and must not perturb the other session
        val (mass, cap) = if (i % 2 == 0) (0.0, 1L << 20) else (2.0, 1L)
        pool.submit(new Callable[Unit] {
          def call(): Unit = {
            val skew = graft.SparkEntry.queries("assoc_rules_skew")(s, dir)
              .collect().map(_.toString).sorted.toSeq
            assert(skew === baseSkew, s"assoc_rules_skew diverged in worker $i")
            val probe = graft.SparkEntry.queries("cross_dedup_probe")(s, dir)
              .collect().map(_.toString).sorted.toSeq
            assert(probe === baseProbe, s"cross_dedup_probe diverged in worker $i")
            val rules = graft.operators.Stats.associationRules(
                baskets(s), "l_orderkey", "item", minCount = 100L,
                pruneMassThreshold = mass, pruneBroadcastCap = cap)
              .collect().map(_.toString).sorted.toSeq
            assert(rules === baseRules,
              s"prune knobs (mass=$mass, cap=$cap) changed the output in worker $i")
          }
        })
      }
      futs.foreach(_.get(600, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    // session confs did not bleed into each other or the parent
    assert(s1.conf.get("spark.sql.shuffle.partitions") === "3")
    assert(s2.conf.get("spark.sql.shuffle.partitions") === "11")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
  }
}
