package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contamination, repetition, and sequence-packing operator semantics. */
class PipelineOpsSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("contamination report flags only corpus docs sharing an n-gram with the bench set") {
    val bench = docs((100L, "the quick brown fox jumps over the lazy dog"))
    val corpus = docs(
      (1L, "prefix words then the quick brown fox appears here"), // shares "the quick brown fox"
      (2L, "entirely unrelated content about spark physical plans"))
    val out = Contamination.report(corpus, bench, "doc_id", "text", 4)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L))
    val row = out.head
    // doc 1 has 6 distinct 4-grams; exactly one ("the quick brown fox") is contaminated
    assert(row.getLong(1) === 6L)
    assert(row.getLong(2) === 1L)
    assert(math.abs(row.getDouble(3) - 1.0 / 6.0) < 1e-12)
  }

  test("overlap pairs count shared distinct grams per (corpus, bench) pair") {
    val bench = docs(
      (100L, "a b c d e"),
      (101L, "v w x y z"))
    val corpus = docs((1L, "a b c d e"), (2L, "m n o p q"))
    val out = Contamination.overlapPairs(corpus, bench, "doc_id", "text", 3)
      .orderBy("corpus_id", "bench_id").collect()
    assert(out.length === 1)
    assert((out.head.getLong(0), out.head.getLong(1), out.head.getLong(2)) === ((1L, 100L, 3L)))
  }

  test("contamination matching is map-side: the bench gram set is broadcast") {
    val bench = docs((100L, "a b c d e"))
    val corpus = docs((1L, "a b c d e f"))
    val plan = Contamination.report(corpus, bench, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("bloom keep-list equals exact decontamination (FPs die in the verify join)") {
    val bench = docs(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "pack my box with five dozen liquor jugs"))
    val corpus = docs(
      (1L, "prefix words then the quick brown fox appears here"), // contaminated
      (2L, "entirely unrelated content about spark physical plans"), // clean
      (3L, "pack my box with five dozen liquor jugs and more"), // contaminated
      (4L, "short doc"), // < n words: zero grams, always kept
      (5L, "another clean document speaking of catalyst optimizer rules"))
    // tiny bloom (high fpp) to force false positives through the prefilter
    val out = Contamination.bloomKeep(corpus, bench, "doc_id", "text", 4,
        expectedGrams = 4, fpp = 0.5)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(2L, 4L, 5L))
    // n_grams: doc 4 has < 4 words → 0; doc 2 has 7 words → 4 distinct
    // 4-grams; doc 5 has 8 words → 5
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(2L -> 4L, 4L -> 0L, 5L -> 5L))
  }

  test("bloom keep-list keeps everything when the bench set is empty") {
    val bench = docs((100L, "ab")) // 1 word < n: emits no grams
    val corpus = docs((1L, "a b c d e"), (2L, "x"))
    val out = Contamination.bloomKeep(corpus, bench, "doc_id", "text", 3)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 3L), (2L, 0L)))
  }

  test("bloom keep-list is exact at tight fpp too, and stable across fpp settings") {
    val bench = docs((100L, "a b c d e"))
    val corpus = docs((1L, "a b c d e f"), (2L, "completely different words here now"))
    // the output is a pure function of the data — fpp only changes how much
    // the prefilter prunes, never the result
    val tight = Contamination.bloomKeep(corpus, bench, "doc_id", "text", 3,
      expectedGrams = 1000, fpp = 0.001).orderBy("doc_id").collect()
    val loose = Contamination.bloomKeep(corpus, bench, "doc_id", "text", 3,
      expectedGrams = 2, fpp = 0.5).orderBy("doc_id").collect()
    assert(tight.map(_.getLong(0)).toSeq === Seq(2L))
    assert(tight.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      loose.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("contaminated spans: exact quoted region merges, clean docs emit nothing") {
    val s = spark
    import s.implicits._
    val quote = (1 to 10).map(i => s"q$i").mkString(" ")
    val corpus = Seq(
      (1L, s"own1 own2 own3 $quote own4 own5 own6"), // quote at pos 3..12
      (2L, (1 to 20).map(i => s"c$i").mkString(" ")))   // clean
      .toDF("doc_id", "text")
    val bench = Seq((100L, s"intro $quote outro")).toDF("doc_id", "text")
    val out = graft.operators.Contamination.contaminatedSpans(
        corpus, bench, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // only the 8-grams fully inside the quote match: starts 3..5 (grams
    // q1..q8, q2..q9, q3..q10) -> one merged span [3, 13) = 10 tokens
    assert(out.toSeq === Seq((1L, 3, 13, 10L)))
  }

  test("repetition computes duplicate n-gram fraction and max repeat") {
    // "a b a b a b" → 3-grams: "a b a", "b a b", "a b a", "b a b" → 4 total, 2 distinct
    val out = TextAnalysis.repetition(docs((1L, "a b a b a b")), "doc_id", "text", 3)
      .collect().head
    assert(out.getLong(1) === 4L) // n_grams
    assert(out.getLong(2) === 2L) // n_distinct
    assert(out.getLong(3) === 2L) // max_repeat
    assert(math.abs(out.getDouble(4) - 0.5) < 1e-12)
  }

  test("repetition emits nothing for docs shorter than n tokens") {
    val out = TextAnalysis.repetition(docs((1L, "a b")), "doc_id", "text", 3).collect()
    assert(out.isEmpty)
  }

  test("novelty: first visit owns shared grams, unique grams always novel") {
    val out = TextAnalysis.novelty(
      docs((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w")),
      "doc_id", "text", 3, seed = 1L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._2).toSeq === Seq(2L, 2L, 2L)) // 2 trigrams each
    // twins 1 and 2: whichever md5-orders first owns both shared grams
    assert(out.filter(r => r._1 <= 2).map(_._4).toSet === Set(1.0, 0.0))
    assert(out.find(_._1 == 3L).get._4 === 1.0) // unique grams always novel
    // total novel grams = distinct grams in the corpus
    assert(out.map(_._3).sum === 4L)
    // short docs emit nothing
    assert(TextAnalysis.novelty(docs((1L, "a b")), "doc_id", "text", 3).collect().isEmpty)
  }

  test("contiguous packing assigns offsets equal to the exclusive prefix sum") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 10L), (2L, 20L), (3L, 5L), (4L, 30L), (5L, 12L))
      .toDF("id", "tok")
    val out = Packing.packContiguous(df, "id", "tok", budget = 32)
      .orderBy("id")
      .select("id", "start_offset", "seq_id", "crosses_boundary")
      .collect()
    // prefix sums: 0, 10, 30, 35, 65
    assert(out.map(_.getLong(1)).toSeq === Seq(0L, 10L, 30L, 35L, 65L))
    assert(out.map(_.getLong(2)).toSeq === Seq(0L, 0L, 0L, 1L, 2L))
    // doc 2 spans tokens [10, 30) — crosses the 32 boundary? ends at 29, no.
    // doc 3 spans [30, 35) — crosses 32. doc 4 spans [35, 65) — crosses 64.
    assert(out.map(_.getBoolean(3)).toSeq === Seq(false, false, true, true, false))
  }

  test("packing is deterministic across partition counts") {
    val s = spark
    import s.implicits._
    val df = (1L to 200L).map(i => (i, (i % 37) + 1)).toDF("id", "tok")
    val one = Packing.packContiguous(df.repartition(1), "id", "tok", 64)
      .select("id", "start_offset", "seq_id").orderBy("id").collect().toSeq
    val many = Packing.packContiguous(df.repartition(13), "id", "tok", 64)
      .select("id", "start_offset", "seq_id").orderBy("id").collect().toSeq
    assert(one === many)
  }

  test("packing never moves the full table to one partition") {
    val s = spark
    import s.implicits._
    val df = (1L to 100L).map(i => (i, 5L)).toDF("id", "tok")
    val plan = Packing.packContiguous(df, "id", "tok", 64)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    // the per-row running sum must be a window PARTITIONED by _slice —
    // an unpartitioned Window over the data moves the whole table to a
    // single task (the scale failure this operator exists to avoid)
    val dataWin = plan.linesIterator
      .find(l => l.contains("Window [") && l.contains("AS _lc_0"))
    assert(dataWin.exists(_.contains("[_slice")),
      s"per-row window is not partitioned by _slice:\n${dataWin.getOrElse(plan)}")
  }

  test("grouped prefix sum matches a plain per-group window and is partition-count invariant") {
    val s = spark
    import s.implicits._
    val df = (1L to 300L).map(i => (i, s"g${i % 3}", (i % 17) + 1)).toDF("id", "grp", "tok")
    def run(d: org.apache.spark.sql.DataFrame) =
      Packing.prefixSums(d, Seq("grp"), "id", Seq("tok"), Seq("cum_before"))
        .select("id", "cum_before").orderBy("id").collect().toSeq
    val one = run(df.repartition(1))
    val many = run(df.repartition(13))
    assert(one === many)
    // reference: plain window (fine at test scale)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp").orderBy("id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ref = df.select(col("id"), coalesce(sum("tok").over(w), lit(0L)).as("cum_before"))
      .orderBy("id").collect().toSeq
    assert(one === ref)
  }

  test("multi-column prefixSums matches plain windows (grouped and global)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 300L)
      .map(i => (i, s"g${i % 3}", (i % 17) + 1, (i % 5) + 1))
      .toDF("id", "grp", "a", "b")
    // reference: exclusive running sums over plain windows (fine at test scale)
    def before(c: String, w: org.apache.spark.sql.expressions.WindowSpec) =
      coalesce(sum(c).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    val byGrp = Window.partitionBy("grp").orderBy("id")
    // grouped: one pass over two value columns
    val multi = Packing.prefixSums(df, Seq("grp"), "id", Seq("a", "b"),
        Seq("ca", "cb"))
      .select("id", "ca", "cb").orderBy("id").collect().toSeq
    val ref = df.select(col("id"), before("a", byGrp).as("ca"), before("b", byGrp).as("cb"))
      .orderBy("id").collect().toSeq
    assert(multi === ref)
    // global (empty group list)
    val g = Packing.prefixSums(df, Nil, "id", Seq("a"), Seq("ca"))
      .select("id", "ca").orderBy("id").collect().toSeq
    val gRef = df.select(col("id"), before("a", Window.orderBy("id")).as("ca"))
      .orderBy("id").collect().toSeq
    assert(g === gRef)
    // partition-count invariance, the determinism contract of the family
    val many = Packing.prefixSums(df.repartition(13), Seq("grp"), "id",
        Seq("a", "b"), Seq("ca", "cb"))
      .select("id", "ca", "cb").orderBy("id").collect().toSeq
    assert(many === multi)
  }

  test("grouped prefix sum's per-row window is partitioned by (group, _slice)") {
    val s = spark
    import s.implicits._
    val df = (1L to 100L).map(i => (i, s"g${i % 2}", 5L)).toDF("id", "grp", "tok")
    val plan = Packing.prefixSums(df, Seq("grp"), "id", Seq("tok"), Seq("cum_before"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    val dataWin = plan.linesIterator
      .find(l => l.contains("Window [") && l.contains("AS _lc_0"))
    assert(dataWin.exists(l => l.contains("_slice") && l.contains("grp")),
      s"per-row window is not partitioned by (grp, _slice):\n${dataWin.getOrElse(plan)}")
  }

  test("prefix sums use no sampled range exchange (slice ids are pure row functions)") {
    val s = spark
    import s.implicits._
    val long = (1L to 100L).map(i => (i, 5L)).toDF("id", "tok")
    val str = (1L to 100L).map(i => (f"k$i%03d", 5L)).toDF("id", "tok")
    for (df <- Seq(Packing.packContiguous(long, "id", "tok", 64),
                   Packing.packContiguous(str, "id", "tok", 64),
                   Packing.prefixSums(long.withColumn("g", lit("g")), Seq("g"), "id",
                     Seq("tok"), Seq("cum_before")))) {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
      // the round-6 hazard: slice ids from spark_partition_id over a
      // SAMPLED range exchange. The persist that remains is perf-only —
      // the stress spec proves results are identical across recomputes.
      assert(!plan.contains("rangepartitioning"),
        s"sampled range exchange leaked back into the plan:\n$plan")
      assert(!plan.contains("spark_partition_id"),
        s"slice ids must never come from physical partition ids:\n$plan")
    }
  }

  test("string-keyed packing matches a global window and is slice-boundary independent") {
    val s = spark
    import s.implicits._
    // md5 keys (the shuffleOrder/mixByTokenBudget shape) + a shared
    // ASCII prefix (the 'doc_000…' shape the LCP skip exists for)
    val base = (1L to 300L).map(i => (i, (i % 13) + 1)).toDF("i", "tok")
    for (mk <- Seq(md5(col("i").cast("string")), format_string("doc_%06d", col("i")))) {
      val df = base.select(mk.as("id"), col("tok"))
      val out = Packing.packContiguous(df, "id", "tok", budget = Int.MaxValue)
        .select("id", "start_offset").orderBy("id").collect().toSeq
      val w = org.apache.spark.sql.expressions.Window.orderBy("id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val ref = df.select(col("id"), coalesce(sum("tok").over(w), lit(0L)).as("o"))
        .orderBy("id").collect().toSeq
      assert(out.map(r => (r.getString(0), r.getLong(1))) ===
        ref.map(r => (r.getString(0), r.getLong(1))))
    }
  }

  test("packing survives a full-double-range order key (span would overflow to Inf)") {
    val s = spark
    import s.implicits._
    val df = Seq((-1.7e308, 1L), (-5.0, 2L), (0.0, 3L), (7.5, 4L), (1.7e308, 5L))
      .toDF("id", "tok")
    val out = Packing.packContiguous(df, "id", "tok", budget = Int.MaxValue)
      .select("id", "start_offset").orderBy("id").collect()
    // max - min overflows Double; the clamped bucketing proxy must keep
    // every row correctly sliced (offsets = exclusive prefix in id order)
    assert(out.map(_.getLong(1)).toSeq === Seq(0L, 1L, 3L, 6L, 10L))
  }

  test("packing accepts timestamp and date order keys") {
    val s = spark
    import s.implicits._
    val base = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    val ts = (0 until 50).map(i =>
      (new java.sql.Timestamp(base.getTime + i * 61000L), (i % 7) + 1L))
      .toDF("id", "tok")
    val outTs = Packing.packContiguous(ts.repartition(7), "id", "tok", budget = Int.MaxValue)
      .select("id", "start_offset").orderBy("id").collect()
    val w = org.apache.spark.sql.expressions.Window.orderBy("id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val refTs = ts.select(col("id"), coalesce(sum("tok").over(w), lit(0L)).as("o"))
      .orderBy("id").collect()
    assert(outTs.map(_.getLong(1)).toSeq === refTs.map(_.getLong(1)).toSeq)
    val dates = (0 until 40).map(i => (java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(i * 3)), (i % 5) + 1L))
      .toDF("id", "tok")
    val outD = Packing.packContiguous(dates.repartition(5), "id", "tok", budget = Int.MaxValue)
      .select("id", "start_offset").orderBy("id").collect()
    val refD = dates.select(col("id"), coalesce(sum("tok").over(w), lit(0L)).as("o"))
      .orderBy("id").collect()
    assert(outD.map(_.getLong(1)).toSeq === refD.map(_.getLong(1)).toSeq)
  }

  test("prefix sums handle null order keys (nulls-first slice) without dropping rows") {
    val s = spark
    import s.implicits._
    val df = Seq((None: Option[Long], 7L), (Some(1L), 3L), (Some(2L), 4L)).toDF("id", "tok")
    val out = Packing.packContiguous(df, "id", "tok", budget = Int.MaxValue)
      .select("id", "start_offset").orderBy(col("id").asc_nulls_first).collect()
    assert(out.length === 3)
    // null sorts first: offsets 0, then 7, then 10
    assert(out.map(_.getLong(1)).toSeq === Seq(0L, 7L, 10L))
  }

  test("token-budget mix keeps a per-group priority prefix, no partial docs, stable under appends") {
    val s = spark
    import s.implicits._
    val df = (1L to 60L).map(i => (i, s"g${i % 2}", 10L)).toDF("id", "grp", "tok")
    val kept = graft.operators.Sampling.mixByTokenBudget(df, "id", "grp", "tok",
      budgetPerGroup = 100L, seed = 1L)
    // budget 100 / 10 tokens each = exactly 10 docs per group
    val byGrp = kept.groupBy("grp").agg(count(lit(1)).as("n"), sum("tok").as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(byGrp === Set(("g0", 10L, 100L), ("g1", 10L, 100L)))
    // appending rows never evicts a kept doc unless the new row out-ranks:
    // re-running on a superset keeps a subset relationship per priority
    val keptIds = kept.select("id").collect().map(_.getLong(0)).toSet
    val more = (1L to 90L).map(i => (i, s"g${i % 2}", 10L)).toDF("id", "grp", "tok")
    val kept2 = graft.operators.Sampling.mixByTokenBudget(more, "id", "grp", "tok",
        budgetPerGroup = 100L, seed = 1L)
      .select("id").collect().map(_.getLong(0)).toSet
    // the 60-row run's keeps that still rank in the top of the 90-row run
    // stay kept; overall size stays at the budget
    assert(kept2.size === 20)
    assert((kept2 -- (1L to 60L).toSet).size === (keptIds -- kept2).size)
  }

  test("temperature mix flattens budgets toward uniform and keeps each group inside its budget") {
    val s = spark
    import s.implicits._
    // group a: 900 tokens, group b: 100 — natural shares .9/.1
    val df = ((1L to 90L).map(i => (i, "a", 10L)) ++ (91L to 100L).map(i => (i, "b", 10L)))
      .toDF("id", "grp", "tok")
    val out = graft.operators.Sampling.mixByTemperature(df, "id", "grp", "tok",
      totalBudget = 500L, alpha = 0.5, seed = 1L)
    // sqrt weighting: shares 30/40 and 10/40 ⇒ budgets 375/125 (natural
    // proportions would give 450/50 — alpha<1 boosts the small group)
    val budgets = out.select("grp", "group_budget").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(budgets === Map("a" -> 375L, "b" -> 125L))
    // whole docs only, never exceeding the group budget: a keeps 37 of
    // 90 (370 ≤ 375); b's entire 100 tokens fit under its 125 budget
    val byGrp = out.groupBy("grp").agg(count(lit(1)).as("n"), sum("tok").as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(byGrp === Set(("a", 37L, 370L), ("b", 10L, 100L)))
    // alpha=1 reproduces natural proportions exactly
    val natural = graft.operators.Sampling.mixByTemperature(df, "id", "grp", "tok",
        totalBudget = 500L, alpha = 1.0, seed = 1L)
      .select("grp", "group_budget").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(natural === Map("a" -> 450L, "b" -> 50L))
  }

  test("unimax mix waterfills evenly, caps small groups at their epoch ceiling") {
    val s = spark
    import s.implicits._
    // tokens: a=1000, b=100, c=60 — caps at 1 epoch: 1000/100/60
    val df = ((1L to 100L).map(i => (i, "a", 10L)) ++
      (101L to 110L).map(i => (i, "b", 10L)) ++
      (111L to 116L).map(i => (i, "c", 10L))).toDF("id", "grp", "tok")
    val out = graft.operators.Sampling.mixByUniMax(df, "id", "grp", "tok",
      totalBudget = 400L, maxEpochs = 1.0, seed = 1L)
    // waterfill: sorted caps 60,100,1000; 60*3=180<=400 exhausted,
    // 100*2+60=260<=400 exhausted, 1000+160>400 not ⇒ c=60, b=100,
    // a=(400-160) div 1 = 240
    val budgets = out.select("grp", "group_budget").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(budgets === Map("a" -> 240L, "b" -> 100L, "c" -> 60L))
    // kept tokens never exceed the budget, whole docs only
    val byGrp = out.groupBy("grp").agg(sum("tok").as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byGrp === Map("a" -> 240L, "b" -> 100L, "c" -> 60L))
    // all-capped edge: a tiny budget exhausts every group's uniform
    // share before any cap binds ⇒ nobody is capped, level = B div n
    val tiny = graft.operators.Sampling.mixByUniMax(df, "id", "grp", "tok",
      totalBudget = 45L, maxEpochs = 1.0, seed = 1L)
    val tinyBudgets = tiny.select("grp", "group_budget").distinct().collect()
      .map(r => r.getLong(1)).toSet
    assert(tinyBudgets === Set(15L))
    // epoch cap binds everywhere when the budget dwarfs the corpus
    val big = graft.operators.Sampling.mixByUniMax(df, "id", "grp", "tok",
      totalBudget = 100000L, maxEpochs = 0.5, seed = 1L)
    val bigBudgets = big.select("grp", "group_budget").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(bigBudgets === Map("a" -> 500L, "b" -> 50L, "c" -> 30L))
  }

  test("overlap chunking covers every token, overlaps by size - stride, last chunk short") {
    // 7 tokens, size 4, stride 2 -> starts 0,2,4,6: chunks of 4,4,3,1 tokens
    val out = Packing.chunkTokens(docs((1L, "t0 t1 t2 t3 t4 t5 t6"), (2L, "")),
        "doc_id", "text", size = 4, stride = 2)
      .orderBy("doc_id", "chunk_id").collect()
    assert(out.map(_.getLong(0)).forall(_ === 1L)) // empty doc emits nothing
    assert(out.map(_.getString(2)).toSeq === Seq(
      "t0 t1 t2 t3", "t2 t3 t4 t5", "t4 t5 t6", "t6"))
    assert(out.map(_.getLong(3)).toSeq === Seq(4L, 4L, 3L, 1L))
  }

  test("weighted sampling: w=1 always kept, w=0 never, ~w in between, deterministic") {
    val s = spark
    import s.implicits._
    val df = (1L to 3000L).map(i =>
      (i, if (i <= 1000) 1.0 else if (i <= 2000) 0.0 else 0.5)).toDF("id", "w")
    val kept = graft.operators.Sampling.weightedSample(df, "id", col("w"), seed = 9L)
      .collect().map(_.getLong(0))
    assert(kept.count(_ <= 1000) === 1000) // w=1: every row
    assert(!kept.exists(i => i > 1000 && i <= 2000)) // w=0: none
    val half = kept.count(_ > 2000)
    assert(half > 400 && half < 600, s"w=0.5 kept $half of 1000")
    // decision is a pure function of (seed, key, weight)
    val again = graft.operators.Sampling.weightedSample(df, "id", col("w"), seed = 9L)
      .collect().map(_.getLong(0))
    assert(again.sorted.toSeq === kept.sorted.toSeq)
    // a different seed draws a different realization of the same rates
    val other = graft.operators.Sampling.weightedSample(df, "id", col("w"), seed = 10L)
      .collect().map(_.getLong(0)).filter(_ > 2000).toSet
    assert(other !== kept.filter(_ > 2000).toSet)
  }

  test("epoch expansion: complete passes + remainder prefix, exact-multiple edge") {
    val s = spark
    import s.implicits._
    val df = (1L to 5L).map(i => (i, "a", 10L)).toDF("id", "grp", "tok")
    def budgets(b: Long) = Seq(("a", b)).toDF("grp", "group_budget")
    // 125 over 50 tokens: 2 complete passes + a 25-token prefix (2 docs)
    val out = graft.operators.Sampling.expandEpochs(df, "id", "grp", "tok",
      budgets(125L), seed = 1L).collect()
    assert(out.length === 12)
    val byEpoch = out.groupBy(_.getAs[Long]("epoch")).view.mapValues(_.length).toMap
    assert(byEpoch === Map(0L -> 5, 1L -> 5, 2L -> 2))
    // partial pass is the same priority prefix every mixer selects
    val partial = out.filter(_.getAs[Long]("epoch") == 2L)
      .map(_.getAs[Long]("id")).toSet
    val prefix = graft.operators.Sampling.mixByTokenBudget(df, "id", "grp", "tok",
      budgetPerGroup = 25L, seed = 1L).collect().map(_.getAs[Long]("id")).toSet
    assert(partial === prefix)
    // sub-corpus budget: pure prefix at epoch 0
    val small = graft.operators.Sampling.expandEpochs(df, "id", "grp", "tok",
      budgets(30L), seed = 1L).collect()
    assert(small.length === 3 && small.forall(_.getAs[Long]("epoch") == 0L))
    // exact multiple: no partial rows at all
    val exact = graft.operators.Sampling.expandEpochs(df, "id", "grp", "tok",
      budgets(100L), seed = 1L).collect()
    assert(exact.length === 10)
    assert(exact.map(_.getAs[Long]("epoch")).toSet === Set(0L, 1L))
  }

  test("content-defined chunks cover every token in order and resynchronize after an edit") {
    val body = (1 to 200).map(i => s"tok${i * 7 % 97}x$i").mkString(" ")
    val out = Packing.chunkContentDefined(docs((1L, body)), "doc_id", "text",
        gramWords = 4, zeroHexDigits = 1)
      .orderBy("chunk_id").collect()
    // chunks partition the token stream exactly
    assert(out.map(_.getString(2)).mkString(" ") === body)
    assert(out.map(_.getLong(3)).sum === 200L)
    // CDC property: prepending tokens changes early chunks only — every
    // boundary after the edit window falls at the same CONTENT position,
    // so late chunk texts reappear verbatim
    val edited = "zz1 zz2 zz3 " + body
    val out2 = Packing.chunkContentDefined(docs((1L, edited)), "doc_id", "text",
        gramWords = 4, zeroHexDigits = 1)
      .orderBy("chunk_id").collect().map(_.getString(2))
    val origTexts = out.map(_.getString(2))
    assert(origTexts.length > 3, s"fixture too short: ${origTexts.length} chunks")
    // all but the first original chunk must survive the edit verbatim
    assert(origTexts.drop(1).forall(out2.contains),
      s"late chunks must resynchronize:\norig=${origTexts.toSeq}\nedited=${out2.toSeq}")
  }

  test("content-defined chunking: short docs emit one whole-doc chunk, empty emit none") {
    val out = Packing.chunkContentDefined(docs((1L, "a b c"), (2L, "")),
      "doc_id", "text", gramWords = 4, zeroHexDigits = 1).collect()
    assert(out.length === 1)
    assert(out.head.getLong(0) === 1L && out.head.getString(2) === "a b c")
  }

  test("chunking a doc shorter than one window emits exactly one full-doc chunk") {
    val out = Packing.chunkTokens(docs((1L, "a b")), "doc_id", "text", 8, 8).collect()
    assert(out.length === 1)
    assert(out(0).getString(2) === "a b" && out(0).getLong(3) === 2L)
  }

  test("int8 quantization bounds components to [-127, 127] and hits ±127 at the extremes") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Array(0.5f, -2.0f, 1.0f)), (2L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Vectors.quantizeInt8(df, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    val q1 = out(0).getSeq[Long](2)
    // scale = 127/2; 0.5 → 31.75+0.5 floor 32; -2 → -127; 1 → 63.5+0.5 floor 64
    assert(q1 === Seq(32L, -127L, 64L))
    assert(math.abs(out(0).getDouble(1) - 63.5) < 1e-12)
    // zero vector → zero scale, zero components (no division blowup)
    assert(out(1).getDouble(1) === 0.0)
    assert(out(1).getSeq[Long](2) === Seq(0L, 0L, 0L))
  }

  test("cosine ranking over quantized vectors matches the float ranking on separated clusters") {
    val s = spark
    import s.implicits._
    val base = Seq(
      (0L, Array(1.0f, 0.1f, 0.0f, 0.2f)),
      (1L, Array(0.9f, 0.12f, 0.01f, 0.19f)), // near doc 0
      (2L, Array(0.0f, 1.0f, 0.9f, 0.0f)),
      (3L, Array(0.01f, 0.95f, 1.0f, 0.02f))) // near doc 2
      .toDF("vec_id", "embedding")
    def top1(df: org.apache.spark.sql.DataFrame, vc: String) =
      Similarity.cosineTopK(df, "vec_id", vc, df, "vec_id", vc, k = 1)
        .select("query_id", "neighbor_id").orderBy("query_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = top1(base, "embedding")
    val q = Vectors.quantizeInt8(base, "vec_id", "embedding")
      .select(col("vec_id"), transform(col("qvec"), _.cast("float")).as("qvec"))
    assert(top1(q, "qvec") === exact)
  }

  test("shuffle order is a permutation, seed-dependent, and partition-invariant") {
    val s = spark
    import s.implicits._
    val df = (1L to 300L).map(i => (i, s"doc$i")).toDF("id", "text")
    val pos = Sampling.shuffleOrder(df, "id", seed = 42L)
      .select("id", "shuffle_pos").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // a permutation of 0..n-1
    assert(pos.map(_._2).sorted.toSeq === (0L until 300L))
    // not the identity order (md5 scrambles)
    assert(pos.count { case (id, p) => p == id - 1 } < 30)
    // identical across partitionings; different under another seed
    val repart = Sampling.shuffleOrder(df.repartition(7), "id", 42L)
      .select("id", "shuffle_pos").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(repart.toSeq === pos.toSeq)
    val other = Sampling.shuffleOrder(df, "id", 43L)
      .select("id", "shuffle_pos").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(other.toSeq !== pos.toSeq)
  }

  test("md5-derived simhash signatures agree between 60-bit fold and direct bit votes") {
    val df = docs((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "omega psi chi phi"))
    val sigs = Dedup.simhashSignaturesWith(df, "doc_id", "text",
      t => conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long"),
      bits = 60)
      .orderBy("id").collect()
    // identical docs → identical signatures; different docs → different
    assert(sigs(0).getLong(1) === sigs(1).getLong(1))
    assert(sigs(0).getLong(1) !== sigs(2).getLong(1))
    // 60-bit signature: top 4 bits must be zero
    assert((sigs(0).getLong(1) >>> 60) === 0L)
  }

  test("pigeonhole blocking over 60-bit sigs finds all pairs within the Hamming bound") {
    val s = spark
    import s.implicits._
    // hand-built signatures: ids 1/2 differ in 2 bits, 1/3 in 30 bits
    val sigs = Seq(
      (1L, 0x0F0F0F0F0F0F0FL),
      (2L, 0x0F0F0F0F0F0F0CL), // flips 2 low bits
      (3L, 0x00F0F0F0F0F0F0L)
    ).toDF("id", "sig")
    val pairs = Dedup.nearDupPairsFromSigs(sigs, maxHamming = 3, chunks = 4, bits = 60)
      .orderBy("a", "b").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    assert(pairs.head.getInt(2) === 2)
  }

  test("systematic PPS sample: exactly k draws, window-reference equal, partition-invariant") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val df = (1L to 500L).map(i => (i, rnd.nextInt(40).toLong)).toDF("id", "w")
    val k = 37
    val got = graft.operators.Sampling.systematicSample(df, "id", "w", k, seed = 3L)
      .select("id", "n_picks").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // total multiplicity is exactly k (tick placement telescopes)
    assert(got.map(_._2).sum === k.toLong)
    // zero-weight rows are never drawn
    val zeros = df.filter(col("w") === 0).select("id").collect().map(_.getLong(0)).toSet
    assert(got.forall(r => !zeros.contains(r._1)))
    // equals a plain single-window reference of the same arithmetic
    import org.apache.spark.sql.expressions.Window
    val h = md5(concat_ws("#", lit(3L), col("id").cast("string")))
    val ref = df.withColumn("h", h)
      .withColumn("cum", sum(col("w")).over(
        Window.orderBy("h").rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("w"))
      .crossJoin(broadcast(df.agg(sum("w").as("tw"))))
      .withColumn("n_picks", expr(s"((cum + w) * ${k}L + tw - 1) DIV tw - (cum * ${k}L + tw - 1) DIV tw"))
      .filter(col("n_picks") > 0)
      .select("id", "n_picks").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq === ref.toSeq)
    // partition-count invariance (cluster-topology proxy)
    val wide = graft.operators.Sampling.systematicSample(df.repartition(13), "id", "w", k, seed = 3L)
      .select("id", "n_picks").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(wide.toSeq === got.toSeq)
    // a heavy row (w > W/k) is drawn with multiplicity
    val heavy = df.unionByName(Seq((9999L, 5000L)).toDF("id", "w"))
    val hGot = graft.operators.Sampling.systematicSample(heavy, "id", "w", k, seed = 3L)
      .filter(col("id") === 9999L).select("n_picks").collect()
    assert(hGot.nonEmpty && hGot.head.getLong(0) > 1L)
  }
}
