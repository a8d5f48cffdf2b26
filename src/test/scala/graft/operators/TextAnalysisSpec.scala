package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("tokenizer drops empties from repeated/trailing whitespace") {
    val out = docs((1L, "a  b c ")).select(TextAnalysis.tokens(col("text"))).head().getSeq[String](0)
    assert(out === Seq("a", "b", "c"))
  }

  test("quality metrics on a hand-computed document") {
    val text = "the cat sat" // 11 chars, 9 alpha, 2 spaces, 3 tokens, 1 stopword
    val m = TextAnalysis.qualityMetrics(docs((1L, text)), "doc_id", "text", Seq("the"))
      .head()
    assert(m.getAs[Double]("alpha_ratio") === 9.0 / 11)
    assert(m.getAs[Double]("space_ratio") === 2.0 / 11)
    assert(m.getAs[Double]("stopword_ratio") === 1.0 / 3)
    assert(m.getAs[Double]("avg_token_len") === 3.0)
  }

  test("BPE-ish tokenizer separates letter, digit and punctuation runs") {
    val out = docs((1L, "the cats ran 42 times, fast!"))
      .select(TextAnalysis.bpeishTokens(col("text"))).head().getSeq[String](0)
    assert(out === Seq("the", "cats", "ran", "42", "times", ",", "fast", "!"))
  }

  test("BPE fit: hand-computed merges, overlap counting, greedy L2R rewrite") {
    // "aaa"x2 + "ab": round 1 counts (a,a) 4x (overlapping, 2 per "aaa")
    // vs (a,b) 1x; round 2 sees "aaa" as [aa, a] (greedy L2R), so (aa,a)
    // wins 2x over (a,b) 1x; round 3 fuses (a,b); nothing left
    val d = docs((1L, "aaa aaa ab"))
    val merges = TextAnalysis.bpeFitMerges(d, "text", 10)
    assert(merges === Seq((1, "a", "a", 4L), (2, "aa", "a", 2L), (3, "a", "b", 1L)))
    // encode: each word fuses to exactly one learned token
    val enc = TextAnalysis.bpeEncodeCounts(d, "doc_id", "text",
      merges.map { case (_, l, r, _) => (l, r) }).head()
    assert(enc.getAs[Long]("n_words") === 3L)
    assert(enc.getAs[Long]("n_tokens") === 3L)
    // with NO merges, tokens = characters
    val raw = TextAnalysis.bpeEncodeCounts(d, "doc_id", "text", Seq.empty).head()
    assert(raw.getAs[Long]("n_tokens") === 8L)
  }

  test("BPE fit tie-break is total-order: equal counts pick the lexicographically smallest pair") {
    val d = docs((1L, "xy xy yz yz"))
    val first = TextAnalysis.bpeFitMerges(d, "text", 1).head
    assert(first === ((1, "x", "y", 2L)), s"got $first")
  }

  test("BPE fit stops early when every word is a single symbol") {
    val merges = TextAnalysis.bpeFitMerges(docs((1L, "ab ab cd")), "text", 100)
    assert(merges.map(m => (m._2, m._3)) === Seq(("a", "b"), ("c", "d")))
  }

  test("mapPartitions batch decode: init once per partition, bit-identical to the expression stub") {
    val s = spark
    import s.implicits._
    val texts = (1L to 40L).map(i => (i, s"payload number $i"))
    val df = Multimodal.withPayload(texts.toDF("doc_id", "text").repartition(4),
      "text", "text/plain")
    val inits = spark.sparkContext.longAccumulator("codec_inits")
    val base = Multimodal.stubCodec(dim = 6)
    val counting = base.copy(init = () => { inits.add(1); base.init() })
    // no orderBy before collect: range partitioning would add a sampling
    // pass that re-runs the map stage and double-counts the inits
    val batched = Multimodal.decodeBatched(df, "payload", counting)
      .select("doc_id", "features")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).sortBy(_._1)
    // codec handle opened once per partition, not once per row
    assert(inits.value === 4)
    val expr = Multimodal.extractFeatures(df, "payload", dim = 6)
      .select("doc_id", "features")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).sortBy(_._1)
    assert(batched === expr) // JVM codec == codegen expression, bit for bit
  }

  test("bmp round trip: encode, header decode, pixel mean; codec parity; foreign bytes safe") {
    val s = spark
    import s.implicits._
    // width multiple of 4 (stride-aligned), known pixels
    val px = Array.tabulate[Byte](64)(i => (i * 3).toByte)
    val df = Seq((1L, px)).toDF("id", "px")
      .select(col("id"),
        Multimodal.encodeBmp(lit(8L), lit(5L), col("px")).as("payload"))
    val h = df.select(col("id"), Multimodal.decodeBmpHeader(col("payload")).as("h"),
        octet_length(col("payload")).as("len"),
        Multimodal.meanPixel(col("payload"), 16).as("mp"))
      .head()
    val hd = h.getStruct(1)
    assert(hd.getString(0) === "bmp")
    assert(hd.getLong(1) === 8L && hd.getLong(2) === 5L && hd.getLong(3) === 8L)
    assert(hd.getBoolean(4)) // declared size == actual == 54 + w*h
    assert(h.getInt(2) === 54 + 40)
    // mean of first 16 pixel bytes: (0+3+...+45)/16
    val wantMean = (0 until 16).map(_ * 3).sum / 16.0
    assert(math.abs(h.getDouble(3) - wantMean) < 1e-12)
    // JVM codec parses the same bytes to the same numbers
    val codec = Multimodal.bmpCodec(16)
    val feats = Multimodal.decodeBatched(df, "payload", codec)
      .select("features").head().getSeq[Float](0)
    assert(feats === Seq(8f, 5f, wantMean.toFloat))
    // foreign bytes: no throw, format unknown, null dims, codec sentinel
    val junk = Seq((2L, "not a bitmap")).toDF("id", "s")
      .select(col("id"), col("s").cast("binary").as("payload"))
    val jh = junk.select(Multimodal.decodeBmpHeader(col("payload")).as("h")).head().getStruct(0)
    assert(jh.getString(0) === "unknown" && jh.isNullAt(1) && !jh.getBoolean(4))
    val jf = Multimodal.decodeBatched(junk, "payload", codec)
      .select("features").head().getSeq[Float](0)
    assert(jf === Seq(-1f, -1f, -1f))
  }

  test("top terms ranks by count desc with lexicographic tiebreak") {
    val out = TextAnalysis.topTerms(docs((1L, "b a b c a b")), "text", 2).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("b", 3L), ("a", 2L)))
  }

  test("md5 fingerprint is case/trim canonical and stable") {
    val out = docs((1L, "  Hello World "), (2L, "hello world"))
      .select(TextAnalysis.fingerprintMd5(col("text")).as("f")).collect()
    assert(out(0).getString(0) === out(1).getString(0))
    assert(out(0).getString(0) === "5eb63bbbe01eeed093cb22bb8f5acdc3") // md5("hello world")
  }

  test("cleanText strips tags/control chars, collapses spaces; redact scrubs emails") {
    val out = docs((1L, "<b>hello</b>  world  <br/>from a@b.io now"))
      .select(
        TextAnalysis.cleanText(col("text")).as("c"),
        TextAnalysis.redact(TextAnalysis.cleanText(col("text")),
          TextAnalysis.EmailPattern).as("r"),
        TextAnalysis.redact(lit("call 1234567 or 42"),
          TextAnalysis.LongDigitsPattern, "<num>").as("d"))
      .head()
    assert(out.getString(0) === "hello world from a@b.io now")
    assert(out.getString(1) === "hello world from [REDACTED] now")
    assert(out.getString(2) === "call <num> or 42")
  }

  test("language-ID classifies by trigram-profile overlap, deterministically") {
    val labeled = {
      val s = spark
      import s.implicits._
      Seq(
        (1L, "aaaa aaaa aaaa", "aa"), (2L, "aaab aaaa aaaa", "aa"),
        (3L, "zzzz zzzz zzzz", "zz"), (4L, "zzzy zzzz zzzz", "zz")).toDF("doc_id", "text", "lang")
    }
    val profiles = TextAnalysis.fitLanguageProfiles(labeled, "text", "lang", topK = 10)
    assert(profiles.keySet === Set("aa", "zz"))
    val preds = TextAnalysis.classifyLanguage(
      docs((10L, "aaaa aaaa"), (11L, "zzzz zzzy")), "doc_id", "text", profiles)
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(preds.toSeq === Seq("aa", "zz"))
  }

  test("tfidf: hand-computed scores, per-doc top-k, term-asc ties") {
    val s = spark
    import s.implicits._
    // 4 docs; "common" in all (idf = ln 1 = 0), "rare" only in doc 1
    val df = Seq(
      (1L, "common rare rare"), (2L, "common"), (3L, "common"), (4L, "common half"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(df, "doc_id", "text", 2)
      .orderBy("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(5)))
    // doc 1: rare tf=2 idf=ln(4/1) -> 2 ln 4; common tfidf 0
    assert(out(0)._3 === "rare")
    assert(math.abs(out(0)._4 - 2 * math.log(4.0)) < 1e-12)
    assert(out(1) === ((1L, 2, "common", 0.0)))
    // doc 4: half tf=1 idf=ln 4 beats common's 0
    val doc4 = out.filter(_._1 == 4L)
    assert(doc4.head._3 === "half" && math.abs(doc4.head._4 - math.log(4.0)) < 1e-12)
  }

  test("stratified sample: per-stratum fractions, key-stable, default applies") {
    val s = spark
    import s.implicits._
    val df = (1L to 3000L).map(i => (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr"))
      .toDF("id", "lang")
    val kept = Sampling.stratifiedSample(df, "id", "lang",
      Map("en" -> 1.0, "de" -> 0.2), defaultFraction = 0.0)
    val census = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(census("en") === 1000L)                    // fraction 1 keeps all
    assert(census("de") > 100 && census("de") < 320)  // ~20%
    assert(!census.contains("fr"))                    // default 0 drops all
    // key-stability: kept 'de' ids are exactly the plain 20% sample of de rows
    val deKept = kept.filter($"lang" === "de").collect().map(_.getLong(0)).toSet
    val dePlain = Sampling.deterministicSample(df.filter($"lang" === "de"), "id", 0.2)
      .collect().map(_.getLong(0)).toSet
    assert(deKept === dePlain)
  }

  test("unigram LM score is hand-computable on a tiny corpus") {
    // corpus tokens: a a a b -> p(a)=3/4, p(b)=1/4
    val out = TextAnalysis.unigramLmScore(
      docs((1L, "a a"), (2L, "a b"), (3L, "")), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length === 2) // token-less doc 3 absent
    assert(out(0).getLong(1) === 2L)
    assert(math.abs(out(0).getDouble(2) - (-math.log(0.75))) < 1e-12)
    val expected2 = (-math.log(0.75) - math.log(0.25)) / 2
    assert(math.abs(out(1).getDouble(2) - expected2) < 1e-12)
  }

  test("tokenizer fertility is hand-computable per group") {
    val s = spark
    import s.implicits._
    // "ab cd, 12": 3 whitespace words; bpeish ab|cd|,|12 = 4; 9 chars
    val df = Seq((1L, "en", "ab cd, 12")).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.tokenizerFertility(df, "lang", "text").collect().head
    assert(out.getLong(1) === 1L && out.getLong(2) === 3L)
    assert(out.getLong(3) === 4L && out.getLong(4) === 9L)
    assert(out.getDouble(5) === math.floor(4.0 / 3 * 1e6 + 0.5) / 1e6)
    assert(out.getDouble(6) === 2.25)
  }

  test("bigram LM with backoff is hand-computable: seen ratio, unseen backs off") {
    // fit = even doc 2: "a b a c" — bigrams {a b, b a, a c} each once;
    // unigrams a:2, b:1, c:1 -> N=4, V=3
    val out = TextAnalysis.bigramLmScore(
      docs((1L, "a b z"), (2L, "a b a c"), (3L, "x")),
      "doc_id", "text", pmod(col("doc_id"), lit(2)) === 0, alpha = 0.4)
      .orderBy("doc_id").collect()
    assert(out.length === 2) // single-token doc 3 has no transitions
    // doc 1: "a b" seen (1/2); "b z" unseen -> 0.4*(0+1)/(4+3)
    val d1 = (-math.log(0.5) - math.log(0.4 / 7)) / 2
    assert(out(0).getLong(1) === 2L)
    assert(math.abs(out(0).getDouble(2) - math.floor(d1 * 1e6 + 0.5) / 1e6) < 1e-12)
    // doc 2 (inside fit): all seen -> (1/2, 1/1, 1/2)
    val d2 = (-math.log(0.5) - math.log(1.0) - math.log(0.5)) / 3
    assert(out(1).getLong(1) === 3L)
    assert(math.abs(out(1).getDouble(2) - math.floor(d2 * 1e6 + 0.5) / 1e6) < 1e-12)
  }

  test("line dedup removes corpus-frequent lines, keeps unique prose in order") {
    val banner = "subscribe now"
    val d = docs(
      (1L, s"$banner\nunique one\nalso unique"),
      (2L, s"$banner\nother prose"),
      (3L, s"$banner"),
      (4L, "standalone doc"))
    val out = Dedup.lineDedup(d, "doc_id", "text", minDocFreq = 3)
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) === "unique one\nalso unique")
    assert(out(0).getLong(2) === 3L && out(0).getLong(3) === 1L)
    assert(out(1).getString(1) === "other prose")
    // all-boilerplate doc survives with empty text
    assert(out(2).getString(1) === "" && out(2).getLong(3) === 1L)
    assert(out(3).getString(1) === "standalone doc" && out(3).getLong(3) === 0L)
  }

  test("language-ID ties resolve to the lexicographically first language") {
    // identical profiles for every language -> every doc scores equal
    val profiles = Map("de" -> Seq("abc"), "en" -> Seq("abc"), "fr" -> Seq("abc"))
    val preds = TextAnalysis.classifyLanguage(
      docs((1L, "abcabc"), (2L, "xyz")), "doc_id", "text", profiles)
      .orderBy("doc_id").collect().map(_.getString(1))
    // doc 1 matches all three equally; doc 2 matches none (score 0 everywhere)
    assert(preds.toSeq === Seq("de", "de"))
  }

  test("tfidfCosinePairs: identical docs score 1, disjoint docs are absent") {
    val df = docs(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota"))
    val out = TextAnalysis.tfidfCosinePairs(df, "doc_id", "text",
        threshold = 0.1, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length === 1)
    assert(out.head._1 === 1L && out.head._2 === 2L)
    assert(math.abs(out.head._3 - 1.0) < 1e-12)
  }

  test("tfidfCosinePairs: maxDf prunes corpus-wide terms from candidates") {
    // 'the' appears in all 4 docs; with maxDf = 3 it is dropped, so docs
    // sharing ONLY 'the' never become a candidate pair
    val df = docs(
      (1L, "the unique1 unique2"),
      (2L, "the unique3 unique4"),
      (3L, "the shared shared2"),
      (4L, "the shared shared2"))
    val out = TextAnalysis.tfidfCosinePairs(df, "doc_id", "text",
        threshold = 0.01, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet === Set((3L, 4L)))
  }

  test("bm25: rare term dominates idf, longer docs are length-penalized, non-matches absent") {
    // 'rare' in 1 of 4 docs, 'common' in 3 of 4; doc 4 matches neither
    val df = docs(
      (1L, "rare common filler"),
      (2L, "common filler pad"),
      (3L, "common filler pad pad pad pad pad pad pad"),
      (4L, "filler pad only"))
    val out = TextAnalysis.bm25TopK(df, "doc_id", "text",
        Seq("rare", "common"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L), "rank order")
    assert(out.map(t => t._1 -> t._2).toMap === Map(1L -> 2L, 2L -> 1L, 3L -> 1L),
      "n_match counts matched query terms")
    // docs 2 and 3 have identical tf for 'common'; 3 is longer, so b>0
    // must push it strictly below 2
    val score = out.map(t => t._1 -> t._3).toMap
    assert(score(2L) > score(3L), "length normalization")
    assert(score(1L) > score(2L), "rare-term idf dominates")
  }

  test("dsir: target-heavy terms score positive, and a non-target doc full of them outranks the seeds") {
    // target = docs 1-2; 'aa' is target-heavy, 'bb' corpus-typical.
    // doc 4 is NOT in the target but looks target-like — DSIR's whole
    // point is that it must score highest anyway.
    val df = docs(
      (1L, "aa aa"), (2L, "aa bb"), (3L, "bb bb"), (4L, "aa aa aa"))
    val out = TextAnalysis.dsirImportance(df, "doc_id", "text",
        col("doc_id") <= 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(4L) > out(1L) && out(1L) > out(2L) && out(2L) > out(3L),
      s"ordering must follow target-affinity: $out")
    assert(out(4L) > 0 && out(3L) < 0, s"sign must split on affinity: $out")
  }

  test("collocations: hand-computed PMI, minCount guard, adjacency only") {
    val df = docs((1L, "a b a b"), (2L, "a b c"))
    // bigrams: (a,b)x3, (b,a)x1, (b,c)x1 — n_bi = 5, n_uni = 7,
    // unigrams a:3 b:3 c:1
    val all = TextAnalysis.collocations(df, "text", minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(all.keySet === Set(("a", "b"), ("b", "a"), ("b", "c")))
    val (nab, pmi) = all(("a", "b"))
    assert(nab === 3L)
    val expected = math.log((3.0 / 5.0) / ((3.0 / 7.0) * (3.0 / 7.0)))
    assert(math.abs(pmi - expected) < 1e-12, s"got $pmi want $expected")
    // minCount prunes the singletons before the unigram join
    val top = TextAnalysis.collocations(df, "text", minCount = 2L).collect()
    assert(top.length === 1 && top.head.getString(0) === "a")
  }
}
