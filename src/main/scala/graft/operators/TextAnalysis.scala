package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Report
import graft.operators.Materialize._

/** Text-analysis operators for document pipelines (SURVEY.md §2.C row 13):
  * token statistics, top terms, language census, quality scoring,
  * fingerprinting, and an n-gram language-ID heuristic. Everything is
  * built-in Column expressions (codegen'd, distributable); the only
  * driver-side step is the tiny per-language profile table for language
  * ID, which ships to executors as a literal.
  */
object TextAnalysis {

  /** Whitespace tokens, empties dropped (multi-space safe). */
  def tokens(text: Column): Column = filter(split(text, " "), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish pre-tokenization: letter runs, digit runs, and punctuation
    * runs as separate tokens (the segmentation BPE vocabularies are
    * trained over) — the corpus-token-count estimator for LLM-pipeline
    * budgeting. Pattern kept to RE2-compatible classes so SQL oracles
    * reproduce it exactly. */
  val BpeishPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"

  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpeishPattern), lit(0)) // group 0: whole match

  def bpeishTokenCount(text: Column): Column = size(bpeishTokens(text)).cast("long")

  /** Tokenizer FERTILITY census per group (usually language): BPE-ish
    * tokens per whitespace word and characters per BPE-ish token — the
    * standard diagnostic for how well a tokenizer's segmentation fits
    * each slice of a multilingual corpus (high fertility = the slice
    * pays more sequence length per word; budget and mixing decisions
    * should see it). One hash aggregation, |groups| output rows; ratios
    * round to 1e-6 so any engine replays the division, and a degenerate
    * group (all-empty documents ⇒ zero words or tokens) gets an EXPLICIT
    * null ratio rather than riding engine-specific divide-by-zero
    * behavior. */
  def tokenizerFertility(df: DataFrame, groupCol: String,
      textCol: String): DataFrame =
    df.groupBy(groupCol).agg(
      count(lit(1)).as("n_docs"),
      sum(tokenCount(col(textCol))).as("n_words"),
      sum(bpeishTokenCount(col(textCol))).as("n_tokens"),
      sum(length(col(textCol)).cast("long")).as("n_chars"))
    .select(col(groupCol), col("n_docs"), col("n_words"), col("n_tokens"),
      col("n_chars"),
      when(col("n_words") > 0,
        floor(col("n_tokens").cast("double") / col("n_words") * 1e6 + 0.5) / 1e6)
        .as("tokens_per_word"),
      when(col("n_tokens") > 0,
        floor(col("n_chars").cast("double") / col("n_tokens") * 1e6 + 0.5) / 1e6)
        .as("chars_per_token"))

  /** Delimiter for learned-BPE symbol strings ([[bpeFit]]): every symbol
    * is wrapped D sym D (D = U+0001), so a merge of (l, r) is one
    * literal non-overlapping left-to-right string replace of
    * "DlDDrD" with "DlrD" — each symbol carries its own boundary on both
    * sides, so adjacent merge sites never share a delimiter and a plain
    * replace() (Spark and ANSI SQL alike) realizes exactly the greedy
    * left-to-right merge scan of the published BPE algorithm (Sennrich,
    * Haddow & Birch 2016). The delimiter char is stripped from input
    * words first. */
  val BpeDelim = "\u0001"

  /** A word as its delimiter-wrapped character-symbol string (the state
    * a BPE merge table rewrites). Chars are enumerated with the same
    * RE2-safe `.` class on both engines, so the SQL oracle replays it. */
  private def bpeSymbolize(word: Column): Column =
    concat(lit(BpeDelim),
      array_join(regexp_extract_all(word, lit("."), lit(0)), BpeDelim + BpeDelim),
      lit(BpeDelim))

  /** The distinct-word frequency table the BPE fit iterates over —
    * vocabulary-sized under any Zipfian text, built by one corpus-wide
    * hash aggregation. Words are delimiter-stripped (empty results
    * dropped) so the delimiter trick ([[BpeDelim]]) stays collision-free. */
  private def bpeWordFreqs(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("word"))
      .select(replace(col("word"), lit(BpeDelim), lit("")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Distributed BPE FIT — the learned-tokenizer unit every production
    * token-budget decision uses, as an iterative Spark program (the one
    * LLM-pipeline operator class the regex pre-tokenizer family above
    * cannot represent). Returns the first `numMerges` merge rules
    * (rank, lhs, rhs, cnt), each the most frequent adjacent symbol pair
    * over the corpus at that step, with a TOTAL-ORDER tie-break
    * (count desc, then (lhs, rhs) lexicographic asc) so the fitted
    * table is deterministic across partitionings and replays — the
    * same deterministic-argmax discipline as
    * [[graft.operators.Graph.labelPropagation]].
    *
    * Scale shape: everything iterates over the distinct-word table of
    * [[bpeWordFreqs]]. Each merge round is one pair-count aggregation
    * (explode of zipped adjacent symbols, map-side combined) plus a
    * LIMIT-1 argmax whose single row is the only thing the driver ever
    * collects, and one codegen'd string-replace rewrite of the symbol
    * column, localCheckpointed per round so round k+1 scans
    * materialized state instead of re-deriving k rounds of lineage.
    * Pair counting counts overlapping occurrences (aab has (a,a) and
    * (a,b)) and the rewrite merges greedy left-to-right, both per the
    * published algorithm.
    *
    * Depth note (VERDICT r16 #1): one Spark job pair PER MERGE is the
    * right shape only while the fit is oracle-replayable or the vocab
    * exceeds driver memory — production depths (32k+) go through
    * [[bpeFitMergesAuto]], which collects the vocabulary-sized word
    * table under the [[SizeGuard]] bound and runs the IDENTICAL
    * algorithm driver-side ([[bpeFitMergesLocal]], equivalence
    * unit-pinned bit-identical), falling back to this loop only when
    * the vocabulary genuinely doesn't fit. */
  def bpeFitMerges(df: DataFrame, textCol: String,
      numMerges: Int): Seq[(Int, String, String, Long)] = {
    require(numMerges >= 1 && numMerges <= 4096,
      s"numMerges must be in [1, 4096]: $numMerges")
    val D = BpeDelim
    var syms = bpeWordFreqs(df, textCol)
      .select(bpeSymbolize(col("word")).as("sym"), col("freq"))
      .barrier()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var done = false
    try {
      while (r <= numMerges && !done) {
        val arr = split(trim(col("sym"), D),
          java.util.regex.Pattern.quote(D + D))
        val best = syms
          .select(col("freq"), arr.as("l_"))
          .select(col("freq"), col("l_"),
            slice(col("l_"), lit(2), greatest(size(col("l_")) - 1, lit(0))).as("r_"))
          .select(col("freq"), explode(arrays_zip(col("l_"), col("r_"))).as("z"))
          .filter(col("z.r_").isNotNull)
          .groupBy(col("z.l_").as("lhs"), col("z.r_").as("rhs"))
          .agg(sum("freq").as("cnt"))
          .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
          .limit(1).collect()
        if (best.isEmpty) done = true // every word fused to one symbol
        else {
          val l = best(0).getString(0)
          val rr = best(0).getString(1)
          val cnt = best(0).getLong(2)
          merges += ((r, l, rr, cnt))
          val prev = syms
          syms = syms.withColumn("sym",
              replace(col("sym"), lit(D + l + D + D + rr + D), lit(D + l + rr + D)))
            .barrier()
          release(prev)
          r += 1
        }
      }
    } finally release(syms)
    merges.result()
  }

  /** Code points the symbolizer DROPS: Java regex `.` (the engine's
    * `regexp_extract_all(word, '.')`) matches every character except
    * the five line terminators, so a terminator inside a word never
    * becomes a symbol. The local fit and the fused encode replicate
    * this exactly — symbol-level parity with the distributed fit is
    * bit-checked in units. */
  private[graft] def isDroppedCp(cp: Int): Boolean =
    cp == '\n' || cp == '\r' || cp == 0x85 || cp == 0x2028 || cp == 0x2029

  /** Spark UTF8String / code-point string comparison (binary UTF-8
    * order ≡ code point order — NOT java.lang.String's UTF-16 order,
    * which ranks supplementary characters below U+E000..U+FFFF). The
    * fit tie-break must use the engine's order to stay bit-identical. */
  private[graft] def cpCompare(a: String, b: String): Int = {
    val la = a.length; val lb = b.length
    var i = 0; var j = 0
    while (i < la && j < lb) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(la - i, lb - j)
  }

  /** DRIVER-LOCAL BPE fit over a collected (word, freq) table — the
    * production-depth form (VERDICT r16 #1): the working set of the fit
    * is the VOCABULARY, not the corpus, so once the corpus-wide hash
    * aggregation has reduced 100 TB of text to ≤ [[SizeGuard]]-bounded
    * distinct words, a 32k-merge fit is a single-node computation (the
    * standard Sennrich fit over word counts) and must not pay one Spark
    * job pair per merge — ~10⁵ sequential jobs at real vocab sizes.
    *
    * Bit-identical to [[bpeFitMerges]] by construction, unit-pinned at
    * K=10/K=64: overlapping pair counts (aab carries (a,a) and (a,b)),
    * greedy left-to-right non-overlapping rewrite, total-order argmax
    * (count desc, then (lhs, rhs) ascending in UTF-8 binary order), and
    * the same early stop when no adjacent pair remains. Incremental
    * bookkeeping replaces the per-round recount: pair counts live in a
    * TreeSet ordered by the argmax total order, and each merge rewrites
    * only the words that contain the pair (an occurrence index), with
    * exact count deltas — the invariant "counts ≡ full recount of the
    * current symbol table" holds by induction, so the selected sequence
    * is the distributed one. */
  def bpeFitMergesLocal(wordFreqs: Seq[(String, Long)], numMerges: Int)
      : Seq[(Int, String, String, Long)] = {
    require(numMerges >= 1 && numMerges <= (1 << 17),
      s"numMerges must be in [1, ${1 << 17}]: $numMerges")
    val nw = wordFreqs.size
    val words = new Array[Array[String]](nw)
    val freqs = new Array[Long](nw)
    type Pair = (String, String)
    val counts = new java.util.HashMap[Pair, java.lang.Long]()
    val occ = new java.util.HashMap[Pair, java.util.HashSet[Integer]]()
    val cmp = new java.util.Comparator[(Long, String, String)] {
      override def compare(x: (Long, String, String),
          y: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(y._1, x._1) // count DESC
        if (c != 0) c
        else {
          val l = cpCompare(x._2, y._2)
          if (l != 0) l else cpCompare(x._3, y._3)
        }
      }
    }
    val tree = new java.util.TreeSet[(Long, String, String)](cmp)
    def addCount(p: Pair, d: Long): Unit = if (d != 0L) {
      val old = counts.get(p)
      val oldC = if (old == null) 0L else old.longValue()
      if (oldC > 0L) tree.remove((oldC, p._1, p._2))
      val now = oldC + d
      if (now > 0L) {
        counts.put(p, java.lang.Long.valueOf(now))
        tree.add((now, p._1, p._2))
      } else counts.remove(p)
    }
    def addOcc(p: Pair, w: Int): Unit =
      occ.computeIfAbsent(p, _ => new java.util.HashSet[Integer]())
        .add(Integer.valueOf(w))
    def dropOcc(p: Pair, w: Int): Unit = {
      val s = occ.get(p)
      if (s != null) { s.remove(Integer.valueOf(w)); if (s.isEmpty) occ.remove(p) }
    }
    // ---- init: symbolize + full pair count -------------------------
    var wi = 0
    val it = wordFreqs.iterator
    while (it.hasNext) {
      val (word, f) = it.next()
      val cps = word.codePoints().toArray.filterNot(isDroppedCp)
      val syms = cps.map(cp => new String(Character.toChars(cp)))
      words(wi) = syms
      freqs(wi) = f
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        addCount(p, f)
        addOcc(p, wi)
        i += 1
      }
      wi += 1
    }
    def greedyMerge(syms: Array[String], l: String, r: String): Array[String] = {
      val out = Array.newBuilder[String]
      out.sizeHint(syms.length)
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
          out += l + r; i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    // ---- merge rounds ----------------------------------------------
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    while (r <= numMerges && !tree.isEmpty) {
      val (cnt, l, rr) = tree.first()
      merges += ((r, l, rr, cnt))
      val hit = occ.get((l, rr))
      val affected =
        if (hit == null) Array.empty[Int]
        else { // copy: occ mutates under the rewrite below
          val a = new Array[Int](hit.size())
          val hi = hit.iterator(); var k = 0
          while (hi.hasNext) { a(k) = hi.next().intValue(); k += 1 }
          a
        }
      for (w <- affected) {
        val old = words(w)
        val now = greedyMerge(old, l, rr)
        val f = freqs(w)
        val delta = new java.util.HashMap[Pair, java.lang.Long]()
        val oldSet = new java.util.HashSet[Pair]()
        val newSet = new java.util.HashSet[Pair]()
        var i = 0
        while (i < old.length - 1) {
          val p = (old(i), old(i + 1))
          delta.merge(p, java.lang.Long.valueOf(-f), (a, b) =>
            java.lang.Long.valueOf(a.longValue() + b.longValue()))
          oldSet.add(p)
          i += 1
        }
        i = 0
        while (i < now.length - 1) {
          val p = (now(i), now(i + 1))
          delta.merge(p, java.lang.Long.valueOf(f), (a, b) =>
            java.lang.Long.valueOf(a.longValue() + b.longValue()))
          newSet.add(p)
          i += 1
        }
        val di = delta.entrySet().iterator()
        while (di.hasNext) {
          val e = di.next()
          addCount(e.getKey, e.getValue.longValue())
        }
        val oi = oldSet.iterator()
        while (oi.hasNext) {
          val p = oi.next()
          if (!newSet.contains(p)) dropOcc(p, w)
        }
        val ni = newSet.iterator()
        while (ni.hasNext) {
          val p = ni.next()
          if (!oldSet.contains(p)) addOcc(p, w)
        }
        words(w) = now
      }
      r += 1
    }
    merges.result()
  }

  /** Size-guarded BPE fit dispatch — the form the queries ride: ONE
    * corpus pass builds the distinct-word table; when its measured row
    * count fits the session's [[SizeGuard]] broadcast bound the fit
    * runs driver-local ([[bpeFitMergesLocal]] — bit-identical,
    * unit-pinned) at production depths, otherwise it falls back to the
    * distributed per-round loop (capped at its 4096-job-pair depth,
    * which is what a genuinely driver-overflowing vocabulary costs). */
  def bpeFitMergesAuto(df: DataFrame, textCol: String,
      numMerges: Int): Seq[(Int, String, String, Long)] = {
    val w = bpeWordFreqs(df, textCol).barrier()
    try {
      if (SizeGuard.fits(df.sparkSession, w.count())) {
        val vocab = w.collect().map(r =>
          (r.getString(0), r.getLong(1))).toSeq
        bpeFitMergesLocal(vocab, numMerges)
      } else bpeFitMerges(df, textCol, numMerges)
    } finally release(w)
  }

  /** [[bpeFitMergesAuto]] as a DataFrame: (rank, lhs, rhs, merged, cnt). */
  def bpeFit(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeFitMergesAuto(df, textCol, numMerges)
      .map { case (r, l, rr, c) => (r, l, rr, l + rr, c) }
      .toDF("rank", "lhs", "rhs", "merged", "cnt")
  }

  /** BPE ENCODE over a fitted merge table, aggregated per `groupCol`
    * (document id for per-doc budgets, language for fertility): applies
    * the fitted merges to every word occurrence and counts the
    * resulting learned-vocab tokens. The encode is ONE fused codegen
    * node per text row ([[graft.plans.BpeCountExpr]] — the greedy
    * merge-rank loop, O(|word|²) hash probes regardless of merge-table
    * depth, with the table riding the plan as a codegen reference
    * object), so encoding is embarrassingly parallel over the corpus,
    * needs NO explode, and the only shuffle is the final
    * (group, count-partials) hash aggregation; the driver holds just
    * the merge rules (bounded by numMerges — the legitimate collect the
    * fit already made). Rows whose text yields zero countable words are
    * dropped, matching the explode form (and the SQL oracle's GROUP BY
    * over exploded words). Requires a WELL-FORMED (fit-produced) merge
    * table — see [[graft.plans.BpeCodec]]; hand-built tables that
    * violate rank order go through [[bpeEncodeCountsChain]]. */
  def bpeEncodeCounts(df: DataFrame, groupCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    df.select(col(groupCol),
        graft.plans.BpeCountExpr.bpeCounts(col(textCol), merges).as("c"))
      .filter(col("c.n_words") > 0)
      .groupBy(groupCol).agg(
        sum(col("c.n_words")).as("n_words"),
        sum(col("c.n_tokens")).as("n_tokens"))

  /** The replace-CHAIN encode — the oracle-replayable form (`numMerges`
    * nested literal replaces, exactly what the DuckDB oracle unrolls)
    * and the semantics [[bpeEncodeCounts]]'s fused loop is unit-pinned
    * against. Correct for ANY merge table (applied strictly in rank
    * order), but O(numMerges · |word|) per word and Janino-bounded in
    * depth — production encodes use the fused form. */
  def bpeEncodeCountsChain(df: DataFrame, groupCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val D = BpeDelim
    val esym = merges.foldLeft(bpeSymbolize(col("word"))) { case (c, (l, rr)) =>
      replace(c, lit(D + l + D + D + rr + D), lit(D + l + rr + D))
    }
    df.select(col(groupCol), explode(tokens(col(textCol))).as("word"))
      .select(col(groupCol), replace(col("word"), lit(D), lit("")).as("word"))
      .filter(col("word") =!= "")
      .select(col(groupCol), esym.as("esym"))
      .groupBy(groupCol).agg(
        count(lit(1)).as("n_words"),
        sum(((length(col("esym")) -
          length(replace(col("esym"), lit(D), lit("")))) / 2).cast("long"))
          .as("n_tokens"))
  }

  /** Per-document token stats: count + mean token length. */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    df.select(
      col(idCol),
      tokenCount(col(textCol)).as("n_tokens"),
      length(col(textCol)).cast("long").as("n_text_chars"),
      (aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(toks)).as("avg_token_len"))
  }

  /** Per-document n-gram repetition signal (the Gopher/C4-family quality
    * heuristic: heavily self-repeating documents are boilerplate or spam
    * and get filtered before training). For each document: total n-gram
    * occurrences, distinct n-grams, the duplicate fraction
    * (total - distinct) / total, and the highest single-gram repeat
    * count. Two hash aggregations over codegen'd gram rows
    * ([[Dedup.gramRows]]) — gram counts combine map-side, so the shuffle
    * carries (id, gram, count) partials, never raw text. Documents with
    * fewer than n tokens emit no grams and are absent from the result. */
  def repetition(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Dedup.gramRows(df, idCol, textCol, n)
      .groupBy("id", "s").agg(count(lit(1)).as("c"))
      .groupBy(col("id").as(idCol))
      .agg(sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("max_repeat"))
      .withColumn("dup_fraction",
        (col("n_grams") - col("n_distinct")).cast("double") / col("n_grams"))

  /** First-occurrence NOVELTY per document: the fraction of a document's
    * distinct word n-grams that appear for the FIRST time in the corpus
    * when documents are visited in deterministic md5-priority order (the
    * same seeded order the mixers select by). A doc full of n-grams the
    * earlier corpus already contains contributes little new text even if
    * no single document matches it at dedup thresholds — the
    * incremental-value signal between exact/near dedup (whole-doc) and
    * repeated-span stripping (substring): rank by novelty to prioritize
    * genuinely new content, or threshold to drop mosaic-duplicate docs.
    *
    * Scale shape: distinct gram rows ([[Dedup.shingleRows]], codegen'd
    * explode) → per-gram min-priority (one map-side-combinable hash
    * aggregation on the gram key) → equi join back on the gram → per-doc
    * aggregation. No corpus-sized windows, broadcasts, or collects; the
    * priority is a pure function of the doc id, so the result is
    * engine- and partitioning-independent. Docs with fewer than n tokens
    * emit no rows (no grams survive the explode). */
  def novelty(df: DataFrame, idCol: String, textCol: String, n: Int,
      seed: Long = 0L): DataFrame = {
    // gram explode + md5 priority fuse into the scan stage — widen a
    // narrow (few-file) source first (Parallelize; safe here: the
    // aggregates are integer counts and a string MIN, order-insensitive)
    val grams = Dedup.shingleRows(
      Parallelize.cpuBound(df.select(col(idCol), col(textCol))),
      idCol, textCol, n)
      .withColumn("__ord",
        concat(md5(concat_ws("#", lit(seed), col("id").cast("string"))),
          lit("#"), col("id").cast("string")))
    val first = grams.groupBy("s").agg(min("__ord").as("__first"))
    grams.join(first, "s")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__ord") === col("__first"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", col("n_novel").cast("double") / col("n_grams"))
  }

  /** Corpus-fit unigram language-model score per document (the
    * CCNet/KenLM-family quality signal, reduced to its unigram core):
    * fit = token frequencies over the whole corpus; score = per-document
    * cross-entropy avg(-ln p(token)) under the MLE unigram model. Low =
    * typical of the corpus, high = unusual/noisy — rank and threshold to
    * select in-domain text before training.
    *
    * Scale shape: exploded token rows → corpus frequency table (ONE
    * map-side-combinable hash aggregation, never collected) → shuffle
    * join back on token → per-document hash aggregation. The 1-row
    * corpus total rides a broadcast cross join. Token-less documents
    * emit no rows (nothing survives the explode). */
  def unigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
    val freq = toks.groupBy("term").agg(count(lit(1)).as("tf"))
    val total = freq.agg(sum(col("tf")).as("n_total"))
    toks.join(freq, "term")
      .crossJoin(broadcast(total))
      .groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        avg(-log(col("tf").cast("double") / col("n_total"))).as("cross_entropy"))
  }

  /** Corpus-wide top-n terms by frequency (explode → count → top-k). */
  def topTerms(df: DataFrame, textCol: String, n: Int): DataFrame =
    df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(n)

  /** Term burstiness — the variance-to-mean ratio (dispersion index)
    * of per-document term counts, ZEROS INCLUDED: bursty topical terms
    * concentrate in few documents (VMR ≫ 1); evenly-spread function
    * words sit near the Poisson baseline (VMR ≈ 1). The
    * corpus-linguistics screen for topical vs structural vocabulary.
    *
    * Shape: one per-(doc, term) tf aggregation → per-term moments
    * (df, Σtf, Σtf²) — the zero docs enter only through the N scalar
    * (broadcast 1-row), never as rows. `minDf` cuts the unstable
    * low-frequency tail before any ranking. */
  def termBurstiness(df: DataFrame, idCol: String, textCol: String,
      minDf: Long): DataFrame = {
    // token explode fuses into the scan stage — widen a narrow source
    // first (Parallelize; safe: every aggregate here is an integer
    // count/sum, order-insensitive)
    val tf = Parallelize.cpuBound(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val n = df.select(countDistinct(col(idCol)).cast("double").as("__N"))
    tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("tf_total"),
        sum(col("tf") * col("tf")).as("__tf2"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(n))
      .withColumn("__mean", col("tf_total") / col("__N"))
      .select(col("term"), col("df"), col("tf_total"),
        ((col("__tf2") / col("__N") - col("__mean") * col("__mean")) /
          col("__mean")).as("vmr"))
  }

  /** Inverted-index postings: one (doc, pos, term) row per token
    * occurrence — the substrate search engines build once and query
    * many times. Callers filter to the query terms BEFORE joining, so
    * a phrase probe touches |phrase| posting lists, not the corpus. */
  def postings(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "term")))

  /** Exact phrase search over [[postings]] via position-chain joins:
    * term i must appear at `pos + i`, expressed by normalizing every
    * term's position back to the phrase start and equi-joining on
    * (doc, pos) — the classic positional-postings AND-merge. The
    * postings frame is checkpointed once and each phrase term probes
    * it with a pushed term filter; all |phrase|−1 joins key on
    * (doc, pos), so on a cluster the posting lists co-partition and
    * the merge never reshuffles the corpus. Returns per-document
    * (doc, n_hits, first_pos). */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val p = postings(df, idCol, textCol).barrier()
    val first = p.filter(col("term") === phrase.head).select(col("doc"), col("pos"))
    val matched = phrase.zipWithIndex.tail.foldLeft(first) { case (acc, (w, i)) =>
      acc.join(
        p.filter(col("term") === w)
          .select(col("doc"), (col("pos") - i).as("pos")),
        Seq("doc", "pos"))
    }
    matched.groupBy("doc")
      .agg(count(lit(1)).as("n_hits"), min("pos").as("first_pos"))
  }

  /** Zipf's-law fit over the corpus term-frequency head: OLS of ln(cnt)
    * on ln(rank) across the top `topN` terms. Natural-language corpora
    * fit slope ≈ −1; templated/boilerplate-heavy corpora flatten the
    * head and spammy ones sharpen it, so the slope (with r² as fit
    * quality) is a one-number corpus-health screen.
    *
    * Shape: term frequency is one map-side-combinable hash agg; the
    * top-`topN` cut is a distributed top-k; the rank window and the
    * closed-form normal equations then run over the `topN`-row frame
    * only (bounded by the parameter, not the corpus — the same
    * phase-2-window contract as the histogram/bracket operators). No
    * driver round-trip. Returns one row
    * (n_terms, slope, intercept, r2). */
  def zipfFit(df: DataFrame, textCol: String, topN: Int): DataFrame = {
    val freq = df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(topN)
    val w = Window.orderBy(col("cnt").desc, col("term").asc)
    val xy = freq.withColumn("rk", row_number().over(w))
      .select(log(col("rk").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    xy.agg(count(lit(1)).cast("double").as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").cast("long").as("n_terms"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          when(col("n") * col("sxx") - col("sx") * col("sx") =!= 0,
            col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"), col("n"))
      .select(col("n_terms"), col("slope"),
        ((col("sy") - col("slope") * col("sx")) / col("n")).as("intercept"),
        (pow(col("n") * col("sxy") - col("sx") * col("sy"), 2) /
          when((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy")) =!= 0,
            (col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy")))).as("r2"))
  }

  /** Collocation mining: adjacent-bigram pointwise mutual information,
    * PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p(ab) over the bigram
    * stream and p(·) over the unigram stream — the standard screen for
    * multiword expressions ("new york") vs incidental adjacency. PMI is
    * notoriously noisy at low counts, so pairs below `minCount` are
    * dropped BEFORE the unigram join (the standard guard, and what keeps
    * the join small: the surviving bigram table is bounded by pairs
    * frequent enough to matter, not by the corpus).
    *
    * Shape: bigrams come from zipping each token array with its own
    * tail (no self-join, no positional explode-join); unigram and
    * bigram counts are plain hash aggs; the two corpus totals ride one
    * 1-row broadcast. Returns unordered scored pairs
    * (w1, w2, n_ab, pmi) — rank/limit in the caller so ordering can be
    * applied to ROUNDED scores when an oracle replays the query. */
  def collocations(df: DataFrame, textCol: String, minCount: Long): DataFrame = {
    val t = tokens(col(textCol))
    val docs = df.select(t.as("t")).filter(size(col("t")) >= 2)
    val bigrams = docs.select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val uni = df.select(explode(t).as("w"))
      .groupBy("w").agg(count(lit(1)).cast("double").as("c_w"))
    val totals = df.agg(
      sum(size(t)).cast("double").as("n_uni"),
      sum(greatest(size(t) - 1, lit(0))).cast("double").as("n_bi"))
    val bc = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    bc.join(uni.select(col("w").as("w1"), col("c_w").as("c_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c_w").as("c_b")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_ab"),
        log((col("n_ab") / col("n_bi")) /
          ((col("c_a") / col("n_uni")) * (col("c_b") / col("n_uni")))).as("pmi"))
  }

  /** Exact heavy hitters without shuffling the term universe — the
    * 100 TB form of [[topTerms]]' absolute-threshold cousin.
    *
    * `groupBy(term).count` shuffles EVERY distinct term to answer a
    * question about the few above `minShare`. Two passes instead:
    * pass 1 folds the corpus into one Misra–Gries sketch
    * ([[graft.plans.FreqItemsAgg]] — map-side partial sketches, the
    * shuffle carries one ≤`sketchCapacity`-entry buffer per partition);
    * its item set provably contains every term with share >
    * 1/(sketchCapacity+1), so for `minShare` above that blind spot it is
    * a superset of the answer. Pass 2 broadcast-joins the ≤capacity
    * candidates back against the token stream for exact counts and
    * applies the threshold — the output is EXACT and independent of the
    * (arrival-order-dependent) sketch contents. No driver collect: the
    * candidate set flows as a broadcast join side. */
  def exactHeavyHitters(df: DataFrame, textCol: String, minShare: Double,
      sketchCapacity: Int = 512): DataFrame = {
    require(minShare > 1.0 / (sketchCapacity + 1),
      s"minShare=$minShare is inside the sketch blind spot 1/${sketchCapacity + 1}: " +
        "raise minShare or the sketch capacity")
    val toks = df.select(explode(tokens(col(textCol))).as("term"))
    val cands = toks
      .agg(graft.plans.FreqItemsAgg.freqItems(col("term"), sketchCapacity).as("cands"),
        count(lit(1)).as("n_total"))
      .select(explode(col("cands")).as("c"), col("n_total"))
      .select(col("c.item").as("term"), col("n_total"))
    toks.join(broadcast(cands), "term")
      .groupBy("term", "n_total")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt").cast("double") > col("n_total") * minShare)
      .select("term", "cnt")
      .orderBy(col("cnt").desc, col("term").asc)
  }

  /** Per-document TF-IDF top-k terms: tf = in-document term count,
    * idf = ln(N / df) with df = number of documents containing the term.
    * Three hash aggregations over exploded token rows plus a broadcast of
    * the 1-row corpus count; the per-document ranking window partitions
    * on doc id — high cardinality, so no salting is needed (contrast
    * [[GroupTopK]] for low-cardinality keys). Ties rank by term asc for
    * determinism. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val total = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(total))
      .withColumn("tfidf", col("tf") * log(col("n_docs") / col("df")))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "term", "tf", "df", "tfidf")
  }

  /** Lexical near-duplicate pairs by TF-IDF cosine over an INVERTED
    * INDEX — the sparse-vector sibling of the dense-embedding
    * [[Similarity.nearDupPairsCosineLsh]]: two documents meet only where
    * they share a term (an equi-join on the term, never all-pairs), the
    * per-pair dot product is one hash aggregation over the joined
    * posting rows, and cosine = dot / (‖a‖·‖b‖) in the pruned space.
    *
    * `maxDf` drops terms appearing in more than that many documents
    * BEFORE the self-join — the classic posting-list guard: a stopword
    * shared by half the corpus would otherwise contribute O(n²/4)
    * candidate rows on its own while carrying near-zero IDF weight.
    * Norms are computed over the same pruned term set, so the score is
    * a true cosine in that space. Size maxDf so the worst posting list
    * squared stays inside one task's budget (df ≤ maxDf ⇒ ≤ maxDf²/2
    * pair rows per term).
    *
    * Weights: tf · ln(N/df) — identical to [[tfidfTopTerms]], and plain
    * arithmetic an independent engine reproduces. */
  def tfidfCosinePairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDf: Long): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val total = df.agg(count(lit(1)).as("n_docs"))
    // materialize once: the posting table feeds four branches (both
    // sides of the pair join and both norm lookups) — without it each
    // branch re-scans the corpus and re-aggregates tf (the minhash
    // shingle-table precedent). localCheckpoint, not persist (r17): the
    // lazy persist pinned all four consumer stages at full shuffle
    // width (AQE cannot coalesce a cached subplan) and the four
    // concurrently-submitted stages raced the first materialization,
    // recomputing the tf lineage — the same two failure modes measured
    // on containmentPairs (518→14 tasks there).
    val w = tf.join(dfreq, "term").crossJoin(broadcast(total))
      .select(col("doc_id"), col("term"),
        (col("tf") * log(col("n_docs") / col("df"))).as("w"))
      .barrier()
    val norms = w.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    w.select(col("term"), col("doc_id").as("a"), col("w").as("wa"))
      .join(w.select(col("term"), col("doc_id").as("b"), col("w").as("wb")), Seq("term"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(sum(col("wa") * col("wb")).as("dot"))
      .join(norms.select(col("doc_id").as("a"), col("nrm").as("na")), Seq("a"))
      .join(norms.select(col("doc_id").as("b"), col("nrm").as("nb")), Seq("b"))
      .select(col("a"), col("b"), (col("dot") / (col("na") * col("nb"))).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Vocabulary-growth (Heaps' law) curve: the corpus in `buckets`
    * id-ordered slices, and per slice the token count, the number of
    * NEVER-SEEN-BEFORE terms, and the cumulative token/vocabulary
    * totals — the statistic that sizes a tokenizer vocabulary and
    * detects when a crawl stops contributing new language.
    *
    * Scale shape: "first seen in bucket b" is min(bucket) per term (one
    * hash aggregation — no ordered scan over the corpus), per-bucket
    * totals are a second aggregation, and the only window is the
    * cumulative sum over `buckets` rows — constant-size, single task by
    * construction. The max-id anchor rides a 1-row broadcast. */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 10): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val toks = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
    val anchor = df.agg(max(col(idCol)).as("__maxid"))
    val withB = toks.crossJoin(broadcast(anchor))
      .withColumn("bucket",
        least(lit(buckets - 1),
          floor(col("id") * buckets / (col("__maxid") + 1)).cast("int")))
    val newTerms = withB.groupBy("term").agg(min(col("bucket")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_terms"))
    val tokCounts = withB.groupBy("bucket").agg(count(lit(1)).as("n_tokens"))
    // AUDITED GLOBAL WINDOW: frame is ≤ #buckets rows (tiny) — the
    // "No Partition Defined" WARN is benign here (see Packing.offW)
    val w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    tokCounts.join(newTerms, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_terms"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("vocab", sum(col("new_terms")).over(w))
  }

  /** Language census over a label column. */
  def langCensus(df: DataFrame, langCol: String): DataFrame =
    df.groupBy(col(langCol).as("lang")).agg(count(lit(1)).as("n"))

  /** The [[qualityMetrics]] column expressions keyed by output name —
    * row-local codegen'd arithmetic, exposed so a consumer that also
    * needs OTHER columns of the same row (label, extra features) can
    * compute everything in ONE scan-stage projection instead of
    * self-joining the table back on the id (a whole shuffle join saved;
    * measured on quality_filter_by_lang / quality_regression at sf≈1). */
  def qualityColumns(t: Column, stopwords: Seq[String]): Map[String, Column] = {
    val toks = tokens(t)
    val nToks = size(toks)
    val alphaRatio = (length(t) - length(regexp_replace(t, "[a-zA-Z]", ""))).cast("double") /
      greatest(length(t), lit(1))
    val spaceRatio = (length(t) - length(regexp_replace(t, " ", ""))).cast("double") /
      greatest(length(t), lit(1))
    val stopRatio = size(filter(toks, x => x.isin(stopwords: _*))).cast("double") /
      greatest(nToks, lit(1))
    val avgTokLen = aggregate(toks, lit(0L), (acc, x) => acc + length(x)).cast("double") /
      greatest(nToks, lit(1))
    val score =
      least(greatest(nToks.cast("double") / 20.0, lit(0.0)), lit(1.0)) * 0.3 +
        alphaRatio * 0.4 +
        (lit(1.0) - abs(avgTokLen - 5.0) / 5.0) * 0.2 +
        (lit(1.0) - stopRatio) * 0.1
    Map(
      "alpha_ratio" -> alphaRatio,
      "space_ratio" -> spaceRatio,
      "stopword_ratio" -> stopRatio,
      "avg_token_len" -> avgTokLen,
      "quality_score" -> score)
  }

  /** Quality metrics per document: alpha ratio, whitespace ratio,
    * stopword ratio, mean token length, and a blended score in [0, 1].
    * Pure arithmetic over codegen'd string functions — the same formula is
    * expressible in the SQL oracle. */
  def qualityMetrics(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String]): DataFrame = {
    val m = qualityColumns(col(textCol), stopwords)
    df.select(col(idCol),
      m("alpha_ratio").as("alpha_ratio"),
      m("space_ratio").as("space_ratio"),
      m("stopword_ratio").as("stopword_ratio"),
      m("avg_token_len").as("avg_token_len"),
      m("quality_score").as("quality_score"))
  }

  /** Ingest-side text cleaning (the first stage of any training-data
    * pipeline): strip HTML tags, replace control characters, collapse
    * whitespace runs, trim. Patterns stay RE2-compatible so SQL oracles
    * reproduce the transform byte-for-byte, and everything is a codegen'd
    * regexp chain — no UDF. */
  def cleanText(text: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(text,
      "<[^>]*>", " "),
      "[\\x00-\\x1F\\x7F]", " "),
      " +", " "))

  /** Redaction: replace every match of `pattern` with `token` (emails,
    * long digit runs, ... — compliance scrubbing before training). */
  def redact(text: Column, pattern: String, token: String = "[REDACTED]"): Column =
    regexp_replace(text, pattern, token)

  /** RE2-compatible e-mail shape (kept simple enough that Java and RE2
    * agree byte-for-byte). */
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"

  /** Runs of 6+ digits — phone-number/id-shaped tokens. */
  val LongDigitsPattern = "[0-9]{6,}"

  /** Canonical content fingerprint: md5 of the lower-cased trimmed text —
    * portable (any engine computes the identical digest). */
  def fingerprintMd5(text: Column): Column = md5(trim(lower(text)))

  /** Character-trigram language-ID: fit collects the top-k most frequent
    * trigrams per language from a labeled corpus (driver-side — the
    * profile is a few KB), classify scores each document by profile
    * overlap and picks the argmax (ties: lexicographically first lang).
    * A heuristic, not a model — mechanics over accuracy. */
  def fitLanguageProfiles(labeled: DataFrame, textCol: String, langCol: String,
      topK: Int = 50): Map[String, Seq[String]] = {
    // trigram explosion is CPU-bound per row; widen a narrow (few-file)
    // source so the fit uses every core — no-op at cluster scale
    val grams = Parallelize.cpuBound(labeled.select(col(langCol).as("lang"), col(textCol)))
      .select(col("lang"), explode(Dedup.charNgrams(col(textCol), 3)).as("g"))
      .groupBy("lang", "g").agg(count(lit(1)).as("cnt"))
    // per-language top-k via GroupTopK (native two-phase WindowGroupLimit:
    // the partial group limit caps each input partition at k rows before
    // the exchange): languages are a LOW-cardinality partition key,
    // exactly the single-task-sort shape GroupTopK exists to avoid
    GroupTopK.topK(grams, Seq("lang"), Seq(col("cnt").desc, col("g").asc), topK)
      .select("lang", "g", "rn")
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.sortBy(_.getInt(2)).map(_.getString(1)).toSeq)
      .toMap
  }

  /** Classify with fitted profiles: per-language overlap score of the
    * document's trigram set with the profile, argmax by (score, lang) —
    * ties go to the lexicographically first language. One native
    * single-pass expression per row ([[graft.plans.LangArgmaxExpr]]):
    * the previous composed form ran |langs| array_intersect scans per
    * document, a per-row constant that IS the job at corpus scale; the
    * expression does one hash-lookup pass over the gram array instead.
    * Zero-shuffle map-side classification either way — the scale shape
    * is unchanged, only the constant drops. */
  def classifyLanguage(df: DataFrame, idCol: String, textCol: String,
      profiles: Map[String, Seq[String]]): DataFrame = {
    val grams = Dedup.charNgrams(col(textCol), 3)
    val langs = profiles.toSeq.sortBy(_._1)
    df.select(col(idCol),
      graft.plans.LangArgmaxExpr.langArgmax(grams, langs).as("predicted_lang"))
  }

  /** Bigram language-model scoring with Stupid Backoff (Brants et al.
    * 2007) — the KenLM-family quality filter one order above
    * [[unigramLmScore]]: fit bigram/unigram counts on the `isFit` slice
    * (the in-domain reference), then score EVERY document's transitions
    *
    *   S(w2|w1) = c(w1 w2)/c(w1)                 when the fit set saw the bigram
    *            = alpha · (c(w2)+1)/(N+V)        otherwise (add-one unigram backoff)
    *
    * and report per-document avg(-ln S) over its n_tokens-1 transitions
    * (docs with <2 tokens emit nothing). Lower = more in-domain-like.
    * Scoring docs OUTSIDE the fit slice is the production shape (CCNet:
    * fit on target, rank candidates), and it is what makes backoff live.
    *
    * Scale shape: fit counts are two hash aggregations (bigram key,
    * unigram key) — the vocabulary-sized tables join back by key
    * (broadcast when small, equi-shuffle otherwise: Spark's planner
    * decides by size); the 1-row (N, V) totals ride a broadcast cross
    * join; per-doc scoring is one hash aggregation. Fitted values round
    * to 1e-6 per transition-score only at the END (avg then round — the
    * same bridge unigramLmScore uses). */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String,
      isFit: Column, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val fit = df.filter(isFit)
    val biCnt = Dedup.gramRows(fit, idCol, textCol, 2)
      .groupBy("s").agg(count(lit(1)).as("__cb"))
    val uniCnt = fit.select(explode(tokens(col(textCol))).as("__t"))
      .groupBy("__t").agg(count(lit(1)).as("__cu"))
    val totals = uniCnt.agg(sum("__cu").as("__n"), count(lit(1)).as("__v"))
    val occ = Dedup.gramRows(df, idCol, textCol, 2)
      .withColumn("__w1", substring_index(col("s"), " ", 1))
      .withColumn("__w2", substring_index(col("s"), " ", -1))
    occ.join(biCnt, Seq("s"), "left")
      .join(uniCnt.select(col("__t").as("__w1"), col("__cu").as("__c1")),
        Seq("__w1"), "left")
      .join(uniCnt.select(col("__t").as("__w2"), col("__cu").as("__c2")),
        Seq("__w2"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("__s",
        when(col("__cb").isNotNull && col("__c1").isNotNull,
          col("__cb").cast("double") / col("__c1"))
        .otherwise(lit(alpha) * (coalesce(col("__c2"), lit(0L)) + lit(1L)).cast("double") /
          (col("__n") + col("__v"))))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_transitions"),
        (floor(avg(-log(col("__s"))) * 1e6 + 0.5) / 1e6).as("cross_entropy"))
  }

  /** Okapi BM25 relevance of every document against a fixed query term
    * set, top-k by score — the retrieval sibling of [[tfidfTopTerms]]:
    * adds document-length normalization and term-frequency saturation
    * (idf(t) · tf·(k1+1) / (tf + k1·(1−b) + k1·b·|d|/avgdl), the
    * Lucene-family idf form ln((N−df+0.5)/(df+0.5)+1) which is never
    * negative).
    *
    * Scale shape: the token array is filtered to the query terms BEFORE
    * exploding, so the per-(doc, term) frequency aggregation sees
    * O(query matches) rows, never the full corpus posting set; per-term
    * document frequencies (≤ |query| rows) and the corpus constants
    * (one row: N, avgdl) join back as broadcasts; top-k is
    * orderBy+limit → TakeOrderedAndProject, no global sort.
    *
    * Determinism bridge: avgdl is rounded to 1e-6 before scoring and the
    * final score to 1e-6 before ordering (the fitted-parameter rule —
    * both engines rank from the same literals, so ULP drift in ln or in
    * the ≤|query|-term sum order cannot reorder the top-k). */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      query: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      k: Int = 20): DataFrame = {
    require(query.nonEmpty, "query term set must be non-empty")
    val toks = df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .withColumn("__dl", size(col("__t")).cast("double"))
    val consts = toks.agg(count(lit(1)).cast("double").as("__n"),
      (floor(avg(col("__dl")) * 1e6 + 0.5) / 1e6).as("__avgdl"))
    val qarr = array(query.map(lit(_)): _*)
    val tf = toks
      .select(col(idCol), col("__dl"),
        explode(filter(col("__t"), t => array_contains(qarr, t))).as("__term"))
      .groupBy(col(idCol), col("__dl"), col("__term"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    val dfreq = tf.groupBy("__term")
      .agg(count(lit(1)).cast("double").as("__df"))
    // dfreq ≤ |query| rows (tf only holds query-set terms) — bounded
    val scored = tf.join(broadcast(dfreq), "__term")
      .crossJoin(broadcast(consts))
      .withColumn("__s",
        log((col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)) + lit(1.0)) *
          col("__tf") * (lit(k1) + lit(1.0)) /
          (col("__tf") + lit(k1) * (lit(1.0) - lit(b)) +
            lit(k1) * lit(b) * col("__dl") / col("__avgdl")))
    scored.groupBy(idCol)
      .agg(count(lit(1)).as("n_match"),
        (floor(sum(col("__s")) * 1e6 + 0.5) / 1e6).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  /** DSIR-style contrastive importance weighting (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every document by how target-domain-like its term
    * distribution is — the data-selection step that up-weights
    * in-domain-looking text before pretraining. `isTarget` marks the
    * in-domain seed rows (a subset of the corpus); each term gets a
    * log-likelihood ratio λ = ln(p̂_target / p̂_corpus) under add-one
    * smoothing over the shared vocabulary, and a document's score is
    * the sum of λ over its tokens (positive ⇒ more target-like than
    * the corpus average).
    *
    * Scale shape: term counts for both sides come from ONE hash
    * aggregation over the exploded tokens (the target side is a
    * conditional sum, not a second scan), the λ table is
    * vocabulary-sized and joins back as a broadcast, and per-document
    * scoring is a plain hash aggregation — no shuffle carries
    * corpus-scale rows beyond the token explode every text operator
    * pays.
    *
    * Determinism bridge: λ is rounded to 1e-6 BEFORE the per-document
    * sum and the sum to 1e-6 before output (fitted-parameter rule), so
    * ln and sum-order ULP drift between engines cannot move a score. */
  def dsirImportance(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column): DataFrame = {
    val toks = df.select(col(idCol), isTarget.cast("boolean").as("__tgt"),
      explode(tokens(col(textCol))).as("__term"))
    val counts = toks.groupBy("__term").agg(
      sum(when(col("__tgt"), lit(1L)).otherwise(lit(0L))).as("__ct"),
      count(lit(1)).as("__call"))
    val totals = counts.agg(sum(col("__ct")).as("__tt"),
      sum(col("__call")).as("__ta"), count(lit(1)).as("__v"))
    val lam = counts.crossJoin(broadcast(totals)) // totals: 1 row, bounded
      .select(col("__term"),
        (floor(log(((col("__ct") + lit(1L)).cast("double") / (col("__tt") + col("__v"))) /
          ((col("__call") + lit(1L)).cast("double") / (col("__ta") + col("__v")))) * 1e6 + 0.5) / 1e6)
          .as("__lam"))
      .barrier()
    // λ is VOCABULARY-sized — it grows with the corpus (noise tokens,
    // typos), so the importance join broadcasts it only while its
    // measured count fits; past the bound the join shuffles on __term
    // (the token explode already pays that shuffle class).
    toks.join(SizeGuard.broadcastIfSmall(lam), "__term")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        (floor(sum(col("__lam")) * 1e6 + 0.5) / 1e6).as("dsir_score"))
  }
}
