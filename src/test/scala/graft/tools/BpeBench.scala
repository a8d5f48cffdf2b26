package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only BPE depth/throughput probe (VERDICT r16 #1): measures the
  * production-depth fit (driver-local over the collected vocab) against
  * the distributed per-round loop, and the fused greedy encode against
  * the nested-replace chain, at increasing merge depths.
  *
  *   sbt "Test/runMain graft.tools.BpeBench [sfDir] [maxK]"
  *
  * Prints one JSON line per measurement for BASELINE.md. */
object BpeBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val maxK = args.lift(1).map(_.toInt).getOrElse(1 << 15)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Kit.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.TextAnalysis
    val docs = graft.sources.Tables.documents(spark, dir)
    docs.count() // warm the scan
    def t[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    // vocab + its collect cost (shared by every local fit)
    val w = docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "").groupBy("w").count()
    val (vocab, vocabSec) = t {
      w.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    println(f"""{"probe":"bpe_vocab","dir":"$dir","words":${vocab.size},"collect_sec":$vocabSec%.3f}""")
    // distributed fit at the oracle depth (the per-round job-pair cost)
    val (_, distSec) = t(TextAnalysis.bpeFitMerges(docs, "text", 10))
    println(f"""{"probe":"bpe_fit_distributed","k":10,"sec":$distSec%.3f}""")
    // driver-local fit at increasing depths
    var merges: Seq[(Int, String, String, Long)] = Seq.empty
    for (k <- Seq(10, 1024, 8192, maxK)) {
      val (m, sec) = t(TextAnalysis.bpeFitMergesLocal(vocab, k))
      if (m.size > merges.size) merges = m
      println(f"""{"probe":"bpe_fit_local","k":$k,"rules":${m.size},"sec":$sec%.3f}""")
    }
    val rules = merges.map { case (_, l, r, _) => (l, r) }
    // encode: fused vs chain at K=10; fused at full depth
    val r10 = rules.take(10)
    def encCount(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum("n_tokens")).head().getLong(0)
    val (tokChain, chainSec) = t(encCount(
      TextAnalysis.bpeEncodeCountsChain(docs, "doc_id", "text", r10)))
    val (tokFused, fusedSec) = t(encCount(
      TextAnalysis.bpeEncodeCounts(docs, "doc_id", "text", r10)))
    println(f"""{"probe":"bpe_encode","k":10,"chain_sec":$chainSec%.3f,"fused_sec":$fusedSec%.3f,"chain_tokens":$tokChain,"fused_tokens":$tokFused}""")
    val (tokDeep, deepSec) = t(encCount(
      TextAnalysis.bpeEncodeCounts(docs, "doc_id", "text", rules)))
    println(f"""{"probe":"bpe_encode_fused_deep","k":${rules.size},"sec":$deepSec%.3f,"tokens":$tokDeep}""")

    // ---- PRODUCTION DEPTH over a planted Zipfian vocabulary ----------
    // The testdata corpus is synthesized from ~31 distinct words (fit
    // exhausts at 89 merges), so the 32k-vocab claim needs a planted
    // vocabulary: splitmix64 words, Zipf(1.1) frequencies — the shape a
    // real 100 TB corpus's distinct-word aggregation produces.
    def mix(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    val V = 200000
    val synVocab = (1 to V).map { r =>
      val len = 4 + (mix(r.toLong) & 0x7L).toInt
      val sb = new StringBuilder
      var h = mix(r.toLong * 31 + 7)
      for (_ <- 0 until len) {
        sb.append(('a' + java.lang.Long.remainderUnsigned(h, 26L).toInt).toChar)
        h = mix(h)
      }
      (sb.toString, math.max(1L, (V / math.pow(r.toDouble, 1.1)).toLong))
    }.distinct.groupBy(_._1).map { case (wd, g) => (wd, g.head._2) }.toSeq
      .sortBy(_._1)
    println(s"""{"probe":"bpe_syn_vocab","distinct_words":${synVocab.size}}""")
    var deepRules: Seq[(String, String)] = Seq.empty
    for (k <- Seq(1024, 8192, 32768)) {
      val (m, sec) = t(TextAnalysis.bpeFitMergesLocal(synVocab, k))
      if (m.size > deepRules.size) deepRules = m.map { case (_, l, r, _) => (l, r) }
      println(f"""{"probe":"bpe_fit_local_syn","k":$k,"rules":${m.size},"sec":$sec%.3f}""")
    }
    // fused encode at 32k merges over a synthetic corpus: 50k docs x
    // 80 Zipf-drawn words — the codegen-mode row (one reference-object
    // table, no Janino pressure)
    import spark.implicits._
    val wordArr = synVocab.map(_._1).toArray
    val docsSyn = spark.range(50000).map { d =>
      val sb = new StringBuilder
      var h = mix(d * 1315423911L + 3)
      for (_ <- 0 until 80) {
        val u = (java.lang.Long.remainderUnsigned(h, 1000000L).toDouble + 0.5) / 1000000.0
        val r = math.min(wordArr.length - 1,
          (math.pow(u, 3.0) * wordArr.length).toInt)
        sb.append(wordArr(r)).append(' ')
        h = mix(h)
      }
      (d, sb.toString)
    }.toDF("doc_id", "text").localCheckpoint()
    docsSyn.count()
    val (tokSyn, synSec) = t(encCount(
      TextAnalysis.bpeEncodeCounts(docsSyn, "doc_id", "text", deepRules)))
    println(f"""{"probe":"bpe_encode_fused_32k","k":${deepRules.size},"docs":50000,"sec":$synSec%.3f,"tokens":$tokSyn}""")
    spark.stop()
  }
}
