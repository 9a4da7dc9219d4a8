package graft.engine.ops

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.functions._

/** Semantics checks for the LLM-pipeline operators: the probabilistic
  * (non-oracle) paths are validated against their exact counterparts —
  * the property that matters at 100 TB, where only the sketch is
  * affordable but the exact answer defines correctness. */
class TextSimilaritySpec extends SparkSuite {
  import spark.implicits._

  private def run(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("cosine: self-similarity of every embedding is 1.0") {
    val e = graft.engine.io.Tables.embeddings(spark, sfDir)
    val bad = e.select(
      abs(aggregate(zip_with(col("embedding"), col("embedding"),
            (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (a, x) => a + x) /
          (sqrt(aggregate(zip_with(col("embedding"), col("embedding"),
            (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (a, x) => a + x)) *
           sqrt(aggregate(zip_with(col("embedding"), col("embedding"),
            (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (a, x) => a + x))) - 1.0
      ).as("err")).agg(max("err")).head().getDouble(0)
    assert(bad < 1e-9)
  }

  // r17: ROUGE must CLIP — a candidate repeating a leaked gram scores
  // min(c_cand, c_ref), not its own count, and the ppm arithmetic is
  // pinned to the hand computation.
  test("rougeOverlap clips multiset counts; ppm arithmetic exact") {
    val cand = Seq((10L, "a b a b a b")).toDF("doc_id", "text") // "a b"×3, "b a"×2
    val ref = Seq((1L, "a b c")).toDF("doc_id", "text") // "a b"×1, "b c"×1
    val got = TextPipeline.rougeOverlap(cand, "doc_id", "text", ref, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // shared = min(3,1) = 1; recall = 1/2 -> 500000 ppm;
    // precision = 1/5 -> 200000 ppm; f1 = 2*5e5*2e5/7e5 = 285714
    assert(got == Seq((10L, 1L, 1L, 500000L, 200000L, 285714L)),
      s"clipped overlap must score min(c_cand, c_ref): $got")
    // the registered fixture is non-vacuous and emits no full-overlap
    // artifacts of the split (a candidate is never its own reference)
    val reg = graft.SparkEntry.queries("q_rouge_overlap")(spark, sfDir)
    assert(reg.count() > 0, "fixture must produce overlap pairs")
    assert(reg.filter(col("cand_id") === col("ref_id")).isEmpty,
      "candidate and reference sides are disjoint by the id split")
  }

  test("contaminationExact recovers exact maximal run lengths; scattered shingles don't qualify") {
    val bench = Seq((1L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")).toDF("doc_id", "text")
    val corpus = Seq(
      // verbatim 7-token leak embedded mid-document → max_run exactly 7
      (10L, "x1 x2 q2 q3 q4 q5 q6 q7 q8 x3 x4"),
      // two disjoint runs (4 and 3): max is 4, still below minRun=5
      (11L, "q1 q2 q3 q4 zz q5 q6 q7 yy"),
      // every 3-gram shared but scattered on different diagonals only if
      // reordered — a full verbatim copy scores its whole length
      (12L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"),
      // topically close, zero 3-token run
      (13L, "q1 zz q3 zz q5 zz q7 zz q9 zz")).toDF("doc_id", "text")
    val got = TextPipeline.contaminationExact(corpus, "doc_id", "text",
        bench, "doc_id", "text", minRun = 5)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((10L, 1L, 7L), (12L, 1L, 10L)), s"got $got")
    // lowering the bar to 4 admits doc 11's longest run, at its true length
    val got4 = TextPipeline.contaminationExact(corpus, "doc_id", "text",
        bench, "doc_id", "text", minRun = 4)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got4 == Seq((10L, 1L, 7L), (11L, 1L, 4L), (12L, 1L, 10L)), s"got $got4")
  }

  test("q_embed_quantize: int8 codes keep recall@10 >= 0.9 vs exact cosine ranking") {
    val e = graft.engine.io.Tables.embeddings(spark, sfDir)
    val vecs = e.select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    val codes = run("q_embed_quantize").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    // reconstruct from codes via the same per-dim (mn, mx) the quantizer used
    val dims = vecs.head._2.length
    val mn = (0 until dims).map(d => vecs.values.map(_(d).toDouble).min).toArray
    val mx = (0 until dims).map(d => vecs.values.map(_(d).toDouble).max).toArray
    def dequant(cs: Array[Long]): Array[Double] =
      cs.zipWithIndex.map { case (c, d) =>
        if (mx(d) == mn(d)) mn(d)
        else mn(d) + (c + 128 + 0.5) / 255.0 * (mx(d) - mn(d)) // cell midpoint
      }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val q = 0L
    val qe = vecs(q).map(_.toDouble)
    val qd = dequant(codes(q).toArray)
    def top10(score: Long => Double): Set[Long] =
      vecs.keySet.filter(_ != q).toSeq.sortBy(id => (-score(id), id)).take(10).toSet
    val exact = top10(id => cos(qe, vecs(id).map(_.toDouble)))
    val quant = top10(id => cos(qd, dequant(codes(id).toArray)))
    val recall = exact.intersect(quant).size / 10.0
    assert(recall >= 0.9, s"int8 recall@10 collapsed: $recall (exact=$exact quant=$quant)")
    // the codes really are int8: full range bounded, extremes hit exactly
    val all = codes.values.flatten
    assert(all.min >= -128 && all.max <= 127)
    assert(all.min == -128 && all.max == 127,
      "per-dim min/max must map to the code extremes")
  }

  test("duplicateSubstrings: exact maximal shared runs between corpus docs, unordered pairs once") {
    val mk = (pre: String, shared: String, post: String) => s"$pre $shared $post"
    val shared = (1 to 12).map(i => s"s$i").mkString(" ") // a 12-token boilerplate block
    val docs = Seq(
      (1L, mk("a1 a2 a3", shared, "a4 a5")),
      (2L, mk("b1 b2", shared, "b3 b4 b5 b6")),  // shares the block with 1 → run 12
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14"), // unrelated
      (4L, mk("d1", shared.split(" ").take(9).mkString(" "), "d2 d3"))) // only 9 shared → below 10
      .toDF("doc_id", "text")
    val got = TextPipeline.duplicateSubstrings(docs, "doc_id", "text", minRun = 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 12L)), s"got $got")
  }

  test("duplicateSubstrings anchor-frequency cap: boilerplate pairs survive, stop-grams dropped") {
    // A stop-gram phrase repeated inside EVERY doc (frequency 8 > cap 4)
    // must not feed the self-join; the genuine boilerplate block (each
    // anchor appears twice, ≤ cap) must still be found in full.
    val stop = "of the and of the"                       // one 5-token stop anchor per repeat
    val shared = (1 to 12).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"$stop $stop a1 $shared a2"),
      (2L, s"b1 $shared $stop $stop b2"),
      (3L, s"c1 c2 $stop $stop c3 c4"),
      (4L, s"$stop $stop d1 d2 d3 d4"))
      .toDF("doc_id", "text")
    val got = TextPipeline.duplicateSubstrings(docs, "doc_id", "text",
        minRun = 10, anchorFreqCap = 4)
      .as[(Long, Long, Long)].collect().toSeq
    // only the 12-token boilerplate pair survives: the stop-gram runs
    // (10 tokens of "of the and of the of the and of the" shared by all
    // six pairs) are exactly the non-discriminative fan-out the cap cuts
    assert(got == Seq((1L, 2L, 12L)), s"got $got")
    // without the cap the stop-gram runs flood in — pins that the cap
    // is load-bearing, not vacuous
    val uncapped = TextPipeline.duplicateSubstrings(docs, "doc_id", "text",
        minRun = 10, anchorFreqCap = 1000000)
      .as[(Long, Long, Long)].collect().toSeq
    assert(uncapped.size == 6, s"expected all 6 stop-gram pairs, got $uncapped")
  }

  test("bm25TopK: candidates only, tf raises and length normalization lowers the score") {
    val docs = Seq(
      (1L, "cat dog"),                          // tf(cat)=1, dl=2
      (2L, "cat cat dog dog dog dog dog dog"),  // tf(cat)=2 but dl=8
      (3L, "dog bird bird bird"))               // no cat
      .toDF("doc_id", "text")
    val qs = Seq((7L, "cat")).toDF("query_id", "qtext")
    val tokens = TextPipeline.docTokens(docs, "doc_id", "text")
    val got = TextPipeline.bm25TopK(tokens, TextPipeline.docLengths(tokens),
        qs, "query_id", "qtext", 10)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // only docs containing a query term are candidates; the short doc's
    // single occurrence outranks the long doc's two (b=0.75 length
    // normalization beats the saturated second occurrence here)
    assert(got.map(r => (r._1, r._2, r._3)) == Seq((7L, 1L, 1L), (7L, 2L, 2L)), s"got $got")
    assert(got.forall(_._5 == 1L), s"each doc matched exactly one query term: $got")
    assert(got.head._4 > got(1)._4, s"scores must strictly order the ranking: $got")
  }

  test("bpeStep: argmax pair merges greedily left-to-right, hand-computed vocab") {
    val docs = Seq(
      (1L, "a b a b c"),  // two "a b" occurrences
      (2L, "a b"),
      (3L, "b a a b"))    // "b a", "a a", "a b"
      .toDF("doc_id", "text")
    // pair counts: "a b"=4, "b a"=2, rest 1 → merge "a b" → "a@b"
    val got = TextPipeline.bpeStep(docs, "doc_id", "text")
      .as[(Long, String, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, "a b", 5L, 2L, "a@b a@b c"),
      (2L, "a b", 2L, 1L, "a@b"),
      (3L, "a b", 4L, 1L, "b a a@b")), s"got $got")
    // overlapping occurrences merge greedily, not pairwise: "a a a"
    // yields ONE merge (a@a a), the BPE application order
    val runs = Seq((1L, "a a a")).toDF("doc_id", "text")
    val g2 = TextPipeline.bpeStep(runs, "doc_id", "text")
      .as[(Long, String, Long, Long, String)].collect().toSeq
    assert(g2 == Seq((1L, "a a", 3L, 1L, "a@a a")), s"got $g2")
    // the step composes with itself via new_text: round 2 over round
    // 1's rewrite merges the next pair ("a@b c" appears twice below)
    val step1 = TextPipeline.bpeStep(
      Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text"),
      "doc_id", "text")
    val step2 = TextPipeline.bpeStep(
      step1.select(col("doc_id"), col("new_text").as("text")), "doc_id", "text")
      .as[(Long, String, Long, Long, String)].collect().toSeq
    assert(step2 == Seq(
      (1L, "a@b c", 3L, 1L, "a@b@c d"),
      (2L, "a@b c", 3L, 1L, "a@b@c e")), s"got $step2")
  }

  test("bpeLearn: the merge list IS the chained bpeStep composition; exhaustion stops the loop") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    val learned = TextPipeline.bpeLearn(docs, "doc_id", "text", 3)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(learned.map(_._1) == Seq(1L, 2L, 3L), s"steps must be dense: $learned")
    // replay: three manual bpeStep compositions must pick the same pairs
    // and apply the same number of merges
    var corpus = docs.select(col("doc_id"), col("text"))
    val replayed = (1 to 3).map { _ =>
      val step = TextPipeline.bpeStep(corpus, "doc_id", "text", ordered = false)
      val agg = step.groupBy("pair")
        .agg(sum("n_merges").as("m"), count(lit(1)).as("rows"))
        .as[(String, Long, Long)].collect().toSeq
      assert(agg.size == 1)
      corpus = step.select(col("doc_id"), col("new_text").as("text"))
      (agg.head._1, agg.head._2)
    }
    assert(learned.map(l => (l._2, l._4)) == replayed,
      s"learned $learned vs replayed $replayed")
    // a corpus with no adjacent pairs exhausts immediately: empty list
    val single = Seq((1L, "solo"), (2L, "word")).toDF("doc_id", "text")
    assert(TextPipeline.bpeLearn(single, "doc_id", "text", 5).count() == 0L)
  }

  test("bpeLearn fusion tie-reject: an equal-count sharer keeps the round sequential") {
    // counts: (a z)=3, (z b)=2, (c d)=2 → #1 = (a z); tie at 2 breaks
    // to #2 = (c d), DISJOINT from #1 — but the sharer (z b) TIES n2,
    // and after merging (a z) its derived bigram "a@z b" outranks
    // "c d" on the string tie-break ('a' < 'c'). Fusing (c d) into
    // round 1 would therefore diverge from the sequential chain — the
    // r14 safe-fusion condition must reject the tie and merge
    // "a@z b" second, exactly like chained bpeStep.
    val docs = Seq((1L, "a z b"), (2L, "a z b"), (3L, "a z"),
      (4L, "c d"), (5L, "c d")).toDF("doc_id", "text")
    val learned = TextPipeline.bpeLearn(docs, "doc_id", "text", 2)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(learned.map(l => (l._1, l._2, l._3)) ==
      Seq((1L, "a z", 3L), (2L, "a@z b", 2L)),
      s"fusion must not override the sequential tie-break: $learned")
  }

  test("bpeLearn fusion doubled-token reject: p1 with a repeated token stays sequential") {
    // counts: (t t)=9, (c d)=2 → #1 = (t t), #2 = (c d) disjoint from
    // #1 with no other sharer — every PRE-r15 fusion condition holds.
    // But merging the doubled-token pair (t t) over the run creates
    // "t@t t@t t@t t@t t@t", whose new pair (t@t, t@t) counts 4 > 2:
    // it is a sub-pattern of p1 itself, not of any sharer the sample
    // check sees, so fusing (c d) would diverge from the sequential
    // chain the oracle replays. The r15 condition (d) — p1's tokens
    // must be distinct — must keep the round sequential, and merge 2
    // must be the true post-merge-1 argmax (t@t t@t).
    val docs = Seq((1L, "t t t t t t t t t t"), (2L, "c d"), (3L, "c d"))
      .toDF("doc_id", "text")
    val learned = TextPipeline.bpeLearn(docs, "doc_id", "text", 2)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(learned.map(l => (l._1, l._2, l._3)) ==
      Seq((1L, "t t", 9L), (2L, "t@t t@t", 4L)),
      s"doubled-token p1 must not fuse: $learned")
  }

  test("q_domain_mixture: plan reconciles with per-domain token masses; both directions fire") {
    val rows = run("q_domain_mixture")
      .as[(String, Long, Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(rows.map(_._4).sum == 10000L, "declared shares must sum to 10000 bp")
    val budget = rows.map(_._3).sum * 60 / 100
    rows.foreach { r =>
      assert(r._5 == budget * r._4 / 10000, s"target_tokens must be the budget share: $r")
      assert(r._6 == math.min(1000000L, r._5 * 1000000L / r._3), s"rate must follow: $r")
      assert(r._7 == r._5 * 10000L / r._3, s"epochs must follow: $r")
      assert(r._8 == (r._3 < r._5), s"deficit flag must follow: $r")
    }
    assert(rows.exists(r => r._8 && r._7 > 10000L && r._6 == 1000000L),
      s"an upsampled (deficit, >1 epoch) domain must exist: $rows")
    assert(rows.exists(r => !r._8 && r._6 < 1000000L),
      s"a down-sampled domain must exist: $rows")
  }

  test("q_dedup_url: canonicalization collapses exactly the scheme/query/slash variants") {
    val rows = run("q_dedup_url")
      .as[(String, Long, Long, Long)].collect().toSeq
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    assert(rows.map(_._3).sum == docs.count(),
      "every doc lands in exactly one canonical group")
    assert(rows.exists(_._3 > 1), "real URL collisions must exist")
    assert(rows.exists(_._4 > 1),
      "some group must collapse DIFFERENT raw spellings (scheme/query junk)")
    rows.foreach { case (cu, _, _, _) =>
      assert(!cu.contains("?") && !cu.startsWith("www.") && !cu.endsWith("/") &&
        cu == cu.toLowerCase && !cu.startsWith("http"),
        s"canonical url not canonical: $cu")
    }
    // and ONLY those: distinct pages never collapse — group count equals
    // the corpus's distinct (source, doc_id % 7) page identities
    val expectedGroups = docs
      .select(col("source"), pmod(col("doc_id"), lit(7L))).distinct().count()
    assert(rows.size.toLong == expectedGroups,
      s"groups ${rows.size} must equal distinct page identities $expectedGroups")
  }

  test("dedupClusters forced label-prop: a chain graph converges to its min-id root") {
    // chain graph: the case pointer-jumping needs rounds for, forced past
    // the fused gate so the distributed loop itself runs
    val chain = Seq((1L, "x"), (2L, "x"), (3L, "x")).toDF("doc_id", "text")
    val chainPairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0)).toDF("doc_id_1", "doc_id_2", "jaccard")
    val lpc = forcedDistributed(TextPipeline.dedupClusters(chain, "doc_id", chainPairs))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(lpc == Seq((1L, 1L), (2L, 1L), (3L, 1L)), s"lp=$lpc")
  }

  test("packGlobal: bins never exceed the budget; cross-doc fill beats the per-doc tails it consumed") {
    val chunks = TextPipeline.chunkDocuments(
        graft.engine.io.Tables.documents(spark, sfDir), "doc_id", "text", 32, 8)
      .select("doc_id", "chunk_idx", "n_toks")
    val budget = 64
    val bins = TextPipeline.packGlobal(chunks, "doc_id", "chunk_idx", "n_toks", budget)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(bins.nonEmpty)
    // the capacity-class invariant: c members of size <= budget/c fit
    assert(bins.forall(_._5 <= budget), s"bin over budget: ${bins.filter(_._5 > budget)}")
    // every FULL bin (n_parts == pack_class) is > 50% full by construction
    val full = bins.filter(b => b._4 == b._1)
    assert(full.nonEmpty && full.forall(_._6 > 5000),
      s"underfull full-bin: ${full.filter(_._6 <= 5000)}")
    // token conservation + consolidation: same tokens, fewer rows than the
    // underfull sequences fed in => average fill strictly improves
    val perSeq = TextPipeline.packSequences(chunks, "doc_id", "chunk_idx", "n_toks", budget)
      .groupBy("doc_id", "seq_id").agg(sum("n_toks").as("t"))
      .filter(col("t") < budget).as[(Long, Long, Long)].collect().toSeq
    assert(bins.map(_._5).sum == perSeq.map(_._3).sum, "tokens must be conserved")
    assert(bins.size < perSeq.size,
      s"repacking must consolidate: ${bins.size} bins vs ${perSeq.size} tails")
  }

  test("tokenize: op ∘ tokenize(messy) ≡ op(clean) for downstream text operators") {
    val clean = graft.engine.io.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    // whitespace-only corruption: the normalizer must recover the clean
    // corpus EXACTLY (the corpus-contract guarantee)
    val messy = clean.select(col("doc_id"),
      concat(lit(" \t "), regexp_replace(col("text"), " ", " \n  "), lit("  ")).as("text"))
    val recovered = TextPipeline.tokenize(messy, "doc_id", "text")
      .select(col("doc_id"), col("text_tok").as("text"))
    assert(recovered.join(clean.withColumnRenamed("text", "t0"), "doc_id")
      .filter(col("text") =!= col("t0")).count() == 0L,
      "tokenize must recover the clean corpus from whitespace noise")
    // downstream ops see identical inputs ⇒ identical outputs
    val statsClean = TextPipeline.ngramStats(clean, "text", 5)
      .as[(String, Long)].collect().toSeq
    val statsMessy = TextPipeline.ngramStats(recovered, "text", 5)
      .as[(String, Long)].collect().toSeq
    assert(statsClean == statsMessy && statsClean.nonEmpty)
    val countsClean = TextPipeline.tokenCounts(clean, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    val countsMessy = TextPipeline.tokenCounts(recovered, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    assert(countsClean == countsMessy)
    // punctuation isolation: attached punct becomes its own token
    val punct = Seq((1L, "Hello, world! (really)")).toDF("doc_id", "text")
    val got = TextPipeline.tokenize(punct, "doc_id", "text", splitPunct = true)
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "Hello , world ! ( really )", 7L)), s"got $got")
  }

  test("lmScoreBackoff: every back-off level triggers and scores hand-computed integers") {
    // train: trigrams {"a b c":2, "b c a":1, "c a b":1}; bigrams
    // {"a b":2, "b c":2, "c a":1}; unigrams {a:2, b:2, c:2}; T=6
    val train = Seq((1L, "a b c a b c")).toDF("doc_id", "text")
    val lm = TextPipeline.lmTableBackoff(train, "doc_id", "text")
    val score = Seq(
      (10L, "a b c"),   // seen trigram: floor(1e6*2/2("a b")) = 1000000
      (11L, "x b c"),   // unseen trigram, back-off bigram "b c": floor(4e5*2/2(b)) = 400000
      (12L, "x y c"),   // only unigram "c": floor(1.6e5*2/6) = 53333
      (13L, "x y z"))   // fully unseen: 0
      .toDF("doc_id", "text")
    val got = TextPipeline.lmScoreBackoff(score, "doc_id", "text", lm)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (10L, 1L, 1000000L), (11L, 1L, 400000L), (12L, 1L, 53333L), (13L, 1L, 0L)),
      s"got $got")
  }

  test("perplexityBuckets: tercile verdicts match a per-stratum sort-based recomputation") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    val got = TextPipeline.perplexityBuckets(docs, "doc_id", "text", "lang",
        TextPipeline.lmTableBackoff(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text"))
      .as[(Long, String, Long, String)].collect()
    assert(got.nonEmpty)
    got.groupBy(_._2).foreach { case (lang, rows) =>
      val scores = rows.map(_._3).sortBy(-_)
      val n = scores.length
      val tHead = scores((n + 2) / 3 - 1)
      val tMid = scores((2 * n + 2) / 3 - 1)
      rows.foreach { case (id, _, sc, b) =>
        val expect = if (sc >= tHead) "head" else if (sc >= tMid) "middle" else "tail"
        assert(b == expect, s"doc $id lang $lang score $sc: got $b, expect $expect")
      }
      // head = docs with score >= the ceil(n/3)-th largest, so ties at
      // the cut can only grow the bucket past n/3, never shrink it
      assert(rows.count(_._4 == "head") >= (n + 2) / 3, s"$lang head bucket collapsed")
      assert(rows.count(_._4 != "tail") >= (2 * n + 2) / 3, s"$lang head+middle collapsed")
    }
  }

  test("vocabCoverage: OOV verdicts match a collected-vocab recomputation; rates bounded") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    val got = TextPipeline.vocabCoverage(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect()
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0).as[(Long, String)].collect()
    val freq = toks.filter(_._1 % 2 == 0).groupBy(_._2).view.mapValues(_.length).toMap
    val vocab = freq.toSeq.sortBy { case (t, c) => (-c, t) }.take(256).map(_._1).toSet
    val perDoc = toks.groupBy(_._1)
    assert(got.length == perDoc.size, "one row per doc with tokens")
    got.foreach { case (id, nToks, nOov, bp) =>
      val ts = perDoc(id).map(_._2)
      assert(nToks == ts.length, s"doc $id token count")
      assert(nOov == ts.count(t => !vocab(t)), s"doc $id oov count")
      assert(bp == math.floor(10000.0 * nOov / nToks).toLong && bp >= 0 && bp <= 10000)
    }
  }

  test("winnowFingerprints: hand-checked selection; under-k docs emit nothing") {
    import graft.engine.functions.PolyHash31
    import org.apache.spark.unsafe.types.UTF8String
    def h(s: String): Long = PolyHash31.hash(UTF8String.fromString(s))
    val docs = Seq(
      (1L, "a b c d"),              // < k tokens: no grams, no fingerprints
      (2L, "a b c d e"),            // exactly one gram: one window of one
      (3L, "a b c d e f g h i")     // 5 grams, windows [1..4],[2..5]
    ).toDF("doc_id", "text")
    val got = TextPipeline.winnowFingerprints(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSeq
    assert(!got.exists(_._1 == 1L))
    assert(got.filter(_._1 == 2L) == Seq((2L, 1L, h("a b c d e"))))
    // doc 3: two windows over the 5 gram hashes; each selects its
    // rightmost-minimal hash
    val g3 = Seq("a b c d e", "b c d e f", "c d e f g", "d e f g h",
      "e f g h i").map(h)
    def rightmostMin(win: Seq[Long], base: Int): (Long, Long) = {
      val m = win.min
      val pos = base + win.lastIndexOf(m)
      (pos.toLong + 1L, m)
    }
    val expect3 = Seq(rightmostMin(g3.slice(0, 4), 0), rightmostMin(g3.slice(1, 5), 1))
      .distinct.map { case (p, f) => (3L, p, f) }
    assert(got.filter(_._1 == 3L).sortBy(_._2) == expect3.sortBy(_._2), s"got $got")
  }

  test("lmScore: corpus bigram-LM fluency is exact integer arithmetic, hand-computed") {
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    // unigrams a:3 b:2 c:1; bigrams "a b":2 "b a":1 "a c":1
    // conds: a b -> floor(1e6*2/3)=666666, b a -> 500000, a c -> 333333
    // doc1 = floor((666666+500000+666666)/3) = 611110; doc2 = 333333
    val got = TextPipeline.lmScore(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 611110L), (2L, 1L, 333333L)), s"got $got")
  }

  test("repetitionMetrics: duplicate n-gram basis points are exact") {
    val docs = Seq(
      (1L, "a b a b a"), // bigrams 4/2 distinct → 5000 bp; trigrams 3/2 → 3333 bp
      (2L, "x y z"),     // all distinct → 0
      (3L, "w")          // too short for any n-gram → 0
    ).toDF("doc_id", "text")
    val got = TextPipeline.repetitionMetrics(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 5L, 5000L, 3333L), (2L, 3L, 0L, 0L), (3L, 1L, 0L, 0L)),
      s"got $got")
  }

  test("hot-band salt fallback emits EXACTLY the unsalted pair set on both LSH paths") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    // cap=2 is deliberately brutal: every bucket of ≥3 members splits,
    // exercising cross-cell, diagonal-cell, and s=1 branches at once
    val groups = Similarity.tokenSetGroups(docs, "doc_id", "text")
    val base = Similarity.minhashNearDup(groups, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    val salted = Similarity.minhashNearDup(groups, 0.9, saltCap = Some(2))
      .as[(Long, Long, Double)].collect().toSet
    assert(salted == base,
      s"salt changed the pair set: +${salted -- base} -${base -- salted}")
    assert(base.nonEmpty, "vacuous fixture")
    val planted = Similarity.withPlantedNearDups(
      graft.engine.io.Tables.embeddings(spark, sfDir))
    val eBase = Similarity.embeddingNearDup(planted, "vec_id", "embedding", 0.99)
      .as[(Long, Long, Double)].collect().toSet
    val eSalted = Similarity.embeddingNearDup(planted, "vec_id", "embedding", 0.99,
        saltCap = Some(2))
      .as[(Long, Long, Double)].collect().toSet
    assert(eSalted == eBase && eBase.nonEmpty)
    // the two-sided incremental salt (reference-bucket split + delta
    // probe replication) must also be pair-for-pair invisible
    val ref = docs.filter(col("doc_id") < 250)
    val delta = docs.filter(col("doc_id") >= 250)
    val iBase = Similarity.minhashNearDupIncremental(ref, delta,
        "doc_id", "text", 0.9, ordered = false)
      .as[(Long, Long, Double)].collect().toSet
    val iSalted = Similarity.minhashNearDupIncremental(ref, delta,
        "doc_id", "text", 0.9, ordered = false, saltCap = Some(2))
      .as[(Long, Long, Double)].collect().toSet
    assert(iSalted == iBase && iBase.nonEmpty,
      s"incremental salt changed the pair set: +${iSalted -- iBase} -${iBase -- iSalted}")
    // the fallback is strictly opt-in: the default plan carries no salt stage
    val p = Similarity.minhashNearDup(groups, 0.9)
      .queryExecution.executedPlan.toString
    assert(!p.contains("salt_lo"), "salt stage must not appear unless enabled")
  }

  test("annQuantized ranks a planted near-copy of the query first") {
    val planted = Similarity.withPlantedNearDups(
      graft.engine.io.Tables.embeddings(spark, sfDir))
    val top = Similarity.annQuantized(planted, "vec_id", "embedding", 0L, 5)
      .as[(Long, Long)].collect().toSeq
    assert(top.head._1 == 1000000L,
      s"the near-identical copy of vec 0 must win integer MIPS: $top")
  }

  test("annPq ranks a planted near-copy of the query first under integer ADC") {
    val planted = Similarity.withPlantedNearDups(
      graft.engine.io.Tables.embeddings(spark, sfDir))
    val top = Similarity.annPq(planted, "vec_id", "embedding",
        Similarity.pqCodebook(planted, "vec_id", "embedding"), 0L, 5)
      .as[(Long, Long)].collect().toSeq
    assert(top.head._1 == 1000000L,
      s"the near-identical copy of vec 0 must minimize the ADC distance: $top")
  }

  test("mmrSelect: near-duplicate candidates cannot both win; plain top-k would pick both") {
    val planted = Similarity.withPlantedNearDups(
      graft.engine.io.Tables.embeddings(spark, sfDir))
    val plain = Similarity.knnCosine(planted, "vec_id", "embedding", 0L, 5)
      .as[(Long, Double)].collect().map(_._1).toSet
    val mmr = Similarity.mmrSelect(planted, "vec_id", "embedding", 0L, 20, 5)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(mmr.map(_._1) == (1L to 5L), s"ranks must be dense: $mmr")
    val picked = mmr.map(_._2).toSet
    def dupPairIn(s: Set[Long]) = s.exists(id => s.contains(id + 1000000L))
    // the planted corpus makes the scenario non-vacuous: cosine top-5
    // happily keeps an original AND its near-copy
    assert(dupPairIn(plain), s"fixture must tempt plain top-k with a dup pair: $plain")
    // the 3x max-sim penalty (sim ~ 1e6 for a planted pair) must beat
    // any 5x relevance gain left in the near-orthogonal tail
    assert(!dupPairIn(picked), s"MMR kept a near-dup pair: $picked")
    // and the most relevant candidate still wins round 1
    assert(mmr.head._2 == 1000000L, s"rank 1 must be the query's near-copy: $mmr")
  }

  test("annIvfPq: cell pruning never changes a survivor's ADC distance; hits live in probed cells") {
    val emb = graft.engine.io.Tables.embeddings(spark, sfDir)
    val cb = Similarity.pqCodebook(emb, "vec_id", "embedding")
    val full = Similarity.annPq(emb, "vec_id", "embedding", cb, 0L, 1000000)
      .as[(Long, Long)].collect().toMap
    val ivfpq = Similarity.annIvfPq(emb, "vec_id", "embedding", cb, 0L, 10)
      .as[(Long, Long)].collect().toSeq
    assert(ivfpq.nonEmpty)
    // ADC is per-vector: the probe prunes candidates, never rescores them
    ivfpq.foreach { case (id, adist) =>
      assert(full(id) == adist, s"probe changed vec $id's ADC distance")
    }
    // and the probe genuinely prunes: some full-corpus ADC top-10 ids
    // may be outside the probed cells, but every ivfpq hit must rank no
    // better than its full-corpus position (subset ranking sanity)
    val fullTop = full.toSeq.sortBy { case (id, d) => (d, id) }.map(_._1)
    val pos = fullTop.zipWithIndex.toMap
    assert(ivfpq.map(h => pos(h._1)).sorted == ivfpq.map(h => pos(h._1)),
      "ivfpq must preserve the ADC order")
  }

  test("kmeansTrain: three Lloyd rounds keep counts conserved and actually move the codebook") {
    val emb = graft.engine.io.Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val t3 = Similarity.kmeansTrain(emb, "vec_id", "embedding", 3).cache()
    try {
      val perDim = t3.groupBy("dim").agg(sum("n").as("tot")).select("tot").as[Long].collect()
      assert(perDim.nonEmpty && perDim.forall(_ == n),
        s"every dim must see every vector exactly once: ${perDim.distinct.toSeq}")
      // training must differ from the single seed step (the loop does work)
      val step1 = Similarity.kmeansStep(emb, "vec_id", "embedding")
        .select("cell", "dim", "n").as[(Long, Long, Long)].collect().toSet
      val got3 = t3.select("cell", "dim", "n").as[(Long, Long, Long)].collect().toSet
      assert(got3 != step1, "3 trained rounds must reassign at least one vector")
    } finally { t3.unpersist() }
  }

  // r10: the production form of SemDeDup — trained, caller-sized
  // codebook (k grows with the corpus so cell population stays bounded;
  // since r17 the literal overload falls over to this path past its
  // counted population gate, which retired the ladder's last
  // declared_xl_exempt entry). Verified against a full driver-side
  // replication: same argmax tie rule, same per-element float->double
  // left-to-right dot, same HALF_UP rounding.
  test("semanticDedup(trained codebook): exactly the same-cell exact-cosine hits") {
    val emb = graft.engine.io.Tables.embeddings(spark, sfDir)
    val cb = Similarity.ivfCodebook(emb, "vec_id", "embedding", 2)
    val got = Similarity.semanticDedup(emb, "vec_id", "embedding", 0.35, cb)
      .select("vec_id_1", "vec_id_2", "cos_sim").as[(Long, Long, Double)].collect().toSet
    val cbl = cb.as[(Long, Seq[Double])].collect().toSeq
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
      .map { case (id, v) => id -> v.map(_.toDouble) }
    def dotp(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.size) { s += a(i) * b(i); i += 1 }
      s
    }
    val cell = vecs.map { case (id, v) =>
      id -> -cbl.map { case (c, ctr) => (dotp(v, ctr), -c) }.max._2
    }.toMap
    val want = (for {
      (i, vi) <- vecs; (j, vj) <- vecs
      if i < j && cell(i) == cell(j)
      cs = BigDecimal(dotp(vi, vj) / (math.sqrt(dotp(vi, vi)) * math.sqrt(dotp(vj, vj))))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cs >= 0.35
    } yield (i, j, cs)).toSet
    assert(got.nonEmpty, "trained-cell blocking must find topic-level pairs")
    assert(got == want,
      s"only-engine=${(got -- want).take(3)} only-ref=${(want -- got).take(3)}")
  }

  // r17 (retiring the ladder's last xl exemption): past the counted
  // cell-population gate the literal overload retrains a corpus-sized
  // codebook (ivfCodebookSized, deterministic keyMix seeds) and runs
  // the trained path. Pinned by FULL driver replication — the sized
  // trainer is deterministic, so rebuilding the same codebook and
  // replaying assignment + within-cell cosine on the driver must
  // reproduce the gated call's pair set exactly. Identical vectors
  // always share a cell (same dots, id-free tie rule), so every
  // replica-twin pair is structurally guaranteed in the output.
  test("semanticDedup: past the population gate, the retrained-codebook path is exact") {
    val base = graft.engine.io.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val big = (0 until 9).map(r =>
        base.select((col("vec_id") + lit(10000L * r)).as("vec_id"), col("embedding")))
      .reduce(_ unionAll _)
    val n = big.count()
    assert(n > 16L * 256L, s"fixture must sit past the gate: n=$n")
    val got = Similarity.semanticDedup(big, "vec_id", "embedding", 0.35)
      .select("cell", "vec_id_1", "vec_id_2", "cos_sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got.exists(_._1 > 16L),
      "hits in cells beyond the 16 literal centroids prove the retrain fired")
    val k = math.max(16, math.ceil(n.toDouble / 128.0).toInt)
    val cbl = Similarity.ivfCodebookSized(big, "vec_id", "embedding", k, 2)
      .as[(Long, Seq[Double])].collect().toSeq
    val vecs = big.as[(Long, Seq[Float])].collect().toSeq
      .map { case (id, v) => id -> v.map(_.toDouble) }
    def dotp(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.size) { s += a(i) * b(i); i += 1 }
      s
    }
    val cell = vecs.map { case (id, v) =>
      id -> -cbl.map { case (c, ctr) => (dotp(v, ctr), -c) }.max._2
    }.toMap
    val want = vecs.groupBy { case (id, _) => cell(id) }.iterator.flatMap {
      case (c, members) =>
        for {
          (i, vi) <- members; (j, vj) <- members
          if i < j
          cs = BigDecimal(dotp(vi, vj) / (math.sqrt(dotp(vi, vi)) * math.sqrt(dotp(vj, vj))))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          if cs >= 0.35
        } yield (c, i, j, cs)
    }.toSet
    assert(got == want,
      s"only-engine=${(got -- want).take(3)} only-ref=${(want -- got).take(3)}")
    // the structural recall floor: every replica-twin pair is present
    val ids = vecs.map(_._1).toSet
    val missingTwin = (for {
      id <- ids; r <- 1 to 8; twin = id + 10000L * r
      if ids.contains(twin) && id % 10000L == twin % 10000L
    } yield (id, twin)).find(p => !got.exists(g => g._2 == p._1 && g._3 == p._2))
    assert(missingTwin.isEmpty, s"identical vectors must always pair: $missingTwin")
  }

  // r10: multi-probe candidates are a strict SUPERSET of the exact-
  // bucket candidates (probe set contains the exact key), so at every
  // rank the multi-probe result dominates — and on this fixture the
  // extra probes genuinely surface neighbors the single bucket misses.
  test("annLshMultiprobe: dominates annLsh rank-for-rank and finds strictly more") {
    val emb = graft.engine.io.Tables.embeddings(spark, sfDir)
    val lsh = Similarity.annLsh(emb, "vec_id", "embedding", 0, 10)
      .as[(Long, Double)].collect().toSeq
    val mp = Similarity.annLshMultiprobe(emb, "vec_id", "embedding", 0, 10)
      .as[(Long, Double)].collect().toSeq
    assert(mp.nonEmpty)
    lsh.map(_._2).zip(mp.map(_._2)).foreach { case (l, m) =>
      assert(m >= l, s"multi-probe must dominate at every rank: $m < $l")
    }
    // recall vs the exact top-10 must not regress — and the fixture's
    // probes genuinely add at least one candidate the bucket missed
    val exact = run("q_sim_cosine").select("vec_id").as[Long].collect().toSet
    val rLsh = lsh.map(_._1).count(exact) ; val rMp = mp.map(_._1).count(exact)
    assert(rMp >= rLsh, s"recall must not regress: $rMp < $rLsh")
    assert(mp.map(_._1).toSet != lsh.map(_._1).toSet || mp.map(_._2).sum > lsh.map(_._2).sum,
      "the flipped buckets must change the candidate pool on the fixture")
  }

  // r10: MRR must cohere with the retrieval operators it audits — a
  // reciprocal rank of 10000 bp means the ANN ranking's top row IS the
  // exact top-1; rank_found = 0 means the truth id appears nowhere in
  // the ANN candidates.
  test("retrievalMrr: ranks agree with the ANN ranking and the exact truth") {
    val mrr = run("q_retrieval_mrr")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(mrr.map(_._1) == Seq(1L, 2L, 3L), s"one row per probe: $mrr")
    val ann = run("q_ann_rerank")
      .select("q_id", "vec_id", "rk").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._3) -> r._2).toMap
    mrr.foreach { case (q, truth, rank, bp) =>
      if (rank == 0) {
        assert(bp == 0, s"miss must score 0: $q")
        assert(!ann.exists { case ((aq, _), v) => aq == q && v == truth },
          s"rank 0 must mean truly absent from the ANN list: $q")
      } else {
        assert(ann((q, rank)) == truth, s"rank must point at the truth id: $q")
        assert(bp == 10000 / rank, s"bp must be the integer reciprocal: $q")
      }
    }
    // the fixture signal is real: at least one hit and one miss
    assert(mrr.exists(_._3 == 0) && mrr.exists(_._3 > 0), s"non-vacuous: $mrr")
  }

  test("pqTrainIters: one round IS pqTrain; a second Lloyd round reassigns slices") {
    val emb = graft.engine.io.Tables.embeddings(spark, sfDir)
    val one = Similarity.pqTrainIters(emb, "vec_id", "embedding", 1)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val base = Similarity.pqTrain(emb, "vec_id", "embedding")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(one == base, "iters=1 must degenerate to the single seed step")
    val two = Similarity.pqTrainIters(emb, "vec_id", "embedding", 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(two.map(t => (t._1, t._2, t._4)).toSet != base.map(t => (t._1, t._2, t._4)).toSet,
      "round 2 must move at least one slice between codes")
  }

  /** Jobs `body` schedules, counted by a listener fenced with a marker job. */
  private def jobsOf(tag: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val fenceKey = "graft.test.fence"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(fenceKey) == tag)) fenced.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      // the listener bus is FIFO: once a job started after the body is
      // seen, every job the body scheduled has been delivered
      sc.setLocalProperty(fenceKey, tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(fenceKey, null)
      assert(fenced.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus drain")
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** `body` with the iterative graph operators forced past their fused gate. */
  private def forcedDistributed[T](body: => T): T = {
    spark.conf.set("spark.graft.localMaxEdges", "0")
    try body finally spark.conf.unset("spark.graft.localMaxEdges")
  }

  // The Lloyd trainers bring each round's codebook back to the driver
  // instead of caching per-round frames: a call leaves no cached RDD
  // behind, and a repeat call trains again rather than reading an
  // earlier call's blocks, so it schedules as many jobs as the first.
  test("Lloyd trainers leave no cached RDDs; a repeat call schedules as many jobs") {
    // a no-op filter no other test applies: a frame an earlier test left
    // cached cannot match these plans, so the first call trains cold
    val emb = graft.engine.io.Tables.embeddings(spark, sfDir).filter(col("vec_id") =!= -7L)
    val sc = spark.sparkContext
    val trainers = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "kmeansTrain(3)" -> (() => Similarity.kmeansTrain(emb, "vec_id", "embedding", 3)),
      "pqTrainIters(2)" -> (() => Similarity.pqTrainIters(emb, "vec_id", "embedding", 2)),
      "ivfCodebookSized(24, 2)" ->
        (() => Similarity.ivfCodebookSized(emb, "vec_id", "embedding", 24, 2)))
    trainers.foreach { case (name, train) =>
      val cached0 = sc.getPersistentRDDs.size
      val first = jobsOf(s"$name-1") { train().collect(); () }
      assert(sc.getPersistentRDDs.size == cached0,
        s"$name left ${sc.getPersistentRDDs.size - cached0} cached RDDs behind")
      val repeat = jobsOf(s"$name-2") { train().collect(); () }
      assert(repeat == first, s"$name: the repeat call scheduled $repeat jobs, the first $first")
    }
  }

  test("annPqRerank: ADC prunes, the exact scorer decides — scores match brute-force cosine") {
    val exact = run("q_sim_cosine").as[(Long, Double)].collect().toMap
    val rr = run("q_ann_pq_rerank").as[(Long, Long, Double, Long)].collect().toSeq
    assert(rr.map(_._1) == (1L to rr.size), s"ranks must be dense from 1: $rr")
    // every reranked candidate that brute force also saw carries the
    // identical exact score (the rerank IS the exact scorer)
    rr.foreach { case (_, id, cos, _) =>
      exact.get(id).foreach(e => assert(math.abs(e - cos) < 1e-9, s"score drift for $id"))
    }
    // recall sanity: the ADC prune at nCand=50 recovers most of the true top-10
    val recall = exact.keySet.intersect(rr.map(_._2).toSet).size / 10.0
    assert(recall >= 0.5, s"PQ rerank recall collapsed: $recall")
  }

  test("annMatryoshka: prefix tier prunes, full-width scorer decides; recall holds") {
    val exact = run("q_sim_cosine").as[(Long, Double)].collect().toMap
    val mk = run("q_ann_matryoshka").as[(Long, Long, Double, Double)].collect().toSeq
    assert(mk.map(_._1) == (1L to mk.size), s"ranks must be dense from 1: $mk")
    // the rerank IS the exact scorer: any candidate brute force also
    // ranked carries the identical full-width score
    mk.foreach { case (_, id, cos, _) =>
      exact.get(id).foreach(e => assert(math.abs(e - cos) < 1e-9, s"score drift for $id"))
    }
    // the 32-dim prefix at nCand=64 recovers most of the true top-10 —
    // the property the truncation tier exists to provide
    val recall = exact.keySet.intersect(mk.map(_._2).toSet).size / 10.0
    assert(recall >= 0.5, s"matryoshka recall collapsed: $recall")
    // the coarse provenance really is the truncated cosine (recompute
    // one candidate's prefix score in Scala from the raw floats)
    val emb = graft.engine.io.Tables.embeddings(spark, sfDir)
      .as[(Long, Array[Float], Int)].collect().map(r => r._1 -> r._2).toMap
    def pcos(a: Array[Float], b: Array[Float], n: Int): Double = {
      def fold(x: Array[Float], y: Array[Float]) =
        (0 until n).foldLeft(0.0)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
      fold(a, b) / (math.sqrt(fold(a, a)) * math.sqrt(fold(b, b)))
    }
    val q = emb(0L)
    mk.foreach { case (_, id, _, coarse) =>
      val expect = BigDecimal(pcos(emb(id), q, 32))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(expect - coarse) < 1e-9, s"coarse provenance drift for $id")
    }
  }

  test("dedupCanonical: one representative per cluster, maximal under the priority policy") {
    val got = run("q_dedup_canonical").as[(Long, Long, Long, Boolean)].collect().toSeq
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
      .selectExpr("doc_id",
        "(CASE WHEN source IN ('src0', 'src1') THEN 2 ELSE 1 END) * 1000000 + n_chars AS prio")
      .as[(Long, Long)].collect().toMap
    // covers every doc exactly once; clusters agree with q_dedup_clusters
    val clusters = run("q_dedup_clusters").as[(Long, Long)].collect().toMap
    assert(got.size == clusters.size)
    got.foreach { case (id, cl, _, _) => assert(cl == clusters(id), s"cluster drift for $id") }
    // exactly one canonical per cluster, and it maximizes (prio, -id)
    got.groupBy(_._2).foreach { case (cl, rows) =>
      val canon = rows.filter(_._4)
      assert(canon.size == 1, s"cluster $cl has ${canon.size} canonicals")
      val cid = canon.head._1
      assert(rows.forall(_._3 == cid), s"cluster $cl disagrees on its canonical")
      val best = rows.map(_._1).maxBy(id => (docs(id), -id))
      assert(cid == best, s"cluster $cl canonical $cid but policy argmax is $best")
    }
    // the policy must actually matter somewhere: at least one cluster's
    // canonical is NOT the smallest id (the dedupCorpus rule)
    assert(got.groupBy(_._2).values.exists(rows =>
      rows.size > 1 && rows.filter(_._4).head._1 != rows.map(_._1).min),
      "fixture never exercises a non-min-id canonical — weaken the priority packing?")
  }

  test("dedupWeights: survivors carry cluster multiplicity; mass is conserved") {
    val w = run("q_dedup_weights").as[(Long, Long, Long)].collect().toSeq
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    // Σ weight = |corpus| (upweighting preserves the distribution the
    // hard dedup would silently skew)
    assert(w.map(_._3).sum == docs.count(), "corpus mass must be conserved")
    assert(w.forall(_._3 >= 1L))
    // the survivor set IS the min-id representative set of the clusters
    val clusters = run("q_dedup_clusters").as[(Long, Long)].collect()
    val expect = clusters.groupBy(_._2).map { case (cl, rows) => (rows.map(_._1).min, cl) }.toSet
    assert(w.map(p => (p._1, p._2)).toSet == expect)
  }

  // r17: the transitive-chain audit — CC merges A–B and B–C into one
  // cluster whether or not A resembles C; the audit's min must surface
  // exactly jac(member, representative), hand-computed here.
  test("dedupClusterAudit: chain A-B-C surfaces jac(C, A); ppm arithmetic exact") {
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (2L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 x1"),  // jac(B,A) = 9/11
      (3L, "t1 t2 t3 t4 t5 y1 y2 y3 y4 y5"),  // jac(C,A) = 5/15 — never banded with A
      (4L, "lone doc far from everything")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_id_1", "doc_id_2")
    val got = TextPipeline.dedupClusterAudit(docs, "doc_id", "text",
        TextPipeline.dedupClusters(docs, "doc_id", pairs))
      .as[(Long, Long, Long, Long)].collect().toSeq
    // min = ⌊5e6/15⌋ = 333333; mean = ⌊(818181 + 333333)/2⌋ = 575757;
    // the singleton never emits
    assert(got == Seq((1L, 3L, 333333L, 575757L)), s"$got")
  }

  test("q_dedup_cluster_audit recomposes from the cluster table + exact jaccard") {
    val audit = run("q_dedup_cluster_audit")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val clusters = run("q_dedup_clusters").as[(Long, Long)].collect().toSeq
    val sets = graft.engine.io.Tables.documents(spark, sfDir)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("sh"))
      .as[(Long, Seq[String])].collect().map(r => r._1 -> r._2.toSet).toMap
    val expect = clusters.filter(p => p._1 != p._2).groupBy(_._2)
      .map { case (cl, rows) =>
        val rep = sets(cl)
        val ppms = rows.map { case (id, _) =>
          val s = sets(id); val i = (s & rep).size
          1000000L * i / (s.size + rep.size - i)
        }
        (cl, rows.size + 1L, ppms.min, ppms.sum / ppms.size)
      }.toSeq.sortBy(_._1)
    assert(audit == expect, "audit must equal the driver recomposition")
    assert(audit.nonEmpty, "fixture must carry non-singleton clusters")
  }

  test("spanPairs: disjoint same-doc spans, deterministic offsets, faithful text") {
    val got = run("q_span_pairs").as[(Long, Long, Long, Long, String, String)].collect().toSeq
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
      .as[(Long, String, String, String, Long)].collect()
      .map(r => r._1 -> r._2.split(" ").filter(_.nonEmpty)).toMap
    // only docs with >= 2*spanLen tokens emit, each exactly once
    assert(got.map(_._1).distinct.size == got.size)
    assert(got.map(_._1).toSet == docs.filter(_._2.length >= 16).keySet)
    got.foreach { case (id, n, aStart, bStart, spanA, spanB) =>
      val t = docs(id)
      assert(n == t.length)
      // spans are 8 tokens each, span A inside the first half, span B
      // inside the second — disjoint by construction
      assert(aStart + 7 <= n / 2 && bStart > n / 2 && bStart + 7 <= n,
        s"doc $id spans out of bounds: a=$aStart b=$bStart n=$n")
      assert(spanA == t.slice(aStart.toInt - 1, aStart.toInt + 7).mkString(" "))
      assert(spanB == t.slice(bStart.toInt - 1, bStart.toInt + 7).mkString(" "))
    }
    // pure function of the id: a second run is byte-identical
    val again = run("q_span_pairs").as[(Long, Long, Long, Long, String, String)].collect().toSeq
    assert(again == got)
  }

  test("hardNegatives: wrong-label-only, k per anchor, similarity-ranked like the knn join") {
    val hn = run("q_hard_negatives").as[(Long, Long, Int, Double, Long)].collect().toSeq
    val emb = graft.engine.io.Tables.embeddings(spark, sfDir)
      .as[(Long, Array[Float], Int)].collect()
    val labels = emb.map(r => r._1 -> r._3).toMap
    // every emitted negative carries a label different from its anchor's
    hn.foreach { case (qId, id, lbl, _, _) =>
      assert(lbl == labels(id) && lbl != labels(qId),
        s"negative $id (label $lbl) vs anchor $qId (label ${labels(qId)})")
    }
    // exactly k dense-ranked rows per anchor
    hn.groupBy(_._1).foreach { case (qId, rows) =>
      assert(rows.map(_._5).sorted == (1L to 5L), s"ranks for anchor $qId: $rows")
    }
    // reconciliation: the emitted set IS the top-5 wrong-label slice of
    // the unrestricted neighbor ranking (recomputed from raw floats)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def fold(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
      fold(a, b) / (math.sqrt(fold(a, a)) * math.sqrt(fold(b, b)))
    }
    Seq(1L, 2L, 3L).foreach { qId =>
      val qv = emb.find(_._1 == qId).get._2
      val expect = emb.filter(r => r._1 != qId && r._3 != labels(qId))
        .map { r =>
          val c = BigDecimal(cos(r._2, qv))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          (r._1, c)
        }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
      val got = hn.filter(_._1 == qId).sortBy(_._5).map(_._2)
      assert(got == expect.toSeq, s"anchor $qId: got $got expect ${expect.toSeq}")
    }
  }

  test("pqTrain partitions the corpus: per-(subspace,dim) counts sum to |corpus|; codebook spans most cells") {
    val emb = graft.engine.io.Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val t = Similarity.pqTrain(emb, "vec_id", "embedding").cache()
    try {
      val perDim = t.groupBy("subspace", "dim").agg(sum("n").as("tot"))
        .select("tot").as[Long].collect()
      assert(perDim.nonEmpty && perDim.forall(_ == n),
        s"every (subspace,dim) must see every vector exactly once: ${perDim.distinct.toSeq}")
      // a mis-scaled seed collapses the argmin onto a handful of codes —
      // the guard that caught the unscaled-Gaussian regression
      val cells = t.select("subspace", "code").distinct().count()
      assert(cells >= 64, s"codebook collapse: only $cells of 128 cells populated")
    } finally { t.unpersist() }
  }

  test("q_ann_ivf_bcast equals the literal-codebook q_ann_ivf row for row") {
    val literal = run("q_ann_ivf").as[(Long, Double)].collect().toSeq
    val bcast = run("q_ann_ivf_bcast").as[(Long, Double)].collect().toSeq
    assert(bcast == literal, s"broadcast-codebook variant diverged:\n$bcast\nvs\n$literal")
  }

  test("q_ann_lsh results are a subset of brute-force scoring, correctly scored") {
    val exact = run("q_sim_cosine").as[(Long, Double)].collect().toMap
    val approx = run("q_ann_lsh").as[(Long, Double)].collect().toMap
    // every ANN hit that IS in the exact top-10 must carry the same score
    approx.foreach { case (id, cos) =>
      exact.get(id).foreach(e => assert(math.abs(e - cos) < 1e-9, s"vec $id score drift"))
    }
    // recall sanity: buckets should recover a good share of the true top-10
    val recall = exact.keySet.intersect(approx.keySet).size / 10.0
    assert(recall >= 0.3, s"LSH recall collapsed: $recall (hits=${approx.keySet})")
  }

  test("q_ann_rerank composes the band probe with the exact scorer: scores match knnJoin, ranks are dense") {
    // the full-corpus exact scorer over the same probes, deep enough to
    // cover every candidate the bands can emit
    val exact = graft.engine.ops.Similarity.knnJoin(
        graft.engine.io.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
        Seq(1L, 2L, 3L), 100000)
      .select("q_id", "vec_id", "cos_sim").as[(Long, Long, Double)].collect()
      .map { case (q, v, c) => (q, v) -> c }.toMap
    val rr = run("q_ann_rerank").as[(Long, Long, Double, Long)].collect()
    assert(rr.nonEmpty, "band probe must produce candidates on the fixture")
    rr.foreach { case (q, v, c, _) =>
      assert(math.abs(exact((q, v)) - c) < 1e-9, s"rerank score drift for ($q,$v)")
    }
    // per query: ranks are 1..n with scores non-increasing (the exact
    // top-k contract over the candidate set)
    rr.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to sorted.length).toSeq, s"ranks not dense for $q")
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sortBy(-(_: Double)).toSeq,
        s"scores not ranked for $q")
    }
  }

  /** Exact UNBLOCKED token-set jaccard over all pairs (the ground truth
    * the probabilistic operators approximate; q_ngram_jaccard itself
    * blocks on (lang, n_chars), which is a different candidate space). */
  private def exactPairs(threshold: Double): Set[(Long, Long)] = {
    val base = graft.engine.io.Tables.documents(spark, sfDir)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("t"))
    val a = base.select(col("doc_id").as("d1"), col("t").as("ta"))
    val b = base.select(col("doc_id").as("d2"), col("t").as("tb"))
    val inter = size(array_intersect(col("ta"), col("tb"))).cast("double")
    a.join(b, col("d1") < col("d2"))
      .withColumn("j", inter / (size(col("ta")) + size(col("tb")) - inter))
      .filter(col("j") >= threshold)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
  }

  test("q_dedup_minhash: verified pairs ⊆ exact jaccard-0.9 pairs, with real recall") {
    val exact = exactPairs(0.9)
    val lsh = run("q_dedup_minhash").select("doc_id_1", "doc_id_2")
      .as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), s"false positives survived verification: ${lsh -- exact}")
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.4, s"MinHash recall too low: $recall of ${exact.size} pairs")
  }

  test("simhash pairs are genuinely near-duplicate (token jaccard ≥ 0.8)") {
    val sim = run("q_dedup_simhash").select("doc_id_1", "doc_id_2")
      .as[(Long, Long)].collect().toSet
    assert(sim.nonEmpty, "hamming≤3 pairs exist in this corpus")
    val loose = exactPairs(0.8)
    val precision = sim.intersect(loose).size.toDouble / sim.size
    assert(precision >= 0.8,
      s"simhash should surface high-jaccard pairs: precision=$precision, misses=${sim -- loose}")
  }

  test("fingerprint is order-sensitive: permuted docs get different fingerprints") {
    val fp = run("q_fingerprint").select("doc_id", "fp").as[(Long, Long)].collect().toMap
    assert(fp.values.toSet.size > fp.size / 2, "fingerprint collides too much to be useful")
  }

  test("lang_id is deterministic and total") {
    val l = run("q_lang_id")
    assert(l.filter(col("pred_lang").isNull).count() == 0)
    assert(l.count() == 500)
  }

  // The fixture's 31-token vocabulary is shared by ALL five langs (the
  // generator draws one pool), so q_lang_id can never detect non-English
  // there — detection itself is proven HERE, on real per-language text.
  test("langId detects every signature language on real text; no-signal → und; ties alphabetical") {
    val docs = Seq(
      (1L, "de", "der hund und die katze nicht"),
      (2L, "en", "the cat of the house and a dog"),
      (3L, "es", "el gato de la casa que duerme"),
      (4L, "fr", "le chat et les chiens la nuit"),
      (5L, "zh", "de5 shi4 le5 bu4 hao3"),
      (6L, "xx", "zzz qqq www"),  // zero signature hits → und
      (7L, "??", "la la")         // 'la' is in BOTH es and fr signatures → es (alphabetical)
    ).toDF("doc_id", "lang", "text")
    val got = TextPipeline.langId(docs, "doc_id", "text", "lang")
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "de", 2L -> "en", 3L -> "es", 4L -> "fr",
                      5L -> "zh", 6L -> "und", 7L -> "es"), s"$got")
  }

  // r17: segment-level language ID — the code-switch detector. The
  // majority, its alphabetical tie rule, and the mixed fraction pinned
  // by hand on docs whose 30-token segments carry different languages.
  test("langIdSegments: per-segment vote, alphabetical majority tie, mixed_ppm exact") {
    val de = Seq.fill(6)("der die und nicht katze").mkString(" ") // 30 tokens
    val en = Seq.fill(6)("the a of and house").mkString(" ")      // 30 tokens
    val docs = Seq(
      (1L, "xx", de + " " + en),            // de|en → 1-1 tie → de, half mixed
      (2L, "en", en + " " + en),            // en|en → pure
      (3L, "xx", en + " " + en + " " + de), // en majority, one dissenting segment
      (4L, "xx", "zzz qqq www")             // single no-signal segment → und
    ).toDF("doc_id", "lang", "text")
    val got = TextPipeline.langIdSegments(docs, "doc_id", "text", "lang")
      .select("doc_id", "n_segments", "majority_lang", "n_majority", "mixed_ppm")
      .as[(Long, Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, "de", 1L, 500000L),
      (2L, 2L, "en", 2L, 0L),
      (3L, 3L, "en", 2L, 333333L),
      (4L, 1L, "und", 1L, 0L)), s"$got")
  }

  test("langIdSegments: total on the fixture; single-segment docs equal whole-doc langId") {
    val seg = run("q_langid_segments").cache()
    assert(seg.count() == 500)
    assert(seg.filter(col("majority_lang").isNull).count() == 0)
    assert(seg.filter(col("mixed_ppm") < 0 || col("mixed_ppm") >= 1000000).count() == 0)
    assert(seg.filter(col("n_majority") > col("n_segments")).count() == 0)
    // a doc that fits one segment sees exactly the whole-doc scorer, so
    // the two operators must agree there by construction
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    val short = docs.filter(size(split(col("text"), " ")) <= 30)
    val whole = TextPipeline.langId(short, "doc_id", "text", "lang")
      .select(col("doc_id"), col("pred_lang"))
    val one = seg.join(short.select("doc_id"), "doc_id")
    assert(one.filter(col("n_segments") =!= 1).count() == 0,
      "a ≤30-token doc must segment to exactly one vote")
    assert(one.join(whole, "doc_id")
      .filter(col("majority_lang") =!= col("pred_lang")).count() == 0,
      "single-segment majority must equal whole-doc langId")
    seg.unpersist()
  }

  test("multimodal pipeline: every source aggregated, decode clean, stats in byte range") {
    val m = run("q_multimodal_pipeline")
    assert(m.count() == 20) // src0..src19
    // the fixture's GIMG frames are all well-formed: zero quarantined
    assert(m.filter(col("n_bad") =!= 0).count() == 0, "no payload may fail decode")
    // pixel stats come from real byte parsing: ASCII corpus bytes
    val oob = m.filter(col("min_px") < 32 || col("max_px") > 126).count()
    assert(oob == 0, "pixel stats must sit in the corpus byte range")
  }

  test("gimg_decode: malformed payloads quarantine as null, valid ones parse exactly") {
    graft.engine.functions.GraftFunctions.register(spark)
    val valid = Array[Byte](0x47, 0x49, 0x4D, 0x47, 0, 2, 0, 2, 1, 10, 20, 30)
    val badMagic = valid.clone(); badMagic(0) = 0x58
    val overflow = Array[Byte](0x47, 0x49, 0x4D, 0x47, 0, 1, 0, 1, 1, 10, 20) // 2 px > 1*1
    val shortHdr = Array[Byte](0x47, 0x49, 0x4D)
    val wrongChan = valid.clone(); wrongChan(8) = 3
    val rows = Seq((1L, valid), (2L, badMagic), (3L, overflow), (4L, shortHdr), (5L, wrongChan))
      .toDF("id", "payload")
      .withColumn("f", call_function("gimg_decode", col("payload")))
    val byId = rows.select("id", "f").as[(Long, Option[Seq[Long]])].collect().toMap
    assert(byId(2L).isEmpty && byId(3L).isEmpty && byId(4L).isEmpty && byId(5L).isEmpty,
      s"malformed frames must decode to null: $byId")
    // [w, h, n_px, sum, min, max, hash]: hash = ((0*31+10)*31+20)*31+30
    assert(byId(1L).contains(Seq(2L, 2L, 3L, 60L, 10L, 30L, (10L * 31 + 20) * 31 + 30)),
      s"valid frame mis-parsed: ${byId(1L)}")
  }

  test("q_ann_ivf results are a subset of brute-force scoring with usable recall") {
    val exact = run("q_sim_cosine").as[(Long, Double)].collect().toMap
    val approx = run("q_ann_ivf").as[(Long, Double)].collect().toMap
    approx.foreach { case (id, cos) =>
      exact.get(id).foreach(e => assert(math.abs(e - cos) < 1e-9, s"vec $id score drift"))
    }
    val recall = exact.keySet.intersect(approx.keySet).size / 10.0
    assert(recall >= 0.3, s"IVF recall collapsed: $recall (hits=${approx.keySet})")
    // determinism: two runs agree exactly
    assert(run("q_ann_ivf").as[(Long, Double)].collect().toMap == approx)
  }

  test("q_dedup_embedding: every surviving pair is verified >= 0.99 and subset of exact pairs") {
    val pairs = run("q_dedup_embedding")
      .select("vec_id_1", "vec_id_2", "cos_sim")
      .as[(Long, Long, Double)].collect()
    assert(pairs.forall(_._3 >= 0.99), "verification filter must hold")
    // the planted near-dups (id, id+1e6, cos≈0.9988) must be FOUND —
    // LSH recall on genuinely near-identical vectors, not just rejection
    val n = graft.engine.io.Tables.embeddings(spark, sfDir).count()
    val planted = pairs.map(p => (p._1, p._2)).filter { case (a, b) => b == a + 1000000L }
    assert(planted.length >= (n * 0.98).toLong,
      s"planted-pair recall collapsed: ${planted.length} of $n found")
    // exact all-pairs ground truth at the same threshold
    val e = Similarity.withPlantedNearDups(graft.engine.io.Tables.embeddings(spark, sfDir))
    val dotc = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    val l = e.select(col("vec_id").as("v1"), col("embedding").as("ea"))
    val r = e.select(col("vec_id").as("v2"), col("embedding").as("eb"))
    val exact = l.join(r, col("v1") < col("v2"))
      .withColumn("cs", dotc(col("ea"), col("eb")) /
        (sqrt(dotc(col("ea"), col("ea"))) * sqrt(dotc(col("eb"), col("eb")))))
      .filter(round(col("cs"), 4) >= 0.99)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    val got = pairs.map(p => (p._1, p._2)).toSet
    assert(got.subsetOf(exact), s"false positives: ${got -- exact}")
  }

  test("dedup survivors: every removed doc has a smaller near-dup partner; survivors + removed = corpus") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    val survivors = run("q_dedup_survivors").select("doc_id").as[Long].collect().toSet
    val all = docs.select("doc_id").as[Long].collect().toSet
    val removed = all -- survivors
    assert(survivors.subsetOf(all) && removed.nonEmpty, "fixture has near-dups to remove")
    val pairs = run("q_dedup_minhash").select("doc_id_1", "doc_id_2")
      .as[(Long, Long)].collect()
    val removable = pairs.map(_._2).toSet // greater-id side of each pair
    assert(removed == removable, s"removed set must be exactly the greater-id pair members")
    // min doc of every pair survives unless itself dominated by a smaller doc
    val dominated = pairs.map(_._2).toSet
    assert(pairs.map(_._1).toSet.diff(dominated).subsetOf(survivors))
  }

  test("dedup clusters: hand-built transitive chain collapses to one cluster") {
    val docs = Seq(
      (1L, "a b c d e"), (2L, "e d c b a"),        // 1~2 (same set)
      (3L, "a b c d f"),                           // 3~1/2? jaccard 4/6=0.67 < 0.9 → separate
      (10L, "p q r s t u v w x y"),
      (11L, "y x w v u t s r q p"),                // 10~11
      (12L, "p q r s t u v w x z"),                // 12 vs 10: 9/11 = 0.82 < 0.9 → separate
      (20L, "solo doc nothing else")
    ).toDF("doc_id", "text")
    val clusters = TextPipeline.dedupClusters(docs, "doc_id", Similarity.minhashNearDup(
        Similarity.tokenSetGroups(docs, "doc_id", "text"), 0.9, ordered = false))
      .as[(Long, Long)].collect().toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L)
    assert(clusters(10L) == 10L && clusters(11L) == 10L)
    assert(clusters(3L) == 3L && clusters(12L) == 12L && clusters(20L) == 20L)
  }

  test("dedup clusters on the fixture: every verified pair lands in one cluster, reps are minima") {
    val clusters = run("q_dedup_clusters").as[(Long, Long)].collect().toMap
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    assert(clusters.size == docs.count(), "every doc gets a cluster")
    val pairs = run("q_dedup_minhash").select("doc_id_1", "doc_id_2")
      .as[(Long, Long)].collect()
    assert(pairs.forall { case (a, b) => clusters(a) == clusters(b) },
      "pair members must share a cluster (transitive closure)")
    // each cluster's representative is its minimum member
    val byCluster = clusters.toSeq.groupBy(_._2).map { case (c, m) => c -> m.map(_._1).min }
    assert(byCluster.forall { case (c, minId) => c == minId })
  }

  test("a context checkpoint dir makes the CC and PageRank rounds reliable checkpoints; results unchanged") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    val pairs = Similarity
      .minhashNearDup(Similarity.tokenSetGroups(docs, "doc_id", "text"), 0.9, ordered = false)
      .select("doc_id_1", "doc_id_2").localCheckpoint()
    def cc() = TextPipeline.dedupClusters(docs, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    def pr() = TextPipeline.pairGraphPagerankConverged(TextPipeline.twinDecomposition(pairs))
      .as[(Long, Long)].collect().toMap
    // the twin decomposition's two eager truncations follow the same policy
    def tri() = TextPipeline.pairGraphTriangles(TextPipeline.twinDecomposition(pairs))
      .as[(Long, Long)].collect().toMap
    def ml() = TextPipeline.missingLinks(TextPipeline.twinDecomposition(pairs))
      .as[(Long, Long, Long, Long)].collect().toSeq
    val (localCc, localPr) = forcedDistributed((cc(), pr()))
    val (localTri, localMl) = (tri(), ml())
    val ckpt = new java.io.File(tmpDir("ckpt"))
    val sc = spark.sparkContext
    try {
      sc.setCheckpointDir(ckpt.getAbsolutePath)
      val (reliableCc, reliablePr) = forcedDistributed((cc(), pr()))
      assert(reliableCc == localCc, "reliable-checkpoint CC must be bit-identical to local mode")
      assert(reliablePr == localPr, "reliable-checkpoint PageRank must be bit-identical to local mode")
      assert(tri() == localTri, "reliable-checkpoint triangles must be bit-identical to local mode")
      assert(ml() == localMl, "reliable-checkpoint missing links must be bit-identical to local mode")
      val written = org.apache.commons.io.FileUtils.listFiles(ckpt, null, true)
        .toArray(Array.empty[java.io.File]).count(_.getName.startsWith("part-"))
      assert(written > 0, s"no checkpoint files under $ckpt")
    } finally sc.setCheckpointDir(null)
    assert(sc.getCheckpointDir.isEmpty, "later suites must stay on local checkpoints")
  }

  test("stratified sample: per-stratum rates land near target, deterministic across layouts") {
    val s1 = run("q_sample_stratified")
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    val totals = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val got = s1.groupBy("lang").count().as[(String, Long)].collect().toMap
    val enRate = got.getOrElse("en", 0L).toDouble / totals("en")
    val deRate = got.getOrElse("de", 0L).toDouble / totals("de")
    assert(enRate > 0.15 && enRate < 0.45, s"en ~30%: $enRate")
    assert(deRate < 0.15, s"de ~5%: $deRate")
    // determinism across physical layout
    val a = s1.select("doc_id").as[Long].collect().sorted.toSeq
    val b = graft.engine.ops.TextPipeline.stratifiedSample(
      docs.repartition(13), "doc_id", "lang", Map("en" -> 30, "zh" -> 20), 5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b)
  }

  test("mapPartitions decode: deterministic, partition-count preserving, quarantines malformed") {
    import graft.engine.ops.Multimodal.{Asset, decodeAssets}
    def frame(px: Array[Byte], w: Int, h: Int): Array[Byte] =
      Array[Byte](0x47, 0x49, 0x4D, 0x47,
        (w >> 8).toByte, w.toByte, (h >> 8).toByte, h.toByte, 1) ++ px
    val assets = (1L to 200L).map { i =>
      val px = s"payload-$i-${"x" * (i % 37).toInt}".getBytes("UTF-8")
      Asset(i, frame(px, 640, 480), 640, 480)
    }.toDS().repartition(7)
    val out1 = decodeAssets(assets).collect().sortBy(_.asset_id)
    val out2 = decodeAssets(assets).collect().sortBy(_.asset_id)
    assert(out1.length == 200)
    assert(out1.map(_.asset_id).toSeq == out2.map(_.asset_id).toSeq)
    assert(out1.zip(out2).forall { case (a, b) =>
      a.px_sum == b.px_sum && a.px_hash == b.px_hash },
      "decode kernel must be deterministic")
    // the stats are REAL content parses: asset 1's payload sums its ASCII bytes
    val p1 = "payload-1-x".getBytes("UTF-8")
    assert(out1.head.px_sum == p1.map(_.toLong & 0xFF).sum, "pixel sum must match the bytes")
    assert(out1.head.px_min == p1.map(_.toLong & 0xFF).min)
    assert(out1.forall(d => d.thumb_w == 160 && d.thumb_h == 120))
    assert(decodeAssets(assets).rdd.getNumPartitions == 7,
      "decode is a narrow per-partition transform")
    // malformed frames are quarantined (dropped), not partition-fatal
    val mixed = Seq(
      Asset(1L, frame("ok".getBytes, 2, 1), 2, 1),
      Asset(2L, "not a gimg frame".getBytes, 2, 1)).toDS()
    assert(decodeAssets(mixed).collect().map(_.asset_id).toSeq == Seq(1L))
  }

  test("knn join: per-probe results equal the single-probe knnCosine path") {
    val e = graft.engine.io.Tables.embeddings(spark, sfDir)
    val joined = Similarity.knnJoin(e, "vec_id", "embedding", Seq(1L, 2L), 5)
      .select("q_id", "vec_id", "cos_sim")
      .as[(Long, Long, Double)].collect().groupBy(_._1)
    Seq(1L, 2L).foreach { qid =>
      val single = Similarity.knnCosine(e, "vec_id", "embedding", qid, 5)
        .as[(Long, Double)].collect().toSeq
      val multi = joined(qid).map(t => (t._2, t._3)).toSeq
      assert(multi == single, s"probe $qid diverges from knnCosine")
    }
  }

  test("paragraph dedup: shared paragraph survives only at its first occurrence; docs rebuilt in order") {
    val docs = Seq(
      (1L, "a b c d p1 p1 p1 p1 tail1 x"),
      (2L, "a b c d p1 p1 p1 p1 tail2 y"), // first 8 tokens == doc 1's first paragraph
      (3L, "zz yy")
    ).toDF("doc_id", "text")
    val out = graft.engine.ops.TextPipeline.dedupParagraphs(docs, "doc_id", "text", paraSize = 8)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L)._3 == 2 && byId(1L)._4 == "a b c d p1 p1 p1 p1 tail1 x",
      "doc 1 keeps both paragraphs intact")
    assert(byId(2L)._3 == 1 && byId(2L)._4 == "tail2 y",
      "doc 2 loses the paragraph doc 1 already owns, keeps its tail")
    assert(byId(3L)._3 == 1 && byId(3L)._4 == "zz yy")
  }

  test("q_dedup_paragraph fixture invariants: kept = distinct paragraphs, exact-dup docs fully collapse") {
    val out = run("q_dedup_paragraph")
    // global: total kept paragraphs == corpus-distinct paragraph texts
    val totalKept = out.agg(sum("n_kept")).head().getLong(0)
    val distinctParas = graft.engine.ops.TextPipeline
      .chunkDocuments(graft.engine.io.Tables.documents(spark, sfDir),
        "doc_id", "text", 16, 0, ordered = false)
      .select("chunk_text").distinct().count()
    assert(totalKept == distinctParas)
    // an exact-duplicate doc (same text as a smaller doc_id) keeps nothing
    val dups = run("q_dedup_exact").filter(col("n_dups") > 1)
      .select("doc_id", "text").as[(Long, String)].collect()
    if (dups.nonEmpty) {
      val docs = graft.engine.io.Tables.documents(spark, sfDir)
        .select("doc_id", "text").as[(Long, String)].collect()
      val losers = for {
        (minId, text) <- dups
        (id, t) <- docs if t == text && id != minId
      } yield id
      val keptMap = out.select("doc_id", "n_kept").as[(Long, Long)].collect().toMap
      losers.foreach(id => assert(keptMap(id) == 0, s"exact-dup doc $id should keep 0 paragraphs"))
    }
  }

  test("paragraph dedup with paraSize ≥ doc length degenerates to doc-level first-occurrence dedup") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    val out = graft.engine.ops.TextPipeline.dedupParagraphs(docs, "doc_id", "text", paraSize = 100000)
      .select("doc_id", "n_chunks", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect()
    assert(out.forall(_._2 == 1), "one giant paragraph per doc")
    // survivors (n_kept=1) must be exactly the exact-dedup survivor set
    val survivors = out.filter(_._3 == 1).map(_._1).toSet
    val exact = run("q_dedup_exact").select("doc_id").as[Long].collect().toSet
    assert(survivors == exact, "degenerate paragraph dedup == exact doc dedup")
    // and survivors keep their full text verbatim
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    out.filter(_._3 == 1).foreach { case (id, _, _, t) => assert(t == texts(id)) }
  }

  test("regex scrub is idempotent: scrubbing clean text changes nothing") {
    val once = run("q_pii_scrub").select("doc_id", "clean_text")
    val twice = graft.engine.ops.TextPipeline.regexScrub(
      once.withColumnRenamed("clean_text", "text"), "doc_id", "text",
      "\\b(customer|key|value)\\b", "<PII>")
    assert(twice.filter(col("n_hits") > 0).count() == 0)
    val a = once.as[(Long, String)].collect().toMap
    val b = twice.select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(a == b)
  }

  test("fuzzy match: pairs are genuinely within edit distance, blocked pairs only") {
    val pairs = run("q_fuzzy_match")
      .as[(Long, Long, String, String, Long)].collect()
    assert(pairs.nonEmpty, "nation blocks contain distance-1 name pairs")
    // spot-verify the distance on the strings themselves
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    pairs.take(200).foreach { case (_, _, sa, sb, dist) =>
      assert(lev(sa, sb) == dist && dist <= 1)
    }
    // blocking: both members always share a nation
    val nation = graft.engine.io.Tables.customer(spark, sfDir)
      .select("c_custkey", "c_nationkey").as[(Long, Int)].collect().toMap
    pairs.foreach { case (a, b, _, _, _) => assert(nation(a) == nation(b)) }
  }

  // r10: Kneser-Ney is a PROPER probability model — for every observed
  // context, the seen-bigram entries plus the composed unseen-pair
  // probabilities over the whole continuation vocabulary must sum to
  // 10^6 up to the floor slack (each of the ≤|V| floored terms loses
  // < 1). This is the normalization Stupid Backoff deliberately gives
  // up, and the property that certifies the integer fixed-point
  // arithmetic implements the real KN equations.
  test("lmTableKn: per-context probability mass is 1e6 within floor slack") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 0)
    val rows = graft.engine.ops.TextPipeline.lmTableKn(docs, "doc_id", "text")
      .as[(String, Long, Long, Long)].collect()
    val seen = rows.filter(_._2 == 2L).map { case (g, _, a, _) =>
      val Array(w1, w2) = g.split(" ", 2); (w1, w2) -> a
    }.toMap
    val ctx = rows.filter(_._2 == 1L).map { case (w, _, c1, n1p) => w -> (c1, n1p) }.toMap
    val cont = rows.filter(_._2 == 0L).map { case (w, _, nc, _) => w -> nc }.toMap
    val t = rows.filter(_._2 == 0L).head._4
    assert(ctx.nonEmpty && cont.nonEmpty && t > 0)
    ctx.foreach { case (w1, (c1, n1p)) =>
      val seenW2 = seen.keys.filter(_._1 == w1).map(_._2).toSet
      val seenMass = seenW2.toSeq.map(w2 => seen((w1, w2))).sum
      val unseenMass = (cont.keySet -- seenW2).toSeq
        .map(w2 => (1000000L * 3 * n1p * cont(w2)) / (4 * c1 * t)).sum
      val mass = seenMass + unseenMass
      assert(mass <= 1000000L && mass >= 1000000L - (cont.size + 1),
        s"context '$w1': mass $mass outside [1e6 - ${cont.size + 1}, 1e6]")
    }
  }

  // r10: prefix-filter completeness — the rare-token candidate equi-join
  // must not lose a single qualifying pair vs the brute-force all-pairs
  // truth over the same set representatives (the theorem made a test).
  test("jaccardPrefixJoin: equals the all-pairs exact-jaccard truth over set representatives") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    val got = graft.engine.ops.TextPipeline
      .jaccardPrefixJoin(docs, "doc_id", "text", 9, 10)
      .as[(Long, Long, Double)].collect().toSet
    graft.engine.functions.GraftFunctions.register(spark)
    val sets = docs.selectExpr("doc_id",
      "array_sort(array_distinct(transform(pos_grams(text, 3, true), g -> poly_hash62(g)))) AS hsh")
      .as[(Long, Seq[Long])].collect().toSeq
    val reps = sets.groupBy(_._2).map { case (h, g) => (g.map(_._1).min, h.toSet) }.toSeq
    val want = (for {
      (i, si) <- reps; (j, sj) <- reps
      if i < j
      inter = (si & sj).size.toDouble
      jac = BigDecimal(inter / (si.size + sj.size - inter))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jac >= 0.9
    } yield (i, j, jac)).toSet
    assert(got.nonEmpty, "the fixture's planted near-dups must surface")
    assert(got == want,
      s"only-got=${(got -- want).take(3)} only-want=${(want -- got).take(3)}")
  }

  // r10: the near-linear deletion-neighborhood strategy must produce the
  // EXACT pair set of the quadratic blocked self-join it replaces — the
  // property that makes the scale fix result-identical, not a recall
  // trade.
  test("fuzzy match: deletion-neighborhood blocking equals the quadratic block join exactly") {
    val cust = graft.engine.io.Tables.customer(spark, sfDir)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, String, String, Long)].collect().toSet
    val fast = pairSet(graft.engine.ops.TextPipeline
      .fuzzyMatch(cust, "c_custkey", "c_name", Seq("c_nationkey"), 1))
    val slow = pairSet(graft.engine.ops.TextPipeline
      .fuzzyMatchBlockJoin(cust, "c_custkey", "c_name", Seq("c_nationkey"), 1))
    assert(fast.nonEmpty, "fixture must contain distance-1 pairs")
    assert(fast == slow,
      s"strategies diverge: only-fast=${(fast -- slow).take(3)} only-slow=${(slow -- fast).take(3)}")
  }

  // r16 (verdict item 6): the d=2 FastSS path must ALSO reproduce the
  // quadratic block join exactly on the registered fixture — the
  // property that let q_fuzzy_match2 come off the xl-exempt list.
  test("fuzzy match d=2: the FastSS 2-deletion strategy equals the quadratic block join exactly") {
    val cust = graft.engine.io.Tables.customer(spark, sfDir)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, String, String, Long)].collect().toSet
    val fast = pairSet(graft.engine.ops.TextPipeline
      .fuzzyMatchDel2(cust, "c_custkey", "c_name", Seq("c_nationkey")))
    val slow = pairSet(graft.engine.ops.TextPipeline
      .fuzzyMatchBlockJoin(cust, "c_custkey", "c_name", Seq("c_nationkey"), 2))
    assert(fast.exists(_._5 == 2L), "fixture must contain distance-2 pairs")
    assert(fast == slow,
      s"strategies diverge: only-fast=${(fast -- slow).take(3)} only-slow=${(slow -- fast).take(3)}")
    // the registered key routes through the gate: customer names are
    // short, so fuzzyMatch(…, 2) must take the deletion path — pinned
    // by plan shape (a deletion-path plan carries a generator/explode;
    // the block join has none)
    val gatedPlan = graft.engine.ops.TextPipeline
      .fuzzyMatch(cust, "c_custkey", "c_name", Seq("c_nationkey"), 2)
      .queryExecution.optimizedPlan.toString
    assert(gatedPlan.contains("Generate"),
      "short-string d=2 must route through the deletion-neighborhood path")
    // …and a corpus past the length gate falls back to the block join
    val long = Seq((1L, "x" * 60, 0), (2L, "x" * 59 + "y", 0))
      .toDF("id", "s", "blk")
    val fallbackPlan = graft.engine.ops.TextPipeline
      .fuzzyMatch(long, "id", "s", Seq("blk"), 2)
      .queryExecution.optimizedPlan.toString
    assert(!fallbackPlan.contains("Generate"),
      "past-gate strings must route through the blocked self-join")
  }

  test("regex scrub: counts and masking agree, clean text carries no denylist hits") {
    val docs = Seq(
      (1L, "customer key value keychain customer"),
      (2L, "nothing here")
    ).toDF("doc_id", "text")
    val out = graft.engine.ops.TextPipeline
      .regexScrub(docs, "doc_id", "text", "\\b(customer|key|value)\\b", "<PII>")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    // keychain must NOT match (word boundary), the rest must
    assert(out(0) == ((1L, 4L, "<PII> <PII> <PII> keychain <PII>")))
    assert(out(1) == ((2L, 0L, "nothing here")))
    val fx = run("q_pii_scrub")
    assert(fx.filter(col("clean_text").rlike("\\b(customer|key|value)\\b")).count() == 0)
  }

  test("mixture weights: sqrt temperature scaling, ppm normalization, determinism") {
    val docs = (1L to 400L).map(i => (i, if (i <= 320) "big" else "small"))
      .toDF("doc_id", "source")
    val w = graft.engine.ops.TextPipeline.mixtureWeights(docs, "source", budget = 100)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // 320 vs 80 docs = 4:1 → sqrt weights 2:1 → ppm ≈ 666666 / 333333
    assert(w("big")._2 == 320 && w("small")._2 == 80)
    assert(math.abs(w("big")._3 - 666666L) <= 1, s"big ppm: ${w("big")._3}")
    assert(math.abs(w("small")._3 - 333333L) <= 1)
    assert(w("big")._4 == 66 && w("small")._4 == 33)
    // fixture: weights normalize to 1e6 within one ulp-floor per stratum
    val fx = run("q_mixture_weights").as[(String, Long, Long, Long)].collect()
    val s = fx.map(_._3).sum
    assert(s <= 1000000L && s > 1000000L - fx.length, s"ppm sum $s")
  }

  test("kmeans step: cells partition the corpus, per-cell counts constant across dims, means bounded") {
    val rows = run("q_kmeans_step")
      .as[(Long, Long, Long, Long, Long)].collect()
    val n = graft.engine.io.Tables.embeddings(spark, sfDir).count()
    // every (cell, dim) row carries the cell population; dims are 1..64
    val byCell = rows.groupBy(_._1)
    byCell.foreach { case (c, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to 64L).toSeq, s"cell $c dims not dense")
      assert(rs.map(_._3).distinct.length == 1, s"cell $c count varies across dims")
    }
    assert(byCell.map(_._2.head._3).sum == n, "cell populations must partition the corpus")
    // the floored mean sits within the scaled sum / n by construction
    rows.foreach { case (c, d, cnt, s, m) =>
      assert(m == math.floor(s.toDouble / cnt).toLong, s"mean drift at ($c,$d)")
    }
  }

  test("semantic dedup: pairs are cell-coherent and a subset of global pairs at the threshold") {
    val pairs = run("q_semantic_dedup")
      .as[(Long, Long, Long, Double)].collect()
    assert(pairs.nonEmpty, "fixture should surface related pairs at 0.35")
    assert(pairs.forall(_._4 >= 0.35))
    // global (unblocked) exact pairs at the same threshold: the blocked
    // result must be a subset — blocking only ever removes candidates
    val e = graft.engine.io.Tables.embeddings(spark, sfDir)
    val dotc = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    val l = e.select(col("vec_id").as("v1"), col("embedding").as("ea"))
    val r = e.select(col("vec_id").as("v2"), col("embedding").as("eb"))
    val global = l.join(r, col("v1") < col("v2"))
      .withColumn("cs", dotc(col("ea"), col("eb")) /
        (sqrt(dotc(col("ea"), col("ea"))) * sqrt(dotc(col("eb"), col("eb")))))
      .filter(round(col("cs"), 4) >= 0.35)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    val got = pairs.map(p => (p._2, p._3)).toSet
    assert(got.subsetOf(global), s"false positives: ${got -- global}")
  }

  test("inverted index reconciles with tfidf document frequencies; postings hash is membership-exact") {
    val idx = run("q_inverted_index")
      .select("token", "df").as[(String, Long)].collect().toMap
    val dfq = run("q_tfidf").select("token", "df").distinct()
      .as[(String, Long)].collect().toMap
    // tfidf's df column is computed independently — the two must agree on
    // every token tfidf surfaces
    dfq.foreach { case (t, df) => assert(idx(t) == df, s"df drift for '$t'") }
    // hash is order-sensitive membership: recompute one token's hash by hand
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    val someToken = idx.keys.head
    val posting = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") === someToken).select("doc_id").distinct()
      .as[Long].collect().sorted
    val expected = posting.foldLeft(0L)((a, x) => Math.floorMod(a * 1000003L + x, 1000000007L))
    val got = run("q_inverted_index").filter(col("token") === someToken)
      .select("postings_hash").head().getLong(0)
    assert(got == expected)
  }

  test("dedup degree histogram conserves the pair count (sum degree·n = 2·|pairs|)") {
    val hist = run("q_dedup_degree").as[(Long, Long)].collect()
    val nPairs = run("q_dedup_minhash").count()
    assert(hist.map { case (d, n) => d * n }.sum == 2 * nPairs)
    assert(hist.map(_._1).distinct.length == hist.length)
  }

  test("tfidf: rare terms outscore stopwords within a document") {
    val t = run("q_tfidf")
    // ranks are 1..k, unique per doc, ordered by nonincreasing score
    val byDoc = t.select("doc_id", "rk", "score")
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    byDoc.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._3 >= b._3
        case _           => true
      })
    }
    // a term appearing in every document (df = N) has the minimum possible
    // idf, so it can only win rank 1 when repeated often; spot-check that
    // top-ranked terms have df strictly below the corpus size
    val n = graft.engine.io.Tables.documents(spark, sfDir).count()
    val top = t.filter(col("rk") === 1).agg(max("df")).head().getLong(0)
    assert(top < n, "rank-1 terms should never be corpus-wide stopwords")
  }
  test("ngramJaccard banded blocking catches the 1-char-off pair exact blocking misses") {
    val docs = Seq(
      (1L, "aa bb cc dd ee", "en"),   // 14 chars -> band floor(14/5) = 2
      (2L, "aa bb cc dd eex", "en"),  // one char longer: band 3 (adjacent)
      (3L, "zz yy xx ww vv", "en")    // 14 chars: SAME band as doc 1, J = 0
    ).toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length(col("text")))
    // J(1,2) = 4/6 — a true near-dup whose single extra char moves its
    // exact n_chars block (the blocking caveat on ngramJaccard)
    val exact = TextPipeline.ngramJaccard(docs, "doc_id", "text",
        Seq("lang", "n_chars"), 0.5)
      .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect()
    val banded = TextPipeline.ngramJaccard(docs, "doc_id", "text", Seq("lang"), 0.5,
        bandCol = Some(("n_chars", 5)))
      .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect()
    assert(!exact.contains((1L, 2L)),
      "exact n_chars blocking must miss the 1-char-off pair (the documented trap)")
    assert(banded.toSet == Set((1L, 2L)),
      s"banding admits the adjacent-band pair, and the same-band J=0 candidate is verified away: ${banded.toSeq}")
    assert(banded.length == banded.distinct.length,
      "each qualifying pair must meet on exactly one band key")
  }
  test("minhashNearDupIncremental pairs delta docs against the reference only") {
    val ref = Seq(
      (1L, "alpha bravo charlie delta echo"),
      (2L, "one two three four five")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "alpha bravo charlie delta echo"),  // exact cross-slice dup of ref 1
      (11L, "alpha bravo charlie delta echo"),  // dup of ref 1 AND of delta 10
      (12L, "six seven eight nine ten")         // novel content
    ).toDF("doc_id", "text")
    val pairs = Similarity.minhashNearDupIncremental(ref, delta, "doc_id", "text", 0.9)
      .as[(Long, Long, Double)].collect().toSet
    // both delta copies pair with the REFERENCE doc; the within-delta
    // pair (10, 11) is deliberately out of scope for the incremental face
    assert(pairs == Set((1L, 10L, 1.0), (1L, 11L, 1.0)),
      s"cross-slice dups only: $pairs")
  }
  test("qualityClassifier: count-contrast weights separate varied from degenerate held-out docs") {
    val labeled = Seq(
      (1L, "red green blue yellow", true),
      (2L, "cat dog bird fish", true),
      (3L, "spam spam spam spam", false),
      (4L, "junk junk junk junk", false)).toDF("doc_id", "text", "pos")
    val model = TextPipeline.qualityClassifierTrain(labeled, "text", "pos")
    // hand-check one weight: V = 10 distinct tokens, t+ = t- = 8, so
    // w(red) = floor(1e6*2/18) - floor(1e6*1/18) = 111111 - 55555
    val wRed = model.filter(col("tok") === "red").select("w").as[Long].head()
    assert(wRed == 55556L, s"w(red) = $wRed")
    val heldOut = Seq(
      (10L, "red cat blue dog"),        // pos-corpus vocabulary -> keep
      (11L, "spam junk spam junk"),     // neg-corpus vocabulary -> drop
      (12L, "totally unseen words here") // unseen -> score 0 -> keep default
    ).toDF("doc_id", "text")
    val scored = TextPipeline.qualityClassifierScore(heldOut, "doc_id", "text", model)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(scored(10L)._1 > 0 && scored(10L)._2, s"varied held-out doc must keep: $scored")
    assert(scored(11L)._1 < 0 && !scored(11L)._2, s"degenerate held-out doc must drop: $scored")
    assert(scored(12L)._1 == 0 && scored(12L)._2, s"unseen vocabulary defaults to keep: $scored")
  }

  test("bpeApply: the applied corpus equals folding the learned merge list (batch = stream arithmetic)") {
    val docs = Seq(
      (1L, "a b a b a b c"), (2L, "a b c a b"), (3L, "x y x y z")).toDF("doc_id", "text")
    val merges = TextPipeline.bpeLearn(docs, "doc_id", "text", 3)
      .orderBy("step").select("pair").as[String].collect().toSeq
    val applied = TextPipeline.bpeApply(docs, "doc_id", "text", 3)
      .select("doc_id", "bpe_text").as[(Long, String)].collect().toMap
    val folded = graft.engine.stream.Streams.streamingBpeApply(docs, "text", merges)
      .select(col("doc_id"), col("bpe_text")).as[(Long, String)].collect().toMap
    assert(applied == folded,
      s"learn-then-apply must equal serving the merge list: $applied vs $folded")
    assert(applied(1L).contains("@"), s"top pair must actually merge: $applied")
    val counts = TextPipeline.bpeApply(docs, "doc_id", "text", 3)
      .select("doc_id", "n_tokens_raw", "n_tokens_bpe")
      .as[(Long, Long, Long)].collect()
    counts.foreach { case (id, raw, bpe) =>
      assert(bpe <= raw, s"doc $id must not grow under merging") }
    assert(counts.exists { case (_, raw, bpe) => bpe < raw }, "some doc must compress")
  }

  test("dsir: importance weights rank target-like docs above off-target docs") {
    val docs = Seq(
      (1L, "en", "alpha beta gamma alpha beta"),
      (2L, "en", "alpha gamma beta gamma alpha"),
      (3L, "de", "zett neun acht sieben zett"),
      (4L, "de", "neun zett sieben acht neun"),
      (5L, "xx", "alpha beta gamma beta"), // target vocabulary, non-target lang
      (6L, "xx", "zett acht neun neun")    // raw-only vocabulary
    ).toDF("doc_id", "lang", "text")
    val table = TextPipeline.dsirTable(docs, "doc_id", "text", col("lang") === "en")
    assert(table.count() <= 1024, "weight table bounded by the bucket space")
    val s = TextPipeline.dsirScore(docs, "doc_id", "text", table)
      .select("doc_id", "dsir_score").as[(Long, Long)].collect().toMap
    // DSIR selects by RANK (top-k importance), not by sign — with add-one
    // smoothing over 1024 buckets a tiny corpus skews every weight low,
    // so the invariant is the strict separation of the two vocabularies
    val (targetLike, rawOnly) = (Seq(1L, 2L, 5L).map(s), Seq(3L, 4L, 6L).map(s))
    assert(targetLike.min > rawOnly.max,
      s"every target-vocabulary doc must outscore every raw-only doc: $s")
  }

  test("dsirSample: closed-form draw counts equal brute-force systematic resampling") {
    // irregular ids, negative scores, n odd, pkeyWidth tiny to force the
    // two-phase prefix sum across several blocks
    val scores = Seq(
      (1L, -7L), (3L, 0L), (4L, 25L), (9L, 3L), (12L, -2L),
      (17L, 11L), (18L, 11L), (25L, 40L), (31L, 1L), (40L, 5L))
    for ((n, width) <- Seq((7, 4L), (64, 3L), (1, 1024L))) {
      val got = TextPipeline.dsirSample(
        scores.toDF("doc_id", "dsir_score"), "doc_id", "dsir_score", n, width)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      // brute force: shift masses positive, enumerate the n stratum
      // positions, locate each in the cumulative-mass intervals
      val mnScore = scores.map(_._2).min
      val masses = scores.sortBy(_._1).map { case (id, sc) => (id, sc - mnScore + 1L) }
      val t = masses.map(_._2).sum
      val cums = masses.scanLeft(0L) { case (acc, (_, m)) => acc + m }.tail
      val iv = masses.zip(cums).map { case ((id, m), hi) => (id, hi - m, hi) }
      val expect = (0 until n)
        .map(i => ((2L * i + 1L) * t) / (2L * n))
        .groupBy(p => iv.find(x => p >= x._2 && p < x._3).get._1)
        .map { case (id, ps) => id -> ps.size.toLong }
      assert(got.view.mapValues(_._2).toMap == expect,
        s"n=$n width=$width: got $got expected $expect")
      assert(got.values.map(_._2).sum == n.toLong, s"total draws must be exactly n=$n")
      got.foreach { case (id, (mass, _)) =>
        assert(mass == masses.toMap.apply(id), s"mass column must be the shifted score ($id)")
      }
    }
  }

  test("domainCap keeps exactly min(cap, |domain|) docs per domain, invariant under input layout") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    val got = TextPipeline.domainCap(docs, "doc_id", "source", cap = 15)
    val perDomain = got.groupBy("domain").count().as[(String, Long)].collect().toMap
    val sizes = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(perDomain.keySet == sizes.keySet, "every domain must survive the cap")
    perDomain.foreach { case (d, n) =>
      assert(n == math.min(15L, sizes(d)), s"domain $d kept $n of ${sizes(d)}")
    }
    // the kept SET is a property of (id, domain) alone — re-laying-out the
    // input (different partitioning, different file order) must not move it
    val relaid = TextPipeline.domainCap(docs.repartition(7), "doc_id", "source", cap = 15)
    assert(got.select("doc_id").as[Long].collect().toSet ==
      relaid.select("doc_id").as[Long].collect().toSet)
    // and within a domain the ranks are the dense prefix 1..cap
    val ranks = got.filter(col("domain") === "src0").select("rk").as[Long].collect().sorted
    assert(ranks.sameElements(1L to 15L))
  }

  test("shuffleShards covers every doc exactly once and the manifest is layout-invariant") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    val m = TextPipeline.shuffleShards(docs, "doc_id", "n_chars", nShards = 8)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(m.map(_._1).sorted.sameElements(0L until 8L), "all shards populated")
    assert(m.map(_._2).sum == docs.count(), "shard doc counts partition the corpus")
    val m2 = TextPipeline.shuffleShards(docs.repartition(11), "doc_id", "n_chars", 8)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(m.sortBy(_._1).sameElements(m2.sortBy(_._1)),
      "manifest (counts, mass, min key, checksum) must not depend on input layout")
  }

  test("containmentPairs: quoted subset scores 1.0 directionally; jaccard would miss it") {
    val docs = Seq(
      (1L, "alpha beta gamma", "en", "s"),                       // ⊂ doc 2
      (2L, "alpha beta gamma delta epsilon zeta eta theta", "en", "s"),
      (3L, "beta alpha gamma", "en", "s"),                       // shuffle of 1 → tie
      (4L, "iota kappa lambda", "en", "s"),                      // disjoint
      (5L, "alpha beta gamma", "en", "other")                    // other block — never pairs
    ).toDF("doc_id", "text", "lang", "source")
    val got = TextPipeline.containmentPairs(docs, "doc_id", "text",
      Seq("lang", "source"), 0.8)
      .as[(Long, Long, Double)].collect().toSet
    // 1⊂2 and 3⊂2 (smaller set is contained side); 1~3 equal sets → tie
    // rule puts the lower id on the contained side; doc 4 pairs with
    // nothing; doc 5 is blocked away. Pair (1,2) has jaccard 3/8 — below
    // any dedup threshold — but containment 1.0: the asymmetric regime.
    assert(got == Set((1L, 2L, 1.0), (3L, 2L, 1.0), (1L, 3L, 1.0)))
  }

  test("memoized eval gate equals the standalone dedupEval composition at 0.9") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    val direct = Similarity.dedupEval(docs, "doc_id", "text", 0.9).collect()
    val gated = run("q_dedup_eval").collect()
    assert(direct.map(_.toString).toSeq == gated.map(_.toString).toSeq)
  }

  // the sampled audit's truth join reads pre-hashed sets, so its salted
  // all-pairs branch caches nothing: no cached RDD and no cache entry may
  // outlive the call
  test("dedupEvalSampled leaves no cached RDD or cache entry behind") {
    // a no-op filter no other test applies: a frame an earlier test left
    // cached cannot match these plans
    val docs = graft.engine.io.Tables.documents(spark, sfDir).filter(col("doc_id") =!= -13L)
    val sc = spark.sparkContext
    def entries = org.apache.spark.sql.graft.CacheEntries.count(spark)
    // new ids, not the count: the context cleaner may free an earlier
    // test's RDDs while this call runs
    val rdds0 = sc.getPersistentRDDs.keySet
    val entries0 = entries
    val rows = Similarity.dedupEvalSampled(docs, "doc_id", "text", 0.9, 25).collect()
    assert(rows.length == 1 && rows.head.getLong(0) > 0L, rows.toSeq.toString)
    val added = sc.getPersistentRDDs.keySet -- rdds0
    assert(added.isEmpty, s"${added.size} cached RDDs stayed registered")
    assert(entries == entries0, s"${entries - entries0} cache entries stayed behind")
  }

  test("q_dedup_eval_sweep: recall climbs toward the banding design point; verified pipeline has no FPs") {
    val rows = run("q_dedup_eval_sweep")
      .select("threshold_pct", "n_truth", "n_fp", "recall_bp")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(80L, 85L, 90L, 95L))
    // exact verification makes false positives structurally impossible:
    // every emitted pair carries its true jaccard, so found ⊆ truth
    assert(rows.forall(_._3 == 0L))
    // banding was parameterized for t=0.9: recall must climb monotonically
    // toward (and past) the design point as the gate tightens
    val recalls = rows.map(_._4)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a < b }, recalls.mkString(","))
    assert(recalls.last > 9000L, "near-total recall above the design point")
    // a tighter gate can only shrink the truth set
    val truths = rows.map(_._2)
    assert(truths.zip(truths.tail).forall { case (a, b) => a > b })
  }

  test("q_semantic_clusters: pairs share clusters, singletons own theirs, labels are minima") {
    val clusters = run("q_semantic_clusters").as[(Long, Long)].collect().toMap
    val pairs = run("q_semantic_dedup")
      .select("vec_id_1", "vec_id_2").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters") }
    val touched = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    clusters.foreach { case (id, c) =>
      if (!touched.contains(id)) assert(c == id, s"singleton $id must self-label")
      assert(c <= id, "cluster label is the component minimum")
    }
    assert(clusters.size == graft.engine.io.Tables.embeddings(spark, sfDir).count())
  }

  test("rankFusion: rrf recomputes from the leg ranks; both-leg docs beat single-leg peers") {
    val rows = run("q_rank_fusion").collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val bm = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val ann = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(bm.isDefined || ann.isDefined, "a candidate must come from some leg")
      val want = bm.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        ann.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getDouble(3) - want) < 1e-6)
    }
    // an rrf with two contributing legs strictly beats any single-leg
    // score at comparable depth: 2/(60+20) > 1/61
    val both = rows.filter(r => !r.isNullAt(1) && !r.isNullAt(2)).map(_.getDouble(3))
    val single = rows.filter(r => r.isNullAt(1) ^ r.isNullAt(2)).map(_.getDouble(3))
    if (both.nonEmpty && single.nonEmpty)
      assert(both.min > single.max,
        s"dual-leg candidates must dominate: $both vs $single")
  }

  test("ncmEval: separable classes score 100%; fixture roll-up partitions the corpus") {
    // two orthogonal clusters → class means point at their own cluster
    val vecs = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0f, 1f), 1), (4L, Array(0.1f, 0.9f), 1)
    ).toDF("vec_id", "embedding", "label")
    val sep = Similarity.ncmEval(vecs, "vec_id", "embedding", "label")
      .as[(Long, Long, Long, Long)].collect()
    assert(sep.toSeq == Seq((0L, 2L, 2L, 10000L), (1L, 2L, 2L, 10000L)))
    val fix = run("q_ncm_eval").as[(Long, Long, Long, Long)].collect()
    assert(fix.map(_._2).sum == graft.engine.io.Tables.embeddings(spark, sfDir).count())
    assert(fix.forall { case (_, n, c, bp) =>
      c <= n && bp == 10000 * c / n })
  }

  test("queryExpansion recovers the vocabulary-mismatch doc plain BM25 cannot reach") {
    val corpus = Seq(
      (1L, "aa bb cc cc"),   // matches the query, carries the bridge term
      (2L, "aa cc dd"),      // matches, carries bridge terms
      (3L, "cc cc cc ee"),   // NO query term — only reachable via expansion
      (4L, "ff gg hh"),      // unrelated noise
      (5L, "aa bb")          // pure query-term doc
    ).toDF("doc_id", "text")
    val qs = Seq((1L, "aa bb")).toDF("query_id", "qtext")
    val tokens = TextPipeline.docTokens(corpus, "doc_id", "text")
    val dl = TextPipeline.docLengths(tokens)
    val plain = TextPipeline.bm25TopK(tokens, dl, qs, "query_id", "qtext", 5)
      .select("doc_id").as[Long].collect().toSet
    val expanded = TextPipeline.queryExpansion(tokens, dl,
        qs, "query_id", "qtext", nFeedback = 3, mExpand = 2, k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(!plain.contains(3L), "doc 3 shares no literal query term")
    assert(expanded.contains(3L), "feedback terms must bridge the vocabulary gap")
    assert(!expanded.contains(4L), "expansion must not drag in unrelated docs")
    assert(plain.subsetOf(expanded + 4L) && expanded.contains(1L))
  }

  test("vocabBuild: dense ranks, monotone coverage reaching 100% when the vocab fits") {
    val rows = run("q_vocab_build")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._1).toSeq == (1L to rows.length).toSeq, "ranks dense and ordered")
    val ns = rows.map(_._3)
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, "counts non-increasing")
    val cov = rows.map(_._5)
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b }, "coverage monotone")
    assert(rows.map(_._3).sum == rows.last._4, "cum_n is the running sum of n")
    // the fixture vocabulary is smaller than the requested size, so the
    // curve must close at exactly 100%
    assert(cov.last == 1000000L)
  }

  test("pmiCollocations: hand-computed ratio, min-count gate, bigram tiebreak") {
    // one doc "x y x y x z": N = 6 tokens, M = 5 bigrams;
    // n(x y) = n(y x) = 2, n(x z) = 1 (killed by minCount);
    // ratio(x y) = 2·6² / (5·3·2) = 2.4, same for (y x) → tie on the
    // rounded score breaks on the bigram string
    val docs = Seq((1L, "x y x y x z")).toDF("doc_id", "text")
    val got = TextPipeline.pmiCollocations(docs, "text", minCount = 2L, k = 5)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("x y", 2L, 3L, 2L, 2.4), ("y x", 2L, 2L, 3L, 2.4)))
  }

  test("pairGraphPagerank: hand-computed path graph; the center outranks the leaves") {
    // path 1–2–3: deg = (1, 2, 1); three scaled-integer rounds by hand
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_id_1", "doc_id_2")
    val got = TextPipeline.pairGraphPagerank(pairs, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 629187L, 2L -> 1741624L, 3L -> 629187L))
    // same degree, different neighborhoods: centrality breaks the tie
    assert(got(2L) > got(1L))
  }

  test("pairGraphPagerankConverged: rank (and scores) are iteration-budget invariant at the fixpoint") {
    // r10 verdict #8: the registered query must not depend on an
    // iteration constant. Mixed structure — a path (slow-converging,
    // irregular), a triangle clique (fixpoint at round 0) and an
    // isolated pair — exercises both regimes.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L))
      .toDF("doc_id_1", "doc_id_2")
    val converged = TextPipeline.pairGraphPagerankConverged(TextPipeline.twinDecomposition(pairs))
      .as[(Long, Long)].collect().toMap
    // ANY budget at or past the convergence round returns bit-identical
    // scores — the fixpoint is the fixpoint
    val bigger = TextPipeline.pairGraphPagerankConverged(TextPipeline.twinDecomposition(pairs),
        maxIters = 200)
      .as[(Long, Long)].collect().toMap
    assert(converged == bigger)
    // and it IS a fixpoint of the fixed-round form: one more round of
    // pairGraphPagerank on a converged-score seed cannot move (checked
    // via a large fixed budget landing on the same table)
    val fixed40 = TextPipeline.pairGraphPagerank(pairs, iters = 40)
      .as[(Long, Long)].collect().toMap
    assert(converged == fixed40)
    // regular components sit at the uniform fixpoint untouched
    assert(converged(10L) == 1000000L && converged(11L) == 1000000L &&
      converged(12L) == 1000000L && converged(20L) == 1000000L)
    // the path's interior outranks its leaves at the fixpoint
    assert(converged(2L) > converged(1L) && converged(3L) > converged(4L))
    // r13: the size-guarded single-task path and the distributed
    // keyed-join loop must be BIT-IDENTICAL on the same graph — force
    // the distributed path by zeroing the threshold and compare
    spark.conf.set("spark.graft.localMaxEdges", "0")
    try {
      val distributed = TextPipeline
        .pairGraphPagerankConverged(TextPipeline.twinDecomposition(pairs))
        .as[(Long, Long)].collect().toMap
      assert(distributed == converged,
        "adaptive path selection must not change a single score")
    } finally spark.conf.unset("spark.graft.localMaxEdges")
  }

  test("missingLinksVerify/Repair: a banding-missed true pair is recovered and its clusters merge") {
    // The premise the queue encodes: B near-dups A and C (edges exist),
    // A~C is a TRUE pair (exact jaccard ≥ 0.9) the banding missed (no
    // edge). The verify pass must confirm exactly that pair, and the
    // repair must collapse {A,B,C} into one cluster — which greedy
    // banding alone could never do.
    val w = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, w),                                             // A = {w1..w20}
      (2L, w + " x"),                                      // B = A ∪ {x}
      (3L, (1 to 19).map(i => s"w$i").mkString(" ") + " x"), // C: jac(A,C)=19/21≈0.9048
      // negative control: a drift chain whose endpoints are NOT a true
      // pair — queued, verified, refuted, clusters untouched
      (10L, (1 to 12).map(i => s"u$i").mkString(" ")),
      (11L, (1 to 12).map(i => s"u$i").mkString(" ") + " z"),
      (12L, (1 to 8).map(i => s"u$i").mkString(" ") + " y1 y2 y3 y4")
    ).toDF("doc_id", "text")
    // the pair graph AS BANDING LEFT IT: both bridges missing
    val pairs = Seq((1L, 2L, 0.9524), (2L, 3L, 0.9524),
      (10L, 11L, 0.9231), (11L, 12L, 0.5))
      .toDF("doc_id_1", "doc_id_2", "jaccard")
    val queue = TextPipeline.missingLinksVerify(Similarity.tokenSets(docs, "doc_id", "text"),
        TextPipeline.twinDecomposition(pairs), 0.9, minCommon = 1)
    val verified = queue.as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(verified == Seq((1L, 3L, 0.9048, true), (10L, 12L, 0.5, false)))
    val repaired = TextPipeline.missingLinksRepair(docs, "doc_id", pairs, queue)
      .as[(Long, Long)].collect().toMap
    // A/B/C now one cluster; the refuted chain keeps its (already-
    // connected) component, singleton-free
    assert(repaired == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("missingLinksVerify: ledger prunes settled families; partially-covered families verify the residue") {
    // A(1) and its exact twin A2(4) share the closed neighborhood
    // {1,2,4} (both pair with bridge B(2) and each other) → one twin
    // class {1,4}; C(3) pairs with B only. The queue family
    // ({1,4},{3}) expands to TWO doc pairs (1,3) and (3,4). The r14
    // pre-expansion prune drops a family only when the ledger covers
    // its FULL csize product — so a half-covered ledger must still
    // verify the residue, and a full ledger must emit nothing.
    val w = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, w), (2L, w + " x"), (4L, w),
      (3L, (1 to 19).map(i => s"w$i").mkString(" ") + " x"),
      (10L, (1 to 12).map(i => s"u$i").mkString(" ")),
      (11L, (1 to 12).map(i => s"u$i").mkString(" ") + " z"),
      (12L, (1 to 8).map(i => s"u$i").mkString(" ") + " y1 y2 y3 y4")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L, 0.9524), (2L, 3L, 0.9524), (1L, 4L, 1.0),
      (2L, 4L, 0.9524), (10L, 11L, 0.9231), (11L, 12L, 0.5))
      .toDF("doc_id_1", "doc_id_2", "jaccard")
    def run(ledger: Option[Seq[(Long, Long)]]) =
      TextPipeline.missingLinksVerify(Similarity.tokenSets(docs, "doc_id", "text"),
          TextPipeline.twinDecomposition(pairs), 0.9, minCommon = 1,
          excludePairs = ledger.map(_.toDF("doc_id_1", "doc_id_2")))
        .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(run(None) == Seq((1L, 3L, 0.9048, true), (3L, 4L, 0.9048, true),
      (10L, 12L, 0.5, false)))
    // half-covered family: (1,3) ledgered, (3,4) must still verify
    assert(run(Some(Seq((1L, 3L)))) ==
      Seq((3L, 4L, 0.9048, true), (10L, 12L, 0.5, false)))
    // fully-covered ledger: every family prunes pre-expansion, output empty
    assert(run(Some(Seq((1L, 3L), (3L, 4L), (10L, 12L)))).isEmpty)
  }

  test("bitextMine: nearest target neighbor with the margin to the runner-up") {
    val docs = Seq((1L, "de"), (2L, "en"), (3L, "en"), (4L, "en"))
      .toDF("doc_id", "lang")
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(2f, 0f)),   // cos(v1,v2) = 1.0
      (3L, Array(3f, 4f)),                        // cos(v1,v3) = 0.6
      (4L, Array(0f, 1f))                         // cos(v1,v4) = 0.0
    ).toDF("vec_id", "embedding")
    val got = Similarity.bitextMine(docs, vecs, "de", "en")
      .as[(Long, Long, Double, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1.0, 0.4)))
  }

  test("tokenDiversity: effective vocabulary is exact Rényi-2 on hand-computable cases") {
    val docs = Seq(
      (1L, "a a a a"),  // 1 effective token: 100·16/16 = 100
      (2L, "a b c d"),  // 4 effective tokens: 100·16/4 = 400
      (3L, "a a b b"),  // 2 effective: 100·16/8 = 200
      (4L, "a a a b")   // 16/10 = 1.6 eff: floor(160.0) = 160
    ).toDF("doc_id", "text")
    val got = TextPipeline.tokenDiversity(docs, "doc_id", "text")
      .select("doc_id", "n_tokens", "n_distinct", "eff_vocab_x100")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 4L, 1L, 100L), (2L, 4L, 4L, 400L),
                      (3L, 4L, 2L, 200L), (4L, 4L, 2L, 160L)))
  }

  test("domainDivergence: a source matching the corpus mix scores zero; a skewed one doesn't") {
    val docs = Seq(
      (1L, "s1", "a b a b"), (2L, "s2", "a b a b"), // identical mixes
      (3L, "s3", "c c c c c c c c")                 // c only appears here
    ).toDF("doc_id", "source", "text")
    val got = TextPipeline.domainDivergence(docs, "source", "text")
      .select("source", "n_tokens", "n_terms", "chi2_nano")
      .as[(String, Long, Long, Long)].collect().toSeq
    // every operand is binary-exact here, so the floors are EXACT pins:
    // s1/s2: per term p=1/2 vs q=1/4 → (1/4)²/(1/4) = 1/4 → 2.5e8, ×2 terms;
    // s3: p=1 vs q=1/2 → (1/2)²/(1/2) = 1/2 → 5e8. (χ² weights drift by
    // 1/q, so the two shapes tie on this fixture — deliberately: the pin
    // catches any parenthesization drift on either engine's side.)
    assert(got == Seq(("s1", 4L, 2L, 500000000L), ("s2", 4L, 2L, 500000000L),
                      ("s3", 8L, 1L, 500000000L)))
  }

  test("zipfFit recovers slope -1 on an exact 1/r frequency ladder") {
    // token r repeated floor(1000/r) times, r = 1..20 → ln f ≈ ln 1000 − ln r
    val text = (1 to 20).flatMap(r => Seq.fill(1000 / r)(f"t$r%02d")).mkString(" ")
    val got = TextPipeline.zipfFit(Seq((1L, text)).toDF("doc_id", "text"), "text", 1000)
      .select("n_points", "slope").as[(Long, Double)].head()
    assert(got._1 == 20L)
    assert(math.abs(got._2 + 1.0) < 0.01, s"slope ${got._2} must sit at -1")
  }

  test("ngramNovelty: first occurrence owns the gram; repeats score zero") {
    val docs = Seq(
      (1L, "a b c d"),  // "a b c", "b c d" both novel → 10000 bp
      (2L, "a b c x"),  // "a b c" seen, "b c x" novel → 5000 bp
      (3L, "a b c d"),  // both seen → 0 bp
      (4L, "a b")       // no trigram → absent from output
    ).toDF("doc_id", "text")
    val got = TextPipeline.ngramNovelty(docs, "doc_id", "text", 3)
      .select("doc_id", "n_grams", "n_novel", "novelty_bp")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 2L, 10000L), (2L, 2L, 1L, 5000L), (3L, 2L, 0L, 0L)))
  }

  test("ccIncremental: a delta bridge merges standing clusters; untouched labels survive") {
    // standing table: {1,2} → 1, {3,4} → 3, {5,6} → 5 (min-id labels)
    val prior = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L), (6L, 5L))
      .toDF("id", "cluster")
    // new doc 10 bridges clusters 1 and 3 (the repair greedy per-batch
    // dedup can never do); 11~12 is a new-only pair; 13 is a singleton
    val delta = Seq((2L, 10L), (4L, 10L), (11L, 12L)).toDF("a", "b")
    val got = TextPipeline.ccIncremental(prior, delta, Seq(10L, 11L, 12L, 13L).toDF("id"))
      .as[(Long, Long, Long, Boolean)].collect().toSeq.sorted
    assert(got == Seq(
      (1L, 1L, 1L, false), (2L, 1L, 1L, false),
      (3L, 1L, 3L, true), (4L, 1L, 3L, true),  // merged via the bridge
      (5L, 5L, 5L, false), (6L, 5L, 5L, false), // untouched cluster
      (10L, 1L, 10L, true),                     // the bridge doc itself
      // every NEW row is changed=true — an insert even when its cluster
      // is its own id (a writer that skipped 11/13 would lose them)
      (11L, 11L, 11L, true), (12L, 11L, 12L, true),
      (13L, 13L, 13L, true)), s"got $got")
  }

  test("dedupClusters: the fused union-find path equals the distributed label-prop loop on the fixture") {
    // r13 adaptive path selection — both execution strategies must
    // emit the identical (id, min-component-id) table
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    def clusters() = TextPipeline.dedupClusters(docs, "doc_id", Similarity.minhashNearDup(
      Similarity.tokenSetGroups(docs, "doc_id", "text"), 0.9, ordered = false))
    val fused = clusters().as[(Long, Long)].collect().toMap
    spark.conf.set("spark.graft.localMaxEdges", "0")
    try {
      val distributed = clusters().as[(Long, Long)].collect().toMap
      assert(distributed == fused,
        "adaptive CC path selection must not change a single label")
    } finally spark.conf.unset("spark.graft.localMaxEdges")
    // non-vacuous: the fixture has real multi-doc clusters
    assert(fused.groupBy(_._2).values.map(_.size).max > 1)
  }

  // dedupClusters persists its pair frame for its gate count and
  // ccIncremental materializes its quotient edges and labels: none of
  // it may outlive the call, or a repeat call reads the first call's
  // blocks instead of recomputing them
  test("CC calls add no cache entry; a repeat call schedules as many jobs as the first") {
    def entries = org.apache.spark.sql.graft.CacheEntries.count(spark)
    // a no-op filter no other test applies: a frame an earlier test left
    // cached cannot match these plans
    val docs = graft.engine.io.Tables.documents(spark, sfDir).filter(col("doc_id") =!= -11L)
    val groups = Similarity.tokenSetGroups(docs, "doc_id", "text")
    val pairs = Similarity.minhashNearDup(groups, 0.9, ordered = false)
      .select("doc_id_1", "doc_id_2").localCheckpoint()
    val cut = docs.agg(max("doc_id")).head().getLong(0) / 2
    val prior = TextPipeline.dedupClusters(docs.filter(col("doc_id") < cut), "doc_id",
      pairs.filter(col("doc_id_1") < cut && col("doc_id_2") < cut))
    val delta = pairs.filter(col("doc_id_2") >= cut)
      .select(col("doc_id_1").as("a"), col("doc_id_2").as("b"))
    val newIds = docs.filter(col("doc_id") >= cut).select(col("doc_id").as("id"))
    def clusters() = TextPipeline.dedupClusters(docs, "doc_id", pairs)
    val calls = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "dedupClusters fused" -> (() => clusters()),
      "dedupClusters distributed" -> (() => forcedDistributed(clusters())),
      // un-materialized pairs, the stream's cold-start route
      "dedupClusters lazy pairs" -> (() => TextPipeline.dedupClusters(docs, "doc_id",
        Similarity.minhashNearDup(groups, 0.9, ordered = false))),
      "ccIncremental" -> (() => TextPipeline.ccIncremental(prior, delta, newIds)))
    calls.foreach { case (name, call) =>
      val entries0 = entries
      val first = jobsOf(s"$name-1") { call().collect(); () }
      assert(entries == entries0, s"$name left ${entries - entries0} cache entries behind")
      val repeat = jobsOf(s"$name-2") { call().collect(); () }
      assert(repeat == first, s"$name: the repeat call scheduled $repeat jobs, the first $first")
    }
  }

  // Lineage.fixpoint releases every superseded round: what stays
  // registered after the call is the result's own materialization
  test("a forced-distributed CC on a path graph leaves at most one checkpoint registered") {
    val path = (1L to 41L).map(i => (i, "x")).toDF("doc_id", "text")
    val pathPairs = (1L to 40L).map(i => (i, i + 1)).toDF("doc_id_1", "doc_id_2")
    val sc = spark.sparkContext
    val rdds0 = sc.getPersistentRDDs.size
    val labels = forcedDistributed(TextPipeline.dedupClusters(path, "doc_id", pathPairs))
      .as[(Long, Long)].collect()
    assert(labels.length == 41 && labels.forall(_._2 == 1L), labels.toSeq.sorted.toString)
    val grown = sc.getPersistentRDDs.size - rdds0
    assert(grown <= 1, s"$grown persistent RDDs stayed registered")
  }

  test("ccIncremental equals from-scratch dedupClusters on the fixture split") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    val pairs = Similarity
      .minhashNearDup(Similarity.tokenSetGroups(docs, "doc_id", "text"), 0.9, ordered = false)
      .select("doc_id_1", "doc_id_2").localCheckpoint()
    // split mid-corpus so both new-old and new-new edges exist
    val cut = docs.agg(max("doc_id")).head().getLong(0) / 2
    val prior = TextPipeline.dedupClusters(docs.filter(col("doc_id") < cut), "doc_id",
      pairs.filter(col("doc_id_1") < cut && col("doc_id_2") < cut))
    val inc = TextPipeline.ccIncremental(prior,
        pairs.filter(col("doc_id_2") >= cut)
          .select(col("doc_id_1").as("a"), col("doc_id_2").as("b")),
        docs.filter(col("doc_id") >= cut).select(col("doc_id").as("id")))
      .select("id", "cluster").as[(Long, Long)].collect().toMap
    val scratch = TextPipeline.dedupClusters(docs, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(inc == scratch, "incremental must equal the from-scratch fixpoint")
  }

  test("q_lsh_band_stats reconciles: reps per band = distinct token-set groups; bounds hold") {
    val rows = run("q_lsh_band_stats")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == Seq(0L, 1L), "exactly the 2 declared bands")
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    graft.engine.functions.GraftFunctions.register(spark)
    val nGroups = docs.select(call_function("token_set_hashes62", col("text")).as("h"))
      .distinct().count()
    rows.foreach { case (_, nReps, nBuckets, maxPop, hot, cand) =>
      assert(nReps == nGroups, "every band carries one row per identical-set rep")
      assert(nBuckets <= nReps && maxPop >= 1 && hot <= nBuckets)
      // a single bucket of pop p contributes p(p-1)/2; max bucket bounds below
      assert(cand >= maxPop * (maxPop - 1) / 2)
    }
  }

  // The eval truth pass runs at rep level over the identical-token-set
  // collapse: its member re-expansion (cross pairs carry the rep pair's
  // jaccard, within-group pairs are exact dups at 1.0) is a real
  // restructure, so pin it equal to the doc-level computation. The
  // engine keeps only the rep-level pass, so the doc-level scored table
  // is built here: exact all-pairs jaccard over the documents
  // themselves, full-outer-joined to the LSH pairs.
  test("rep-level eval truth reproduces the doc-level scored table") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "beta alpha delta gamma gamma"),  // same token SET as 1 (order/multiplicity differ)
      (7L, "alpha beta gamma delta"),        // verbatim duplicate of 1 → 3-member group
      (3L, "alpha beta gamma delta epsilon"),// 4/5 overlap with the {1,2,7} group
      (4L, "epsilon zeta eta theta"),
      (5L, "zeta epsilon theta eta"),        // same set as 4 → 2-member group
      (6L, "totally unrelated words here")
    ).toDF("doc_id", "text")
    val groups = Similarity.tokenSetGroups(docs, "doc_id", "text")
    def docLevel(d: org.apache.spark.sql.DataFrame, tMin: Double) = {
      val truth = TextPipeline.ngramJaccard(d.withColumn("all_blk", lit(1)),
          "doc_id", "text", Seq("all_blk"), tMin, ordered = false)
        .select(col("doc_id_1"), col("doc_id_2"), col("jaccard").as("tj"))
      val found = Similarity.minhashNearDup(Similarity.tokenSetGroups(d, "doc_id", "text"),
          tMin, ordered = false)
        .select(col("doc_id_1"), col("doc_id_2"), col("jaccard").as("fj"))
      truth.join(found, Seq("doc_id_1", "doc_id_2"), "full_outer").select("tj", "fj")
    }
    // the scored (tj, fj) table drops pair ids, so compare the multiset
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("tj", "fj").count().collect()
        .map(r => (Option(r.get(0)), Option(r.get(1)), r.getLong(2))).toSet
    val reference = canon(docLevel(docs, 0.2))
    // {1,2,7} within-group, 3 against each of them (J = 0.8), and {4,5}
    assert(reference.toSeq.map(_._3).sum == 7L, reference.toString)
    assert(canon(Similarity.scoredEvalTable(groups, 0.2)) == reference,
      "rep-level truth expansion must reproduce the doc-level scored table")
    assert(Similarity.minhashNearDup(groups, 0.2).collect().nonEmpty)
    // estimator emits only cross-rep banding pairs (no within-group rows),
    // so its leg — and a second scored-table leg — run on the sf corpus,
    // where the planted near-dups guarantee band collisions
    val corpus = graft.engine.io.Tables.documents(spark, sfDir)
    val cGroups = Similarity.tokenSetGroups(corpus, "doc_id", "text")
    assert(Similarity.minhashEstimate(cGroups, 0.9).collect().nonEmpty)
    val cRep = Similarity.scoredEvalTable(cGroups, 0.8)
    assert(canon(cRep) == canon(docLevel(corpus, 0.8)),
      "rep-level truth expansion must reproduce the doc-level scored table on the sf corpus")
  }
}
