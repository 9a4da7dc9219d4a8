package graft.engine.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The public operator API must work on arbitrary frames with arbitrary
  * column names — not just the fixture tables the driver binds. */
class ApiSpec extends SparkSuite {
  import spark.implicits._

  test("exactDedup and latestPerKey on a hand-built frame with renamed columns") {
    val df = Seq(
      (1L, "hello world", 10L), (2L, "hello world", 20L), (3L, "unique text", 30L)
    ).toDF("my_id", "body", "version")
    val deduped = TextPipeline.exactDedup(df, "my_id", "body")
    assert(deduped.count() == 2)
    assert(deduped.filter(col("text") === "hello world").head().getLong(0) == 1L)

    val latest = TextPipeline.latestPerKey(df.withColumn("k", lit("a")), "k", "version", "my_id")
    assert(latest.count() == 1 && latest.head().getAs[Long]("my_id") == 3L)
  }

  test("minhashNearDup finds a renamed-column duplicate pair") {
    val df = Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (200L, "epsilon delta gamma beta alpha"), // same token set, shuffled
      (300L, "totally different words here now")
    ).toDF("pk", "content")
    val pairs = Similarity.minhashNearDup(Similarity.tokenSetGroups(df, "pk", "content"), 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((100L, 200L, 1.0)), s"got $pairs")
  }

  test("knnCosine and embeddingNearDup on a tiny renamed-column vector set") {
    val mk = (s: Double) => Array.tabulate(64)(i => (i * s).toFloat)
    val df = Seq((0L, mk(1.0)), (1L, mk(1.0)), (2L, mk(-1.0)))
      .toDF("vid", "vec")
    val knn = Similarity.knnCosine(df, "vid", "vec", 0L, 2)
      .as[(Long, Double)].collect().toMap
    assert(knn(1L) == 1.0, s"identical vector must score 1.0: $knn")
    val dups = Similarity.embeddingNearDup(df, "vid", "vec", 0.99)
      .as[(Long, Long, Double)].collect().toSeq
    assert(dups.map(p => (p._1, p._2)) == Seq((0L, 1L)), s"got $dups")
  }

  test("round-4 operators accept renamed columns: contaminationExact, repetitionMetrics, quantizeEmbeddings, annIvfBroadcast, curationPipeline pair input") {
    val corpus = Seq((10L, "a b c d e f g h"), (11L, "z y x w v u t s"))
      .toDF("cid", "body")
    val bench = Seq((1L, "c d e f g h i j")).toDF("bid", "btxt")
    val runs = TextPipeline.contaminationExact(corpus, "cid", "body",
        bench, "bid", "btxt", minRun = 5)
      .as[(Long, Long, Long)].collect().toSeq
    assert(runs == Seq((10L, 1L, 6L)), s"got $runs") // "c d e f g h" = 6 tokens

    val rep = TextPipeline.repetitionMetrics(
        Seq((5L, "p q p q")).toDF("k", "t"), "k", "t")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rep == Seq((5L, 4L, 3333L, 0L)), s"got $rep") // bigrams 3/2 distinct

    val mk = (s: Double) => Array.tabulate(64)(i => ((i % 7) * s).toFloat)
    val vecs = Seq((0L, mk(1.0)), (1L, mk(2.0)), (2L, mk(-1.0))).toDF("vid", "vec")
    val codes = Similarity.quantizeEmbeddings(vecs, "vid", "vec")
    assert(codes.count() == 3 * 64)
    assert(codes.columns.toSeq == Seq("vec_id", "dim", "code"))

    // the scaled copy shares the query's cell; the negated vector may
    // legitimately fall outside the probed cells (that's what IVF prunes)
    val ann = Similarity.annIvfBroadcast(vecs, "vid", "vec",
        Similarity.codebookDf(spark), 0L, 2)
      .as[(Long, Double)].collect().toSeq
    assert(ann.nonEmpty && ann.head == (1L, 1.0), s"got $ann")

    val pairs = Similarity.minhashNearDup(Similarity.tokenSetGroups(corpus, "cid", "body"), 0.9,
      ordered = false)
    // the benchmark side shares the corpus column names (API contract)
    val manifest = TextPipeline.curationPipeline(corpus, "cid", "body",
      bench.select(col("bid").as("cid"), col("btxt").as("body")),
      Seq.empty, pairs)
    assert(manifest.columns.contains("split"))
  }

  test("fingerprint is order-sensitive on the API surface") {
    val df = Seq((1L, "a b c"), (2L, "c b a")).toDF("id", "t")
    val fps = TextPipeline.fingerprint(df, "id", "t")
      .select("fp").as[Long].collect().toSet
    assert(fps.size == 2, "permutations must fingerprint differently")
  }

  test("knnJoin on renamed columns returns per-probe ranked neighbors") {
    val mk = (s: Double) => Array.tabulate(64)(i => ((i + 1) * s).toFloat)
    val df = Seq((10L, mk(1.0)), (11L, mk(1.001)), (12L, mk(-2.0)), (13L, mk(0.5)))
      .toDF("key", "emb")
    val out = Similarity.knnJoin(df, "key", "emb", Seq(10L, 12L), 2)
      .as[(Long, Long, Double, Long)].collect().toSeq
    val byProbe = out.groupBy(_._1)
    assert(byProbe.keySet == Set(10L, 12L))
    // probe 10's nearest is its scaled copy (cosine 1.0 at rank 1)
    assert(byProbe(10L).find(_._4 == 1L).exists(r => r._2 == 11L && r._3 == 1.0))
    // every probe gets exactly k ranked rows 1..k
    byProbe.values.foreach(rs => assert(rs.map(_._4).sorted.toSeq == Seq(1L, 2L)))
  }

  test("tfidfTopTerms on renamed columns: repeated rare term wins rank 1") {
    val df = Seq(
      (1L, "zebra zebra common common common"),
      (2L, "common common yak yak yak"),
      (3L, "common plain words only here")
    ).toDF("k", "body")
    val top = TextPipeline.tfidfTopTerms(df, "k", "body", 2)
      .filter(col("rk") === 1)
      .select("doc_id", "token").as[(Long, String)].collect().toMap
    assert(top(1L) == "zebra" && top(2L) == "yak",
      s"df=1 terms must outscore the df=3 stopword: $top")
  }

  test("chunkDocuments covers every token and repeats exactly the overlap") {
    val text = (1 to 100).map(i => s"w$i").mkString(" ")
    val df = Seq((7L, text)).toDF("id", "body")
    val chunks = TextPipeline.chunkDocuments(df, "id", "body", chunkSize = 32, overlap = 8)
      .as[(Long, Long, Long, String)].collect().toSeq
    // starts at 1, 25, 49, 73, 97 → 5 chunks; last has 4 tokens
    assert(chunks.map(_._2) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(chunks.map(_._3) == Seq(32L, 32L, 32L, 28L, 4L))
    // every source token appears; consecutive chunks share exactly 8
    val toksSeen = chunks.flatMap(_._4.split(" ")).toSet
    assert(toksSeen == (1 to 100).map(i => s"w$i").toSet)
    chunks.sliding(2).foreach {
      case Seq(a, b) =>
        val shared = a._4.split(" ").toSet.intersect(b._4.split(" ").toSet)
        assert(shared.size == math.min(8, b._3).toInt, s"overlap ${shared.size}")
      case _ => ()
    }
  }

  test("contamination flags an exact benchmark copy and ignores disjoint docs") {
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("bid", "btext")
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"), // exact copy → 4 shared shingles
      (200L, "alpha beta unrelated gamma delta"),    // only 1 shared shingle → below threshold
      (300L, "totally different words entirely here")
    ).toDF("cid", "ctext")
    val hits = TextPipeline.contamination(corpus, "cid", "ctext", bench, "bid", "btext")
      .as[(Long, Long, Long)].collect().toSeq
    assert(hits == Seq((100L, 1L, 4L)), s"got $hits")
  }

  test("mixtureReport shares sum to ~1e6 and totals conserve the corpus") {
    val df = Seq(
      (1L, "a b c", "web"), (2L, "d e", "web"), (3L, "f g h i", "books")
    ).toDF("id", "body", "src")
    val rep = TextPipeline.mixtureReport(df, "id", "body", Seq("src"))
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(rep.map(_._2).sum == 3 && rep.map(_._3).sum == 9)
    val ppmSum = rep.map(_._4).sum
    assert(ppmSum >= 999998 && ppmSum <= 1000000, s"doc ppm sum $ppmSum")
  }

  test("fuzzyMatch links a typo pair on renamed columns and honors the block") {
    val df = Seq(
      (1L, "jonathan smith", "NY"), (2L, "jonathan smyth", "NY"),
      (3L, "jonathan smyth", "CA"), // same name, wrong block — must not pair with 2
      (4L, "entirely different", "NY")
    ).toDF("rec", "fullname", "region")
    val pairs = TextPipeline.fuzzyMatch(df, "rec", "fullname", Seq("region"), 1)
      .select("id_1", "id_2", "dist").as[(Long, Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 1L)), s"got $pairs")
  }

  test("dedupParagraphs on renamed columns: duplicate paragraph collapses across docs") {
    val df = Seq(
      (7L, "p p p p tail a"), (9L, "p p p p tail b")
    ).toDF("k", "body")
    val out = TextPipeline.dedupParagraphs(df, "k", "body", paraSize = 4)
      .select("doc_id", "n_kept", "clean_text").as[(Long, Long, String)].collect()
      .sortBy(_._1)
    assert(out(0) == ((7L, 2L, "p p p p tail a")))
    assert(out(1) == ((9L, 1L, "tail b")))
  }

  test("kmeansStep and semanticDedup run on a renamed-column vector frame") {
    val vecs = (0L until 32L).map(i =>
      (i, Array.tabulate(64)(j => ((i * 7 + j) % 13).toFloat / 13f)))
      .toDF("point", "features")
    val step = Similarity.kmeansStep(vecs, "point", "features")
    // every (cell, dim) row accounted, populations partition the 32 points
    val n = step.groupBy("cell").agg(max("n").as("n"))
      .agg(sum("n")).head().getLong(0)
    assert(n == 32L)
    val pairs = Similarity.semanticDedup(vecs, "point", "features", 0.99)
    // the modular construction repeats every 13 ids → exact duplicates exist
    assert(pairs.count() > 0)
  }

  test("round-6 operators run on renamed-column frames") {
    val vecs = (0L until 32L).map(i =>
      (i, Array.tabulate(64)(j => ((i * 7 + j) % 13).toFloat / 13f)))
      .toDF("point", "features")
    // PQ train/search + kmeans training + MMR on (point, features)
    val trained = Similarity.pqTrain(vecs, "point", "features")
    assert(trained.groupBy("subspace", "dim").agg(sum("n").as("t"))
      .filter(col("t") =!= 32L).count() == 0L)
    val cb = Similarity.pqCodebook(vecs, "point", "features")
    assert(Similarity.annPq(vecs, "point", "features", cb, 0L, 5).count() == 5L)
    assert(Similarity.annIvfPq(vecs, "point", "features", cb, 0L, 3).count() > 0L)
    assert(Similarity.kmeansTrain(vecs, "point", "features", 2).count() > 0L)
    assert(Similarity.mmrSelect(vecs, "point", "features", 0L, 8, 3).count() == 3L)
    // tokenize + packGlobal + back-off LM on renamed text frames
    val docs = Seq((1L, "A  b\tc"), (2L, "d e f g h")).toDF("k", "body")
    val tok = TextPipeline.tokenize(docs, "k", "body")
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(tok == Map(1L -> (("A b c", 3L)), 2L -> (("d e f g h", 5L))))
    val chunks = TextPipeline.chunkDocuments(docs, "k", "body", 2, 0)
      .select("doc_id", "chunk_idx", "n_toks")
    assert(TextPipeline.packGlobal(chunks, "doc_id", "chunk_idx", "n_toks", 4).count() > 0L)
    val lm = TextPipeline.lmTableBackoff(docs, "k", "body")
    // doc 1 has only 2 non-empty tokens → no trigrams → drops (the
    // lmScore discipline); doc 2 scores
    assert(TextPipeline.lmScoreBackoff(docs, "k", "body", lm).count() == 1L)
    assert(TextPipeline.splitLeakage(Similarity.minhashNearDup(
      Similarity.tokenSetGroups(docs, "k", "body"), 0.9, ordered = false)).count() == 0L)
  }

  test("mixtureWeights on renamed columns: ppm sums to ~1e6") {
    val df = (1L to 90L).map(i => (i, s"src${i % 3}")).toDF("row", "origin")
    val w = TextPipeline.mixtureWeights(df, "origin", budget = 10)
      .select("stratum", "weight_ppm").as[(String, Long)].collect()
    assert(w.length == 3 && math.abs(w.map(_._2).sum - 1000000L) <= 3)
  }

  test("round-8 operators run on renamed-column frames") {
    val sh = (1 to 16).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, "en", s"a1 a2 a3 $sh a4"),
      (2L, "en", s"c1 c2 $sh c3"),
      (3L, "de", "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10")).toDF("k", "tongue", "body")
    // winnowing: the run-sharing pair surfaces on (k, body)
    val wp = TextPipeline.winnowPairs(docs, "k", "body")
      .as[(Long, Long, Long)].collect().toSeq
    assert(wp.map(p => (p._1, p._2)) == Seq((1L, 2L)), s"got $wp")
    assert(TextPipeline.winnowFingerprints(docs, "k", "body").count() > 0)
    assert(TextPipeline.winnowIndex(docs, "k", "body")
      .columns.toSeq == Seq("fp", "doc_id_ref", "fps_ref"))
    // perplexity terciles on (k, tongue, body): every scored doc tagged
    val lm = TextPipeline.lmTableBackoff(docs.filter(col("k") % 2 === 0), "k", "body")
    val pb = TextPipeline.perplexityBuckets(docs, "k", "body", "tongue", lm)
    assert(pb.columns.toSeq == Seq("doc_id", "tongue", "lm_score", "ppl_bucket"))
    assert(pb.filter(col("ppl_bucket").isin("head", "middle", "tail")).count() == pb.count())
    assert(TextPipeline.perplexityThresholds(docs, "k", "body", "tongue", lm)
      .columns.toSeq == Seq("tongue", "t_head", "t_mid"))
    // vocab coverage: in-vocab-only doc scores 0 bp
    val vc = TextPipeline.vocabCoverage(docs, "k", "body", vocabSize = 64)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    assert(vc.values.forall(bp => bp >= 0 && bp <= 10000), s"got $vc")
    // canonical selection on renamed columns with a length-based policy
    val clusters = TextPipeline.dedupClusters(docs, "k", Similarity.minhashNearDup(
      Similarity.tokenSetGroups(docs, "k", "body"), 0.9, ordered = false))
    val canon = TextPipeline.dedupCanonical(docs, "k", clusters, length(col("body")))
    assert(canon.columns.toSeq == Seq("doc_id", "cluster", "canonical_id", "is_canonical"))
    assert(canon.filter(col("is_canonical")).count() ==
      canon.select("cluster").distinct().count())
    // hard negatives + matryoshka on a renamed vector frame
    val mk = (s: Double) => Array.tabulate(64)(i => ((i + 1) * s).toFloat)
    val vecs = Seq((0L, mk(1.0), 7), (1L, mk(1.001), 7), (2L, mk(-1.0), 8), (3L, mk(0.5), 9))
      .toDF("vid", "emb", "cls")
    val hn = Similarity.hardNegatives(vecs, "vid", "emb", "cls", Seq(0L), 2)
      .as[(Long, Long, Int, Double, Long)].collect().toSeq
    assert(hn.forall(_._3 != 7), s"negatives must be wrong-label: $hn")
    // the scaled same-label copy is excluded; the best wrong-label wins rank 1
    assert(hn.find(_._5 == 1L).exists(_._2 == 3L), s"got $hn")
    val mat = Similarity.annMatryoshka(vecs, "vid", "emb", 0L, 32, 3, 2)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(mat.map(_._2).contains(1L), "the near-copy must rank")
  }

  test("simhash64 and minhash_sig compose on any frame via plain SQL") {
    graft.engine.functions.GraftFunctions.register(spark)
    val df = Seq((1L, "x y z"), (2L, "z y x"), (3L, "p q r")).toDF("id", "t")
    df.createOrReplaceTempView("api_docs")
    val sigs = spark.sql(
      """SELECT id,
        |  simhash64(transform(split(t, ' '), tok -> xxhash64(tok))) AS sh,
        |  minhash_sig(array_sort(transform(array_distinct(split(t, ' ')), tok -> xxhash64(tok)))) AS mh
        |FROM api_docs""".stripMargin)
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1).toSeq
    assert(sigs(0)._2 == sigs(1)._2, "token-reordered docs share a simhash")
    assert(sigs(0)._3 == sigs(1)._3, "token-reordered docs share a minhash signature")
    assert(sigs(0)._2 != sigs(2)._2 || sigs(0)._3 != sigs(2)._3,
      "different content must differ in at least one signature")
  }
}
