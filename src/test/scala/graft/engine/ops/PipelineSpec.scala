package graft.engine.ops

import graft.SparkSuite
import graft.engine.io.Tables
import org.apache.spark.sql.functions._

/** Capstone: the LLM-curation pipeline composed end-to-end from the
  * public API — quality gate → language filter → near-dup cluster dedup →
  * stratified sample → token accounting. Each stage is a DataFrame
  * transform; nothing collects to the driver until the final assertions.
  * This is the "switch your pipeline to this library" path. */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  test("q_curation_pipeline manifest reconciles with its standalone stages") {
    val docs = Tables.documents(spark, sfDir)
    // r14: the pipeline's corpus is the LINE-CURATED reflow of the
    // slice (RefinedWeb order) — the reconciliation models the same
    // head stage; the benchmark side stays raw. r15: the slice filter
    // precedes curation (held-out docs don't enter the line registry).
    val corpus = Lines.lineCuratedCorpus(docs.filter(col("doc_id") >= 10),
      "doc_id", "text", Seq("lang"))
    val bench = docs.filter(col("doc_id") < 10)
    // recompute ALL FIVE gates from the standalone operators, at the
    // q_curation_pipeline binding's exact settings (this reconciliation
    // must model every gate the binding applies — the r7 minhash-family
    // fix exposed that the repetition/LM gates were silently shadowed
    // here by the old family's over-recalled near-dup removals)
    val keep = TextPipeline.gopherRules(corpus, "doc_id", "text")
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    val repKeep = TextPipeline.repetitionMetrics(corpus, "doc_id", "text", ordered = false)
      .filter(col("dup_bigram_bp") <= 1000L && col("dup_trigram_bp") <= 500L)
      .select("doc_id").as[Long].collect().toSet
    val lmTable = TextPipeline.lmTableBackoff(
      corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val lmKeep = TextPipeline.lmScoreBackoff(corpus, "doc_id", "text", lmTable, ordered = false)
      .filter(col("lm_score") >= 32000L).select("doc_id").as[Long].collect().toSet
    val contaminated = TextPipeline.contamination(corpus, "doc_id", "text",
        bench, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val removed = Similarity.minhashNearDup(
        Similarity.tokenSetGroups(corpus, "doc_id", "text"), 0.9, ordered = false)
      .select("doc_id_2").as[Long].collect().toSet
    val expectedIds = (keep & repKeep & lmKeep) -- contaminated -- removed
    // the manifest's doc total must equal the surviving id set exactly
    val manifest = graft.SparkEntry.queries("q_curation_pipeline")(spark, sfDir)
    val nDocs = manifest.agg(sum("n_docs")).head().getLong(0)
    assert(nDocs == expectedIds.size,
      s"manifest covers $nDocs docs, standalone stages leave ${expectedIds.size}")
    assert(nDocs > 0 && nDocs < corpus.count(), "pipeline must filter but not annihilate")
    // split shares: train ≈ 80% of survivors (hash split, wide tolerance)
    val bySplit = manifest.groupBy("split").agg(sum("n_docs").as("n"))
      .as[(String, Long)].collect().toMap
    assert(bySplit("train").toDouble / nDocs > 0.6, s"train share collapsed: $bySplit")
  }

  test("line-stage head changes a boilerplate-heavy doc's verdict vs the doc-level-only pipeline") {
    // the r13 pipeline started at doc-level Gopher rules over raw text;
    // the r14 head runs line curation first. The pin: some document
    // passes the doc gate on its RAW text but is dropped once its
    // boilerplate/fragment lines are stripped (reflow dropout or the
    // Gopher floor on the shrunken text) — i.e. the line stage is
    // load-bearing, not a pass-through.
    val docs = Tables.documents(spark, sfDir)
    val raw = docs.filter(col("doc_id") >= 10)
    val refl = Lines.lineCuratedCorpus(raw, "doc_id", "text", Seq("lang"))
    def gopherKeeps(c: org.apache.spark.sql.DataFrame): Set[Long] =
      TextPipeline.gopherRules(c, "doc_id", "text")
        .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    val keptOld = gopherKeeps(raw)
    val presentNew = refl.select("doc_id").as[Long].collect().toSet
    val keptNew = gopherKeeps(refl)
    val flipped = keptOld -- keptNew // dropped by reflow or by the gate on reflowed text
    assert(flipped.nonEmpty, "line stage changed no doc's verdict — it would be a pass-through")
    // at least one flipped doc is genuinely boilerplate-heavy: its
    // derived lines include an injected boilerplate line
    val boilerDocs = Lines.mlLines(docs, "doc_id", "text")
      .filter(col("line").contains("subscribe") || col("line").contains("rights reserved"))
      .select("doc_id").distinct().as[Long].collect().toSet
    assert((flipped & boilerDocs).nonEmpty,
      s"no flipped doc is boilerplate-heavy (flipped=${flipped.take(5)})")
    // sanity: the head does not annihilate the corpus
    assert(keptNew.nonEmpty && presentNew.nonEmpty)
  }

  test("curation pipeline composes and shrinks monotonically with sane stats") {
    val docs = Tables.documents(spark, sfDir)
    val total = docs.count()

    // 1. quality gate: keep mid+high diversity docs
    val scored = TextPipeline.qualityScore(docs, "doc_id", "text", "n_chars")
    val keepIds = scored.filter(col("quality_band") =!= "low").select("doc_id")
    val gated = docs.join(keepIds, "doc_id")
    val nGated = gated.count()
    assert(nGated <= total && nGated > 0)

    // 2. language filter via predicted language (en/de only)
    val langs = TextPipeline.langId(gated, "doc_id", "text", "lang")
      .filter(col("pred_lang").isin("en", "de")).select("doc_id")
    val inLang = gated.join(langs, "doc_id")
    val nLang = inLang.count()
    assert(nLang <= nGated)

    // 3. near-dup removal at cluster granularity: keep each cluster's rep
    val clusters = TextPipeline.dedupClusters(inLang, "doc_id", Similarity.minhashNearDup(
      Similarity.tokenSetGroups(inLang, "doc_id", "text"), 0.9, ordered = false))
    val reps = clusters.filter(col("id") === col("cluster"))
      .select(col("id").as("doc_id"))
    val deduped = inLang.join(reps, "doc_id")
    val nDeduped = deduped.count()
    assert(nDeduped <= nLang && nDeduped > 0)
    // exactly one representative per cluster
    assert(clusters.select("cluster").distinct().count() == nDeduped)

    // 4. stratified sample: en-heavy mix
    val sampled = TextPipeline.stratifiedSample(deduped, "doc_id", "lang",
      Map("en" -> 50), defaultPct = 10)
    val nSampled = sampled.count()
    assert(nSampled <= nDeduped)

    // 5. token accounting over the final corpus
    val stats = TextPipeline.tokenCounts(sampled, "doc_id", "text")
      .agg(sum("ws_tokens").as("total_ws"), count(lit(1)).as("n"))
      .head()
    assert(stats.getAs[Long]("n") == nSampled)
    assert(stats.getAs[Long]("total_ws") > 0)

    // 6. keyword features for the kept corpus: every surviving doc gets
    // ranked TF-IDF terms and no dropped doc leaks in
    val feats = TextPipeline.tfidfTopTerms(sampled, "doc_id", "text", 3)
    assert(feats.select("doc_id").distinct().count() == nSampled)
    assert(feats.groupBy("doc_id").count().agg(max("count")).head().getLong(0) <= 3)

    // 7. corpus accounting via the mergeable-bitmap rollup: distinct
    // surviving docs per language equals a plain distinct count
    val perLang = sampled
      .groupBy(col("lang"), bitmap_bucket_number(col("doc_id")).as("bkt"))
      .agg(bitmap_count(bitmap_construct_agg(bitmap_bit_position(col("doc_id")))).as("c"))
      .groupBy("lang").agg(sum("c").as("n_docs"))
      .as[(String, Long)].collect().toMap
    val exact = sampled.groupBy("lang").agg(countDistinct("doc_id").as("n"))
      .as[(String, Long)].collect().toMap
    assert(perLang == exact)
  }
  test("curation pipeline classifier gate composes exactly with the standalone scorer") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") >= 10)
    val bench = docs.filter(col("doc_id") < 10)
    // offline model: even-id half pseudo-labeled by the rule-based band
    val labels = TextPipeline.qualityScore(corpus.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", "n_chars", ordered = false)
      .select(col("doc_id"), (col("quality_band") =!= "low").as("pos"))
    val model = TextPipeline.qualityClassifierTrain(corpus.join(labels, "doc_id"), "text", "pos")
    // minimal pipeline (no rep/LM gates) so the expected id set is
    // recomputable: (gopher-keep ∩ clf-keep) − contaminated − removed
    val manifest = TextPipeline.curationPipeline(corpus, "doc_id", "text",
      bench, Seq("lang"), Similarity.minhashNearDup(
        Similarity.tokenSetGroups(corpus, "doc_id", "text"), 0.9, ordered = false),
      classifier = Some(model))
    val keep = TextPipeline.gopherRules(corpus, "doc_id", "text")
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    val clfKeep = TextPipeline.qualityClassifierScore(corpus, "doc_id", "text", model, ordered = false)
      .filter(col("pred_keep")).select("doc_id").as[Long].collect().toSet
    val contaminated = TextPipeline.contamination(corpus, "doc_id", "text",
        bench, "doc_id", "text").select("doc_id").as[Long].collect().toSet
    val removed = Similarity.minhashNearDup(
        Similarity.tokenSetGroups(corpus, "doc_id", "text"), 0.9, ordered = false)
      .select("doc_id_2").as[Long].collect().toSet
    val expected = (keep & clfKeep) -- contaminated -- removed
    val nDocs = manifest.agg(sum("n_docs")).head().getLong(0)
    assert(nDocs == expected.size,
      s"classifier-gated manifest covers $nDocs docs, recomposition leaves ${expected.size}")
    assert(clfKeep.size < corpus.count(), "the learned gate must actually drop something")
  }

  // r16 (verdict item 3): the mixture EXECUTOR must reconcile exactly
  // against the plan table in BOTH directions — plan→execution
  // disagreement is the silent corpus bug the plan exists to prevent.
  test("q_mixture_apply reconciles exactly against the domainMixture plan, both directions") {
    val docs = Tables.documents(spark, sfDir)
    val shares = Map("en" -> 2500L, "zh" -> 3000L, "es" -> 1500L,
                     "de" -> 1500L, "fr" -> 1500L)
    val plan = TextPipeline.domainMixture(docs, "lang", "text", shares, 60)
      .select("domain", "n_docs", "sample_rate_ppm", "epochs_bp")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val out = TextPipeline.mixtureApply(docs, "doc_id", "lang", "text", shares, 60)
      .select("doc_id", "domain", "epoch").as[(Long, String, Long)].collect()
    // direction 1 — a HEAD domain (epochs_bp ≤ 10000) emits one epoch,
    // carved to exactly the plan's ppm rate via the shared keyMix rule
    val (_, enDocs, enPpm, enBp) = plan("en")
    assert(enBp < 10000L, "fixture: en must be a down-sampled head domain")
    val enEmitted = out.filter(_._2 == "en")
    assert(enEmitted.forall(_._3 == 0L), "a head domain never repeats")
    assert(enEmitted.length < enDocs, "en must actually be cut")
    val enExpected = docs.filter(col("lang") === "en")
      .filter(TextPipeline.keyMix(col("doc_id")) * lit(1000000L) <
        lit(enPpm) * lit(4294967296L))
      .select("doc_id").as[Long].collect().toSet
    assert(enEmitted.map(_._1).toSet == enExpected,
      "en's emitted set must be exactly the plan-rate keyMix survivors")
    // direction 2 — the DEFICIT domain repeats: every full epoch is the
    // whole domain, the fractional tail is the epoch-salted bp carve
    val (_, zhDocs, _, zhBp) = plan("zh")
    assert(zhBp > 10000L, "fixture: zh must run a deficit")
    val full = zhBp / 10000L
    val fracBp = zhBp % 10000L
    val zhByEpoch = out.filter(_._2 == "zh").groupBy(_._3)
    (0L until full).foreach(e =>
      assert(zhByEpoch(e).length == zhDocs, s"full epoch $e must carry the whole domain"))
    assert(fracBp > 0L && zhByEpoch.contains(full), "fixture: zh must have a fractional tail")
    val zhTail = zhByEpoch(full).map(_._1).toSet
    assert(zhTail.nonEmpty && zhTail.size < zhDocs, "the tail epoch is a strict carve")
    val zhTailExpected = docs.filter(col("lang") === "zh")
      .filter(TextPipeline.keyMix(col("doc_id") + lit(1000003L * full)) * lit(10000L) <
        lit(fracBp) * lit(4294967296L))
      .select("doc_id").as[Long].collect().toSet
    assert(zhTail == zhTailExpected,
      "the tail epoch must be exactly the epoch-salted bp-carve survivors")
    // per-epoch determinism: a second run is bit-identical
    val again = TextPipeline.mixtureApply(docs, "doc_id", "lang", "text", shares, 60)
      .select("doc_id", "domain", "epoch").as[(Long, String, Long)].collect()
    assert(out.toSeq == again.toSeq, "the executor must be exactly replayable")
  }

  // r16 (verdict item 4): the cascade's attribution must reconcile
  // tier-by-tier against the standalone operators composed in order.
  test("q_dedup_cascade attribution reconciles against the composed standalone tiers") {
    val rows = graft.SparkEntry.queries("q_dedup_cascade")(spark, sfDir)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("1_url", "2_exact", "3_near"))
    // conservation + arithmetic + every tier genuinely cuts
    assert(rows(0)._4 == rows(1)._2 && rows(1)._4 == rows(2)._2,
      "each tier's output must be the next tier's input")
    rows.foreach { r =>
      assert(r._3 == r._2 - r._4, s"tier ${r._1}: dropped must equal in - out")
      assert(r._3 > 0, s"tier ${r._1} must cut on the fixture")
    }
    assert(rows(0)._3 > rows(1)._3 && rows(0)._3 > rows(2)._3,
      "the cheapest tier must do the bulk of the cutting on a crawl-shaped fixture")
    // independent recomposition from the standalone public ops
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"), col("text"))
    val recrawl = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("source"), col("text"))
    val mirror = base.filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("source"), lit("-m")).as("source"), col("text"))
    val corpus = base.unionAll(recrawl).unionAll(mirror)
    val s1 = corpus.join(
      TextPipeline.urlDedup(corpus, "doc_id", "source")
        .select(col("survivor").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val s2 = s1.join(
      TextPipeline.exactDedup(s1, "doc_id", "text").select("doc_id"),
      Seq("doc_id"), "left_semi")
    val basePairs = Similarity.minhashNearDup(
      Similarity.tokenSetGroups(Tables.documents(spark, sfDir), "doc_id", "text"), 0.9,
      ordered = false)
    // r17 (ADVICE): tier 3 removes only along pairs whose min-id
    // REPRESENTATIVE survived tiers 1-2 — the base graph restricted to
    // survivors equals re-running band+verify on the survivor corpus
    val removed = basePairs
      .join(s2.select(col("doc_id").as("doc_id_1")), Seq("doc_id_1"), "left_semi")
      .select(col("doc_id_2").as("doc_id")).distinct()
    val s3 = s2.join(removed, Seq("doc_id"), "left_anti")
    val (n3, sum3) = s3.agg(count(lit(1)), sum("doc_id")).as[(Long, Long)].head()
    assert(rows(2)._4 == n3 && rows(2)._5 == sum3,
      "cascade survivors must equal the standalone composition's survivor set")
    // (on THIS fixture the restricted and unrestricted tier-3 removals
    // coincide — every removed doc also pairs with a surviving rep —
    // which is exactly why the restriction needs its own pin below)
  }

  // r17 (ADVICE): tier 3 must remove only along pairs whose min-id
  // REPRESENTATIVE survived tiers 1-2. Synthetic corpus where the
  // composed fixture can't reach: doc 85 shares doc 1's canonical URL
  // (ids ≡ 1 mod 84 align every deriveUrl modulus) so tier 1 kills it,
  // and the pair (85, 90) must then NOT drop 90 — its content family
  // has no surviving representative. The control pair (1, 95) keeps
  // the tier-3 drop path exercised in the same run.
  test("dedupCascade tier 3 spares docs whose pair representative died upstream") {
    val docs = Seq(
      (1L, "srca", "text one"), (85L, "srca", "text eighty-five"),
      (90L, "srcb", "text ninety"), (95L, "srcc", "text ninety-five"))
      .toDF("doc_id", "source", "text")
    val pairs = Seq((85L, 90L), (1L, 95L)).toDF("doc_id_1", "doc_id_2")
    val rows = TextPipeline.dedupCascade(docs, "doc_id", "source", "text", pairs)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows(0) == ("1_url", 4L, 1L, 3L, 186L),
      s"tier 1 must drop exactly doc 85 (1's canonical twin): ${rows(0)}")
    assert(rows(1) == ("2_exact", 3L, 0L, 3L, 186L), s"no exact dups: ${rows(1)}")
    assert(rows(2) == ("3_near", 3L, 1L, 2L, 91L),
      s"tier 3 must drop 95 (rep 1 survives) and SPARE 90 (rep 85 died): ${rows(2)}")
  }

  // The session-artifact registry: one entry per (session, sfDir, name),
  // built once and handed back by identity; nested builds run outside
  // the map, so a consumer may be forced before its dependencies.
  test("Artifacts: repeated lookups share one handle; a new session gets its own") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    assert(Artifacts.pairsFull(s1, sfDir) eq Artifacts.pairsFull(s1, sfDir))
    assert(Artifacts.twins(s1, sfDir) eq Artifacts.twins(s1, sfDir))
    assert(!(Artifacts.pairsFull(s2, sfDir) eq Artifacts.pairsFull(s1, sfDir)))
    assert(Artifacts.held(s2) == Set("minhash_groups", "pairs_full"))
  }

  test("Artifacts: clusters forced before pairs_full builds its dependencies in place") {
    val nested = spark.newSession()
    val clusters = Artifacts.clusters(nested, sfDir).collect().map(_.toString).sorted
    assert(Artifacts.held(nested) == Set("minhash_groups", "pairs_full", "clusters"))
    val ordered = spark.newSession()
    val builders = TextPipeline.sharedArtifactBuilders(ordered, sfDir)
    val upTo = builders.map(_._1).indexOf("clusters")
    val forced = builders.take(upTo + 1).map { case (_, build) => build().collect() }
    assert(clusters.nonEmpty && clusters.length == forced.last.length)
    assert(clusters.toSeq == forced.last.map(_.toString).sorted.toSeq)
  }

  test("Artifacts: forcing the Bench labels in declared order adds one entry per label") {
    val s = spark.newSession()
    val builders = TextPipeline.sharedArtifactBuilders(s, sfDir)
    val labels = builders.map(_._1)
    assert(labels.distinct == labels)
    assert(Seq("minhash_groups", "pairs_full", "clusters").forall(labels.contains))
    builders.zipWithIndex.foreach { case ((label, build), i) =>
      build().count()
      assert(Artifacts.held(s) == labels.take(i + 1).toSet,
        s"forcing $label must add exactly its own entry: ${Artifacts.held(s)}")
    }
  }
}
