package graft.engine.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.functions.GraftFunctions
import graft.engine.io.Tables

/** Similarity search + probabilistic near-dup operators (north-star
  * additions, SURVEY.md §2.2-I): brute-force cosine top-k as the exact
  * baseline, LSH (random-hyperplane) bucketed and IVF-style ANN as the
  * scale paths, and MinHash-LSH / SimHash / embedding-cosine near-dup.
  *
  * The public functions are table-agnostic (caller names the id/vector/
  * text columns); the `queries` map binds them to the fixture tables for
  * the driver's oracle and bench.
  *
  * Scale design:
  *  - brute-force kNN is a broadcast of the (tiny) query vector against a
  *    full scan — a single narrow pass + TakeOrderedAndProject, no shuffle
  *    of the big side; at 100 TB it is the per-partition exact scorer
  *    that the ANN variants prune candidates FOR;
  *  - LSH/IVF bucketing turns all-pairs O(n²) into a join on a small
  *    band/cell key: the only shuffle is hash-partitioned by that key,
  *    which is uniformly distributed by construction (hash bits), no skew;
  *  - near-dup pipelines collapse identical content to one representative
  *    BEFORE any quadratic stage and verify with the native merge-walk
  *    expression — both measured order-of-magnitude wins (see git log);
  *  - dot products run through the native fused-loop `array_dot`
  *    expression; norms are computed once per vector in linear pre-passes,
  *    never inside pair loops.
  *
  * Deterministic "randomness": hyperplanes, MinHash coefficients and IVF
  * centroids come from fixed-seed scala.util.Random at plan-construction
  * time, so every run (and every executor) sees identical literals.
  */
object Similarity {
  private type Q = (SparkSession, String) => DataFrame

  /** dot(a, b): native fused-loop expression (ArrayDotProduct) — same
    * left-to-right double accumulation as the higher-order
    * `aggregate(zip_with(...))` fold it replaced (bit-identical results),
    * minus the per-row intermediate array. */
  private def dot(a: Column, b: Column): Column = GraftFunctions.arrayDot(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  private def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def canonVec(vectors: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // Register the native functions against the caller's session so the
    // public entry points resolve on ANY DataFrame — not just ones whose
    // session went through Tables.load / GraftExtensions. Idempotent.
    GraftFunctions.register(vectors.sparkSession)
    vectors.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
  }

  // ------------------------------------------------- exact cosine top-k
  /** Brute-force top-k nearest to `queryId` by cosine (self excluded) —
    * the exact baseline every ANN variant is judged against. */
  def knnCosine(vectors: DataFrame, idCol: String, vecCol: String,
                queryId: Long, k: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    val q0 = e.filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q0))
      .select(col("vec_id"), round(cosine(col("embedding"), col("qe")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
  }

  /** Brute-force k-NN JOIN: top-k cosine neighbors for EVERY id in
    * `queryIds` in one pass (the batch-retrieval shape, vs knnCosine's
    * single probe). The query side is broadcast — it is the small side
    * by construction — so the corpus scan runs once for all probes and
    * never shuffles; ranking is a per-query-id window over a corpus×|Q|
    * expansion. At 100 TB this is the exact-rerank stage: run it on the
    * candidate set an ANN pre-pass (annLsh/annIvf) emits, not the full
    * corpus. */
  def knnJoin(vectors: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id").asc)
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("embedding"), col("qe")), 4).as("cos_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy("q_id", "rk")
  }

  /** Hard-negative mining for contrastive training: for every query
    * vector, the top-k most cosine-similar corpus vectors whose LABEL
    * differs — the negatives that actually move an embedding model
    * (near the anchor in representation space, wrong by supervision;
    * random negatives are trivially separable and teach nothing).
    * Output carries the offending label and the similarity as
    * curriculum signal.
    *
    * Shape: [[knnJoin]] with the label inequality pushed into the
    * broadcast join condition — the corpus scans once for all probes,
    * wrong-label filtering happens BEFORE the rank window ever sees a
    * row, and the per-query top-k trims map-side (WindowGroupLimit).
    * At 100 TB run it over an ANN candidate set (annIvf/annLsh) rather
    * than the full corpus — same discipline as the exact-rerank tail. */
  def hardNegatives(vectors: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, queryIds: Seq[Long], k: Int): DataFrame = {
    GraftFunctions.register(vectors.sparkSession)
    val e = vectors.select(col(idCol).as("vec_id"),
      col(vecCol).as("embedding"), col(labelCol).as("label"))
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("label").as("q_label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id").asc)
    e.join(broadcast(q),
        col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
      .select(col("q_id"), col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("qe")), 4).as("cos_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy("q_id", "rk")
  }

  /** Margin-based bitext mining (the LASER/CCMatrix shape): for every
    * source-language document, its nearest target-language neighbor in
    * embedding space plus the MARGIN to the runner-up — the score that
    * separates a true translation (one clear winner) from a generic
    * topical match (many near-equal neighbors). Emits one row per source
    * doc: (src_id, tgt_id, cos_sim, margin); the consumer thresholds on
    * margin, which this fixture's random embeddings keep near zero.
    *
    * Shape: language sides come from ONE id-equi-join of documents to
    * embeddings; the candidate stage is the declared exact tier — target
    * corpus × BROADCAST source slice (bounded: one language's queries),
    * then a per-src top-2 window that WindowGroupLimit trims map-side
    * before the src-keyed shuffle. At 100 TB mine over ANN candidates
    * (annIvf per source vec) and keep this exact scorer as the rerank —
    * the same discipline as exactRerankTail. Rank and margin both use
    * the ROUNDED cosine, so cross-engine rank ties and the margin
    * arithmetic are decided on identical doubles. */
  def bitextMine(documents: DataFrame, embeddings: DataFrame,
                 srcLang: String, tgtLang: String): DataFrame = {
    val e = canonVec(embeddings, "vec_id", "embedding")
    val withLang = documents
      .select(col("doc_id").as("vec_id"), col("lang"))
      .join(e, "vec_id")
    val src = withLang.filter(col("lang") === srcLang)
      .select(col("vec_id").as("src_id"), col("embedding").as("se"))
    val tgt = withLang.filter(col("lang") === tgtLang)
      .select(col("vec_id").as("tgt_id"), col("embedding").as("te"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src_id").orderBy(col("cos_sim").desc, col("tgt_id").asc)
    tgt.crossJoin(broadcast(src)) // deliberate: exact tier over a bounded broadcast query slice
      .select(col("src_id"), col("tgt_id"),
        round(cosine(col("te"), col("se")), 4).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .groupBy("src_id")
      .agg(
        max(when(col("rk") === 1, col("tgt_id"))).as("tgt_id"),
        max(when(col("rk") === 1, col("cos_sim"))).as("cos_sim"),
        (max(when(col("rk") === 1, col("cos_sim"))) -
          max(when(col("rk") === 2, col("cos_sim")))).as("margin"))
      .orderBy("src_id")
  }

  /** LSH band-health audit — the operational guardrail for every banded
    * join in this file: per band, the bucket count, the worst bucket
    * population, how many buckets collide at all, and the candidate-pair
    * volume Σ pop·(pop−1)/2 the band will emit into the verify stage.
    * This is the query an operator runs BEFORE a 100 TB dedup to decide
    * `saltCap` (a bucket whose pairs term dominates the total is exactly
    * the hot band the salted fallback exists for) and to catch a
    * degenerate hash family (one giant bucket ⇒ quadratic blow-up)
    * while it is still one number in a report rather than a hung stage.
    *
    * Shape: the shared docs→groups→signature→band prefix (identical
    * arithmetic to [[minhashNearDup]]: [[tokenSetGroups]], the native
    * signature, [[bandKeys]]), then two narrow aggregates keyed by
    * (band, bkey) and band. Nothing quadratic runs: the audit costs one
    * signature pass even when the join it predicts would explode. */
  def minhashBandStats(documents: DataFrame, idCol: String, textCol: String,
                       k: Int = 16, bands: Int = 2): DataFrame = {
    val spark = documents.sparkSession
    val banded = tokenSetGroups(documents, idCol, textCol)
      .select(col("rep"), GraftFunctions.minhashSig(spark, col("hsh"), k).as("sig"))
      .select(col("rep"), bandKeys(col("sig"), k, bands, k / bands))
      .select(col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    banded.groupBy("band", "bkey").agg(count(lit(1)).as("pop"))
      .groupBy("band")
      .agg(
        sum("pop").as("n_reps"),
        count(lit(1)).as("n_buckets"),
        max("pop").as("max_pop"),
        count(when(col("pop") >= 2, lit(1))).as("hot_buckets"),
        sum(expr("(pop * (pop - 1)) DIV 2")).as("cand_pairs"))
      .orderBy("band")
  }

  /** Exact top-k most-similar pairs over ALL pairs — the O(n²) oracle for
    * what the near-dup sketches approximate. Norms are computed once per
    * vector in the linear pre-pass, so the quadratic stage does a single
    * fused dot per pair. */
  def allPairsTopK(vectors: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    // the n²/2 dot products happen per PROBE row of the broadcast
    // nested-loop join, so the probe side must be spread across the
    // cluster even when the input arrives as one small file (the
    // fuzzyMatchBlockJoin finding, r17 here: the whole quadratic stage
    // ran as one task). Layout-only — pair set and order unchanged.
    val par = vectors.sparkSession.sparkContext.defaultParallelism
    val a = e.repartition(par)
      .select(col("vec_id").as("vec_id_1"), col("embedding").as("ea"), norm(col("embedding")).as("na"))
    val b = e.select(col("vec_id").as("vec_id_2"), col("embedding").as("eb"), norm(col("embedding")).as("nb"))
    a.join(b, col("vec_id_1") < col("vec_id_2"))
      .select(col("vec_id_1"), col("vec_id_2"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id_1").asc, col("vec_id_2").asc)
      .limit(k)
      .orderBy(col("cos_sim").desc, col("vec_id_1").asc, col("vec_id_2").asc)
  }

  /** Sample-tier twin of [[allPairsTopK]] — the same discipline
    * [[dedupEvalSampled]] applies to the dedup ground truth, applied to
    * the similarity ground truth: the exact all-pairs audit runs only
    * within a deterministic keyMix carve (`keyBucket(id) < samplePct`,
    * the q_sample_hash rule — reproducible at any parallelism, no RNG
    * state), so the quadratic block shrinks with pct² (1/16 of the
    * full-corpus pairs at 25%) while the pair sample stays unbiased:
    * vectors are exchangeable under the id hash, so a uniform vector
    * sample induces a uniform sample of pairs within it.
    *
    * Scale: at 100 TB the full [[allPairsTopK]] is audit-tier only
    * (declared quadratic); THIS is the form a pipeline schedules to
    * spot-check an ANN index — the corpus never joins against itself
    * outside the carve. */
  def allPairsTopKSampled(vectors: DataFrame, idCol: String, vecCol: String,
                          k: Int, samplePct: Int): DataFrame =
    allPairsTopK(
      vectors.filter(TextPipeline.keyBucket(col(idCol)) < samplePct),
      idCol, vecCol, k)

  // ------------------------------------------------------- LSH-bucketed ANN
  private val Dim = 64
  private val NBits = 16

  /** Fixed-seed random hyperplanes as literal nested arrays (16 × 64). */
  private lazy val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(NBits, Dim)(rnd.nextGaussian())
  }

  private def planeCol(j: Int): Column = array(planes(j).map(lit(_)): _*)

  /** 16-bit random-hyperplane signature packed into a long. */
  private def lshSig(v: Column): Column =
    (0 until NBits).map { j =>
      when(dot(v, planeCol(j)) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** 64-bit hyperplane signature for the near-dup path, via the native
    * 64-plane expression (one compact plan node, one fused loop — see
    * HyperplaneSig64). Near-dup blocking wants far finer buckets than
    * ANN search: at cos ≥ 0.99 two vectors agree per hyperplane with
    * p ≈ 1 − acos(0.99)/π ≈ 0.955, so a 16-bit band still collides for
    * true pairs (≈ 99.8% recall over 4 bands at the planted
    * cos ≈ 0.9988) while unrelated near-orthogonal vectors (p ≈ 0.5)
    * collide with p ≈ 2⁻¹⁶ — 65 536 buckets per band instead of the 16
    * a 4-bit band gives. Separate seed from the ANN planes so the two
    * paths stay independently tunable. */
  private def dedupSig(v: Column): Column =
    call_function("hyperplane_sig64", v)

  /** LSH-bucketed ANN: search only the query's bucket-mates (same 4-bit
    * band in any of 4 bands) — candidates shrink ~16× per band while
    * recall over the exact top-k stays high (asserted in tests). */
  def annLsh(vectors: DataFrame, idCol: String, vecCol: String,
             queryId: Long, k: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol).withColumn("sig", lshSig(col("embedding")))
    // one explode per row, not a 4-way unionAll recomputing sig per band
    val bands = e.select(col("vec_id"), col("embedding"), col("sig"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * 4).bitwiseAND(0xF).as("band_key"))): _*)).as("bb"))
      .select(col("vec_id"), col("embedding"), col("sig"),
              col("bb.band").as("band"), col("bb.band_key").as("band_key"))
    val q0 = bands.filter(col("vec_id") === queryId)
      .select(col("band"), col("band_key"), col("embedding").as("qe"))
    // score per collision row, THEN collapse band multiplicity with a
    // narrow hash agg: the cosine depends only on (vec_id, query), so
    // every duplicate collision row carries the identical score and
    // max() IS that value. The old dropDuplicates-then-score shipped
    // both 64-dim embeddings through the dedup exchange and the array
    // column forced a SortAggregate; this shuffles (id, double) with
    // map-side partial aggregation instead (guide §2.3) — the per-row
    // dot is recomputed per collision (≤4×), far cheaper than the
    // payload shuffle it replaces.
    val cands = bands.join(broadcast(q0), Seq("band", "band_key"))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), round(cosine(col("embedding"), col("qe")), 4).as("cs"))
      .groupBy("vec_id").agg(max(col("cs")).as("cos_sim"))
    cands.select(col("vec_id"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
  }

  /** ANN candidate generation + exact rerank, composed end-to-end for a
    * BATCH of queries — the retrieval shape a 100 TB corpus actually
    * runs: the LSH band probe prunes the corpus to bucket-mates (~16×
    * per band), and only those candidates reach the exact cosine
    * scorer + per-query top-k window (knnJoin's ranking, applied to the
    * pruned set instead of the full corpus). One corpus scan computes
    * the signature and carries the embedding straight into the
    * candidate join — candidates are never re-joined against the corpus
    * — and the query side (bands × |Q| rows) is broadcast, so the big
    * side never shuffles until the (small) candidate set hits the
    * ranking window. */
  def annRerank(vectors: DataFrame, idCol: String, vecCol: String,
                queryIds: Seq[Long], k: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol).withColumn("sig", lshSig(col("embedding")))
    val bands = e.select(col("vec_id"), col("embedding"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * 4).bitwiseAND(0xF).as("band_key"))): _*)).as("bb"))
      .select(col("vec_id"), col("embedding"),
              col("bb.band").as("band"), col("bb.band_key").as("band_key"))
    val q = bands.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("band"), col("band_key"),
              col("embedding").as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id").asc)
    // a pair may collide in several bands: score per collision row, then
    // collapse the multiplicity with a narrow hash agg (cosine depends
    // only on the (q_id, vec_id) pair, so max() is the single distinct
    // value) — the annLsh §2.3 rewrite, batch-keyed
    bands.join(broadcast(q), Seq("band", "band_key"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("embedding"), col("qe")), 4).as("cs"))
      .groupBy("q_id", "vec_id").agg(max(col("cs")).as("cos_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy("q_id", "rk")
  }

  /** Multi-probe LSH ANN (Lv et al.): probe the query's bucket AND every
    * bucket at Hamming distance 1 within each band (the 4 single-bit
    * flips of the 4-bit band key) — the recall of many more hash tables
    * for ~5× PROBES against the SAME index: no index growth, no extra
    * corpus pass, and the flip enumeration is query-side only (a
    * 20-row broadcast). Near vectors' signature disagreements
    * concentrate on few bits, so the distance-1 buckets hold most of
    * what the exact bucket misses; candidates are a strict superset of
    * [[annLsh]]'s, so the top-k can only improve (spec-pinned). */
  def annLshMultiprobe(vectors: DataFrame, idCol: String, vecCol: String,
                       queryId: Long, k: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol).withColumn("sig", lshSig(col("embedding")))
    val bands = e.select(col("vec_id"), col("embedding"), col("sig"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * 4).bitwiseAND(0xF).as("band_key"))): _*)).as("bb"))
      .select(col("vec_id"), col("embedding"),
              col("bb.band").as("band"), col("bb.band_key").as("band_key"))
    val q0 = bands.filter(col("vec_id") === queryId)
      .select(col("band"), col("band_key"), col("embedding").as("qe"))
    val probes = q0.select(col("band"),
      explode(array((Seq(lit(0)) ++ (0 until 4).map(b => lit(1 << b))).map(m =>
        col("band_key").bitwiseXOR(m)): _*)).as("band_key"), col("qe"))
    // same §2.3 rewrite as annLsh: score per collision row (a pair can
    // collide in several probes), narrow hash agg collapses the
    // multiplicity — max() of identical values
    val cands = bands.join(broadcast(probes), Seq("band", "band_key"))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), round(cosine(col("embedding"), col("qe")), 4).as("cs"))
      .groupBy("vec_id").agg(max(col("cs")).as("cos_sim"))
    cands.select(col("vec_id"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
  }

  /** The LSH design S-curve: candidate probability
    * `P(collide | J) = 1 − (1 − J^r)^b` over a Jaccard grid for a set
    * of (bands, rows) design points — the table one READS before
    * committing a parameterization; [[minhashBandStats]] then audits
    * the chosen point on real data, [[minhashEstimate]] the estimator,
    * [[dedupEval]] the realized recall: the complete LSH tuning kit.
    * Powers evaluate as an explicit SQUARING CHAIN (j² → j⁴ → j⁸ → …;
    * r and b restricted to powers of two) so both engines walk the
    * identical IEEE multiplication tree, and the probability ships
    * floored to ppm — hash-oracled with no transcendental anywhere.
    * Cost: |grid|·|designs| rows of pure projection arithmetic. */
  def lshSCurve(spark: SparkSession, designs: Seq[(Int, Int)]): DataFrame = {
    def powChain(x: Column, e: Int): Column = {
      require(e >= 1 && (e & (e - 1)) == 0, s"power $e must be a power of two")
      if (e == 1) x else { val h = powChain(x, e / 2); h * h }
    }
    val grid = spark.range(1, 20)
      .select(col("id").as("k"), (col("id").cast("double") / lit(20.0)).as("j"))
    designs.map { case (b, r) =>
      val p = lit(1.0) - powChain(lit(1.0) - powChain(col("j"), r), b)
      grid.select(lit(b.toLong).as("bands"), lit(r.toLong).as("rws"),
        (col("k") * 5).as("j_pct"),
        floor(lit(1000000.0) * p).cast("long").as("collide_ppm"))
    }.reduce(_ unionAll _).orderBy("bands", "rws", "j_pct")
  }

  /** DuckDB replay of [[lshSCurve]] — the same squaring-chain text. */
  private def lshSCurveOracleSql(designs: Seq[(Int, Int)]): String = {
    def powTxt(x: String, e: Int): String =
      if (e == 1) x else { val h = powTxt(x, e / 2); s"($h * $h)" }
    designs.map { case (b, r) =>
      val p = s"(CAST(1.0 AS DOUBLE) - ${powTxt(s"(CAST(1.0 AS DOUBLE) - ${powTxt("j", r)})", b)})"
      s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rws,
         |  k * 5 AS j_pct,
         |  CAST(floor(CAST(1000000.0 AS DOUBLE) * $p) AS BIGINT) AS collide_ppm
         |FROM (SELECT k, CAST(k AS DOUBLE) / CAST(20.0 AS DOUBLE) AS j
         |      FROM (SELECT CAST(unnest(range(1, 20)) AS BIGINT) AS k))""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY bands, rws, j_pct"
  }

  /** MinHash estimator-quality audit: for every verified near-dup rep
    * pair, the SIGNATURE-estimated Jaccard (fraction of agreeing
    * signature coordinates — the textbook unbiased MinHash estimator)
    * against the exact value, both as integer bp, plus the per-pair
    * absolute error. This is the audit that justifies (or refutes)
    * tuning LSH parameters from signature agreement alone: at k=16 the
    * estimator's granularity is 625 bp, and the measured error column
    * shows exactly what that buys on THIS corpus — before anyone
    * trusts a k that looked fine on another one.
    *
    * All-integer output (`(10⁴·inter) DIV union`, `10⁴·matches DIV k`),
    * so the audit hash-oracles through the same generated signature
    * CTEs the dedup oracles replay. Scale shape: identical to
    * [[minhashNearDup]]'s banded chain (this IS that chain, stopping at
    * rep level) — the audit costs one extra k-wide coordinate compare
    * per verified pair. `groups` is the [[tokenSetGroups]] collapse; the
    * estimator reads only its (rep, hsh). */
  def minhashEstimate(groups: DataFrame, threshold: Double, k: Int = 16,
                      bands: Int = 2, rowsPerBand: Int = 8): DataFrame = {
    val spark = groups.sparkSession
    val reps = groups.select(col("rep"), col("hsh"))
    val sigs = reps.select(col("rep"), size(col("hsh")).as("sz"),
      GraftFunctions.minhashSig(spark, col("hsh"), k).as("sig"))
    val banded = sigs.select(col("rep"), col("sz"), bandKeys(col("sig"), k, bands, rowsPerBand))
      .select(col("rep"), col("sz"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val cand = banded.as("x").join(banded.as("y"), Seq("band", "bkey"))
      .filter(col("x.rep") < col("y.rep") && sizeBound(col("x.sz"), col("y.sz"), threshold))
      .select(col("x.rep").as("rep_1"), col("y.rep").as("rep_2")).distinct()
    val sa = reps.join(sigs.select(col("rep"), col("sig")), "rep")
      .select(col("rep").as("rep_1"), col("hsh").as("ha"), col("sig").as("siga"))
    val sb = reps.join(sigs.select(col("rep"), col("sig")), "rep")
      .select(col("rep").as("rep_2"), col("hsh").as("hb"), col("sig").as("sigb"))
    val inter = GraftFunctions.sortedIntersectSize(spark, col("ha"), col("hb"))
    val matches = (0 until k).map(i =>
      when(element_at(col("siga"), i + 1) === element_at(col("sigb"), i + 1), lit(1L))
        .otherwise(lit(0L))).reduce(_ + _)
    cand.join(sa, "rep_1").join(sb, "rep_2")
      .filter(setJaccard(col("ha"), col("hb")) >= threshold)
      .withColumn("inter", inter.cast("long"))
      .withColumn("nmatch", matches)
      .select(col("rep_1"), col("rep_2"),
        expr("(10000 * inter) DIV (size(ha) + size(hb) - inter)").as("exact_bp"),
        expr(s"(10000 * nmatch) DIV $k").as("est_bp"))
      .withColumn("err_bp", abs(col("exact_bp") - col("est_bp")))
      .orderBy("rep_1", "rep_2")
  }

  /** Mean-Reciprocal-Rank audit — the POSITION-sensitive complement to
    * [[annRecall]]: recall@k says WHETHER the exact neighbors surfaced
    * in the ANN candidates; MRR says WHERE. For each probe, the exact
    * top-1 neighbor ([[knnJoin]] at k=1) is looked up in the ANN
    * ranking ([[annRerank]]); `rr_bp = 10000 DIV rank` (0 on a miss —
    * exactly when a reranking stage can no longer save the query). All
    * integer arithmetic, so the audit hash-oracles cross-engine — the
    * reason MRR is used here instead of nDCG, whose transcendental
    * log2 weights do not replay bit-identically.
    *
    * Scale shape: both legs are the scale-shaped retrieval operators
    * they audit; the lookup join runs over |Q| truth rows × |Q|·k
    * candidate rows — nothing new touches the corpus. */
  def retrievalMrr(vectors: DataFrame, idCol: String, vecCol: String,
                   queryIds: Seq[Long], k: Int): DataFrame = {
    val truth = knnJoin(vectors, idCol, vecCol, queryIds, 1)
      .select(col("q_id"), col("vec_id").as("truth_id"))
    val approx = annRerank(vectors, idCol, vecCol, queryIds, k)
      .select(col("q_id").as("a_qid"), col("vec_id"), col("rk"))
    truth.join(approx,
        col("q_id") === col("a_qid") && col("truth_id") === col("vec_id"),
        "left_outer")
      .select(col("q_id"), col("truth_id"),
        coalesce(col("rk"), lit(0L)).as("rank_found"),
        coalesce(expr("10000 DIV rk"), lit(0L)).as("rr_bp"))
      .orderBy("q_id")
  }

  /** Salt-group cap for the all-pairs truth joins (0/negative → unsalted
    * single-task join). Env-tunable for A/B measurement and for hosts
    * whose core count makes a different spread optimal; the default
    * bounds per-task pair count at ~(2·cap)². */
  private def evalSaltCap: Option[Int] =
    sys.env.get("SPARK_GRAFT_EVAL_SALTCAP").map(_.toInt)
      // 64 (r18): probe-paired sweep over {64, 256, 1024} on the
      // eval_scored build (quiet window, 2 reps) — 6.2–6.7 s at 64 vs
      // 8.2–8.3 s at 256 vs 8.7 s at 1024: the finer spread lowers the
      // max task at equal pair count (salting is layout-only; the pair
      // universe is pinned by the existing tiling tests). Still
      // env-tunable for hosts whose core count prefers another spread.
      .orElse(Some(64)).filter(_ > 0)

  /** Dedup-quality audit — the near-dup analogue of [[annRecall]]: the
    * MinHash-LSH pair set ([[minhashNearDup]]) confusion-counted against
    * the EXACT all-pairs Jaccard ground truth at the same threshold, as
    * one operator emitting `(n_truth, n_found, tp, fp, fn, precision_bp,
    * recall_bp)` — the banding-miss rate a pipeline watches before
    * trusting an LSH parameterization on a new corpus. Because the LSH
    * path verifies exact Jaccard on its candidates, fp can only be 0;
    * the audit still counts it honestly rather than assuming it.
    *
    * Scale: the ground-truth side is DECLARED quadratic (the
    * `q_sim_pairs_topk` discipline — an audit tier you run on a sample,
    * not a serving path; the single-block ngramJaccard call makes that
    * explicit). The confusion count runs over pair sets, not the corpus.
    * One gate, so the scored table is read once and stays lazy. */
  def dedupEval(documents: DataFrame, idCol: String, textCol: String,
                threshold: Double): DataFrame =
    dedupEvalAt(scoredEvalTable(tokenSetGroups(documents, idCol, textCol), threshold), threshold)

  /** The [[dedupEval]] confusion counted at a LADDER of thresholds from
    * one pair computation — the curve an operator reads to SET the dedup
    * threshold instead of auditing a single point: both the exact
    * all-pairs truth and the LSH candidate set are scored ONCE at the
    * ladder's minimum (banding is threshold-independent; the size-bound
    * prune at min(t)−0.001 is provably inert for every rung) into the
    * [[scoredEvalTable]] the caller passes as `scored`, and each rung
    * re-gates it with pure column predicates ([[dedupEvalAt]]); every
    * rung reads it, so the caller truncates it ([[Lineage.truncate]]).
    * Recall falling away below the banding design point is exactly the
    * S-curve the parameterization chose — this query makes that trade
    * measurable.
    *
    * Scale: one quadratic truth pass (the declared audit tier) + one
    * near-dup run; the per-rung aggregates run over the materialized
    * pair table, never re-scoring. */
  def dedupEvalSweep(scored: DataFrame, thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty)
    thresholds.sorted.map { t =>
      dedupEvalAt(scored, t)
        .select(lit(math.round(t * 100)).cast("long").as("threshold_pct"), col("*"))
    }.reduce(_ unionAll _).orderBy("threshold_pct")
  }

  /** The (tj, fj) scored pair table both dedup audits re-gate: exact
    * all-pairs truth and verified LSH candidates, each carrying its
    * jaccard, full-outer joined on the pair key. Returned lazy: a caller
    * that gates it more than once truncates it first. A gate at any
    * t ≥ `tMin` is a pure filter of this table (banding is
    * threshold-independent; the size-bound prune at tMin−0.001 is inert
    * for every higher gate).
    *
    * The truth pass runs at REP level over the identical-token-set
    * collapse `groups` ([[tokenSetGroups]]): jaccard is a pure function
    * of the token SET, so each distinct-set pair is verified once and
    * [[expandRepPairs]] expands the members back (cross pairs carry the
    * rep pair's jaccard, within-group pairs are exact duplicates at
    * 1.0 ≥ tMin): ~38% fewer merge-walk probes at sf0.1, more on a
    * template-heavy corpus. The sets reach the truth join already
    * hashed ([[TextPipeline.hashSetJaccard]]), so its salted branch
    * caches nothing. Spec-pinned equal to a doc-level all-pairs reference in
    * TextSimilaritySpec; the found side shares the same groups. */
  private[ops] def scoredEvalTable(groups: DataFrame, tMin: Double): DataFrame = {
    // saltCap (r17): the single-block truth join otherwise runs the
    // whole quadratic verify in ONE task (~19 s at sf0.1 for eval_scored)
    val repPairs = TextPipeline.hashSetJaccard(
        groups.select(col("rep").as("doc_id"), lit(1).as("all_blk"), col("hsh").as("shingles")),
        Seq("all_blk"), tMin, bandCol = None, saltCap = evalSaltCap, ordered = false)
      .join(groups.select(col("rep").as("doc_id_1"), col("members").as("ma")), "doc_id_1")
      .join(groups.select(col("rep").as("doc_id_2"), col("members").as("mb")), "doc_id_2")
    val truth = expandRepPairs(repPairs, groups)
      .select(col("doc_id_1"), col("doc_id_2"), col("jaccard").as("tj"))
    val found = minhashNearDup(groups, tMin, ordered = false)
      .select(col("doc_id_1"), col("doc_id_2"), col("jaccard").as("fj"))
    truth.join(found, Seq("doc_id_1", "doc_id_2"), "full_outer")
      .select("tj", "fj")
  }

  /** The one confusion count of the dedup audits: (n_truth, n_found, tp,
    * fp, fn, precision_bp, recall_bp) of a scored pair table gated at
    * `t`. Precision/recall are NULL when their denominator is 0. */
  def dedupEvalAt(scored: DataFrame, t: Double): DataFrame =
    scored.agg(
        sum(when(col("tj") >= t && col("fj") >= t, 1L).otherwise(0L)).as("n_tp"),
        sum(when((col("tj").isNull || col("tj") < t) && col("fj") >= t, 1L)
          .otherwise(0L)).as("n_fp"),
        sum(when(col("tj") >= t && (col("fj").isNull || col("fj") < t), 1L)
          .otherwise(0L)).as("n_fn"))
      .select(
        (col("n_tp") + col("n_fn")).as("n_truth"),
        (col("n_tp") + col("n_fp")).as("n_found"),
        col("n_tp"), col("n_fp"), col("n_fn"),
        expr("CASE WHEN n_tp + n_fp = 0 THEN NULL ELSE 10000 * n_tp DIV (n_tp + n_fp) END")
          .as("precision_bp"),
        expr("CASE WHEN n_tp + n_fn = 0 THEN NULL ELSE 10000 * n_tp DIV (n_tp + n_fn) END")
          .as("recall_bp"))

  /** The sample-tier form of [[dedupEval]] — the discipline the docs
    * promise for the quadratic ground-truth audits, DEMONSTRATED as an
    * operator instead of argued: the exact all-pairs truth runs on a
    * deterministic keyMix sample (`keyBucket(id) < samplePct`, the
    * q_sample_hash rule — reproducible at any parallelism, no RNG
    * state), so the audit cost is `(pct/100)²` of the full-corpus
    * confusion (1/16 at 25%) while recall/precision remain unbiased
    * estimates: banding is exchangeable over documents, so a uniform
    * id-hash sample of docs induces a uniform sample of pairs within
    * it. `n_docs_sample` rides along so the reader can see the tier.
    *
    * Scale: at 100 TB the FULL [[dedupEval]] truth pass is off the
    * table (it is declared audit-tier); THIS is the form a pipeline
    * actually schedules — the quadratic block shrinks with pct² while
    * the LSH candidate side stays corpus-shaped. */
  def dedupEvalSampled(documents: DataFrame, idCol: String, textCol: String,
                       threshold: Double, samplePct: Int): DataFrame = {
    val sample = documents.filter(TextPipeline.keyBucket(col(idCol)) < samplePct)
    val n = sample.agg(count(lit(1)).as("n_docs_sample"))
    dedupEval(sample, idCol, textCol, threshold)
      .crossJoin(broadcast(n)) // deliberate 1-row broadcast
      .select("n_docs_sample", "n_truth", "n_found", "n_tp", "n_fp", "n_fn",
        "precision_bp", "recall_bp")
  }

  /** Retrieval-quality audit: recall@k of the ANN candidate path
    * ([[annRerank]] — LSH band probe + exact rerank) against the exact
    * kNN ground truth ([[knnJoin]]) for a batch of probes, as an
    * OPERATOR rather than an offline eval script — the per-probe
    * recall_bp a pipeline gates an index rebuild on. Both sides are the
    * already-deterministic retrieval operators (same round(·,4) +
    * id-tiebreak ranking), so the audit itself hash-oracles as their
    * composition.
    *
    * Scale shape: both legs are the scale-shaped operators they audit;
    * the hit join and per-probe counts run over |Q|·k rows — nothing
    * new touches the corpus. Probes with ZERO ANN hits still surface
    * (left join), which is exactly when the audit matters most. */
  def annRecall(vectors: DataFrame, idCol: String, vecCol: String,
                queryIds: Seq[Long], k: Int): DataFrame = {
    val exact = knnJoin(vectors, idCol, vecCol, queryIds, k)
      .select("q_id", "vec_id")
    val approx = annRerank(vectors, idCol, vecCol, queryIds, k)
      .select("q_id", "vec_id")
    val hits = exact.join(approx, Seq("q_id", "vec_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
    exact.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left_outer")
      .select(col("q_id"), lit(k.toLong).as("k"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall_bp", expr("10000 * n_hit DIV k"))
      .orderBy("q_id")
  }

  /** Hybrid retrieval — the full RAG-style stack as one operator:
    * BM25 keyword candidates ([[TextPipeline.bm25TopK]], the query
    * document's own terms as the keyword query) ∪ LSH vector candidates
    * ([[annLsh]]'s band probe) → ONE exact cosine rerank over the
    * union, with per-candidate provenance flags (`in_bm25`, `in_ann`).
    * The two legs retrieve different things by construction — keyword
    * overlap finds docs sharing rare terms regardless of geometry, the
    * band probe finds geometric neighbors regardless of vocabulary —
    * and the union reranked under one exact score is the standard
    * hybrid-search composition.
    *
    * Scale shape: each leg is its own already-scale-shaped operator;
    * the union is tiny (≤ 2·nCand ids) and BROADCASTS under one final
    * corpus scan for the rerank — the corpus is never re-shuffled and
    * candidates are never re-joined against each other. The BM25 leg
    * keeps up to nCand+1 ranks before dropping the query document
    * itself (which trivially ranks first on its own terms).
    *
    * CONTRACT: document ids and vector ids are the SAME id space
    * (`doc_id == vec_id` row for row) — the rerank joins the candidate
    * union inner against the embeddings, so a BM25 candidate with no
    * embedding row would be silently dropped, provenance and all. If
    * the spaces can diverge, map ids first (or left-join and route
    * embedding-less candidates to an error sink). */
  def hybridRerank(documents: DataFrame, docIdCol: String, textCol: String,
                   tokens: DataFrame, dl: DataFrame,
                   vectors: DataFrame, vecIdCol: String, vecCol: String,
                   queryId: Long, nCand: Int, k: Int): DataFrame = {
    // keyword query = the query doc's first 16 tokens, not its full
    // text: a retrieval query is short by nature, and a corpus-sized
    // term set would defeat the BM25 leg's query-term pruning
    val qdoc = documents.filter(col(docIdCol) === queryId)
      .select(col(docIdCol).as("query_id"),
        concat_ws(" ", slice(split(col(textCol), " "), 1, 16)).as("qtext"))
    val bmIds = TextPipeline.bm25TopK(tokens, dl, qdoc, "query_id", "qtext", nCand + 1)
      .filter(col("doc_id") =!= queryId)
      .select(col("doc_id").as("cand_id"), lit(true).as("in_bm25"))
    val annIds = annLsh(vectors, vecIdCol, vecCol, queryId, nCand)
      .select(col("vec_id").as("cand_id"), lit(true).as("in_ann"))
    val cands = bmIds.join(annIds, Seq("cand_id"), "full_outer")
      .select(col("cand_id"),
        coalesce(col("in_bm25"), lit(false)).as("in_bm25"),
        coalesce(col("in_ann"), lit(false)).as("in_ann"))
    val e = canonVec(vectors, vecIdCol, vecCol)
    val qe = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qemb"))
    // the rank runs over the ≤ 2·nCand candidate union, never the
    // corpus — constWindowKey keeps the single-partition move explicit
    // and silent (a literal key is folded away and WindowExec warns)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(GraftFunctions.constWindowKey(col("doc_id")))
      .orderBy(col("cos_sim").desc, col("doc_id").asc)
    e.join(broadcast(cands), col("vec_id") === col("cand_id"))
      .crossJoin(broadcast(qe))
      .select(col("vec_id").as("doc_id"), col("in_bm25"), col("in_ann"),
        round(cosine(col("embedding"), col("qemb")), 4).as("cos_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("rk", "doc_id", "cos_sim", "in_bm25", "in_ann")
      .orderBy("rk")
  }

  // ---------------------------------------------------------------- IVF ANN
  private val NCells = 16
  private val NProbe = 4

  /** Fixed-seed Gaussian coarse centroids (IVF codebook stand-in: at real
    * scale these come from a sampled k-means; the partition/probe shape —
    * which is what scales — is identical). */
  private lazy val centroids: Array[Array[Double]] = {
    val rnd = new scala.util.Random(11)
    Array.fill(NCells, Dim)(rnd.nextGaussian())
  }

  private def centroidCol(j: Int): Column = array(centroids(j).map(lit(_)): _*)

  /** `embedding`'s dot with each literal centroid, in cell order. */
  private def literalDots: Column =
    array((0 until NCells).map(j => dot(col("embedding"), centroidCol(j))): _*)

  /** `e` plus its nearest LITERAL-codebook `cell` (and the `dots` it was
    * chosen from): max dot, first tie to the lowest cell, 1-based
    * (`array_position`) — the rule [[assignWithCb]] reproduces against a
    * codebook frame. */
  private def withLiteralCell(e: DataFrame): DataFrame =
    e.withColumn("dots", literalDots)
      .withColumn("cell", array_position(col("dots"), array_max(col("dots"))))

  /** IVF-style ANN — vectors are bucketed by nearest coarse centroid (the
    * inverted file), the query probes its NProbe closest cells, and only
    * those cells are scored exactly. The 100 TB shape: the index pass is
    * one narrow scan, search touches ~NProbe/NCells of the data, and the
    * cell id is a partition key (cluster layout: `partitionBy(cell)` makes
    * a probe a partition-pruned read). */
  def annIvf(vectors: DataFrame, idCol: String, vecCol: String,
             queryId: Long, k: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    val indexed = withLiteralCell(e).select(col("vec_id"), col("embedding"), col("cell"))
    val q0 = indexed.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), col("cell").as("qcell"))
    // the query's NProbe nearest cells, by centroid dot with the query
    val qcells = e.filter(col("vec_id") === queryId)
      .select(posexplode(literalDots.as("d")).as(Seq("j", "qdot")))
      .orderBy(col("qdot").desc, col("j").asc).limit(NProbe)
      .select((col("j") + 1).as("cell")) // array_position is 1-based
    val cands = indexed.filter(col("vec_id") =!= queryId)
      .join(broadcast(qcells), "cell")
      .crossJoin(broadcast(q0.select("qe")))
    cands.select(col("vec_id"), round(cosine(col("embedding"), col("qe")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
  }

  /** The IVF codebook as a DataFrame (cell, centroid) — the input shape
    * of the broadcast-join variants below and of external callers
    * bringing their own trained codebook. Cells are 1-based, matching
    * the literal path's `array_position`. */
  def codebookDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, j) => ((j + 1).toLong, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
  }

  /** [[annIvf]] with the codebook as a broadcast DataFrame instead of
    * plan literals. Identical output (same dot, same first-tie-lowest-
    * cell argmax — the struct max on (dot, −cell) can't tie past the
    * cell because cells are distinct per vector), different scaling law:
    * plan literals cap the codebook at what an expression tree tolerates
    * (fine at 16 cells, absurd at a 64 k-centroid IVF), while a
    * broadcast relation carries any codebook that fits executor memory
    * and upgrades to a shuffle join beyond that — no operator rewrite.
    * The corpus still never shuffles for the probe: assignment is a
    * broadcast nested-loop + one (vec_id)-keyed argmax agg (map-side
    * combine collapses the ×cells fan-out per partition), and the
    * query's probe cells and embedding both broadcast. */
  def annIvfBroadcast(vectors: DataFrame, idCol: String, vecCol: String,
                      codebook: DataFrame, queryId: Long, k: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    val cb = broadcast(codebook.select(col("cell"), col("centroid")))
    val assigned = assignWithCb(e, codebook)
    val qcells = e.filter(col("vec_id") === queryId).crossJoin(cb)
      .select(col("cell"), dot(col("embedding"), col("centroid")).as("qdot"))
      .orderBy(col("qdot").desc, col("cell").asc).limit(NProbe)
      .select("cell")
    val q0 = e.filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    assigned.filter(col("vec_id") =!= queryId)
      .join(broadcast(qcells), "cell")
      .crossJoin(broadcast(q0))
      .select(col("vec_id"), round(cosine(col("embedding"), col("qe")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
  }

  /** Per-(keys…, dim) Lloyd-update statistics of the `vec` arrays in
    * `assigned`: a count, a `floor(v·10⁶)`-scaled component sum and the
    * floored mean, `dim` 1-based. Exact integers, because a float mean
    * depends on summation order and would be neither reproducible across
    * layouts nor oracle-checkable; the 10⁻⁶ quantization is far below
    * any codebook update that matters. One posexplode + one
    * partial+final hash agg: map-side combine collapses each partition
    * to ≤ codebook×dims rows before the shuffle. Unordered. */
  private def flooredMeans(assigned: DataFrame, keys: Seq[String], vec: String): DataFrame =
    assigned.select(keys.map(col) :+ posexplode(col(vec)).as(Seq("dim0", "v")): _*)
      .groupBy((keys :+ "dim0").map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(floor(col("v").cast("double") * lit(1000000.0)).cast("long")).as("sum_x1e6"))
      .select(keys.map(col) ++ Seq((col("dim0") + 1).cast("long").as("dim"),
        col("n"), col("sum_x1e6"),
        floor(col("sum_x1e6").cast("double") / col("n")).cast("long").as("mean_x1e6")): _*)

  /** [[flooredMeans]] statistics folded into a codebook: one dim-sorted
    * `centroid` of `mean_x1e6 / 10⁶` per `keys` tuple — exact integers
    * divided by the same constant in both engines, so trained centroids
    * are bit-identical doubles. Keys no vector mapped to don't exist. */
  private def foldCodebook(stats: DataFrame, keys: Seq[String]): DataFrame =
    stats.select(keys.map(col) ++ Seq(col("dim"),
        (col("mean_x1e6").cast("double") / lit(1000000.0)).as("c")): _*)
      .groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("dc"))
      .select(keys.map(col) :+ transform(col("dc"), x => x("c")).as("centroid"): _*)

  /** The one Lloyd loop behind [[kmeansTrain]], [[ivfCodebookSized]] and
    * [[pqTrainIters]]: `first` is round 1's assignment (keys…, `vec`);
    * every round takes its [[flooredMeans]] statistics, and every round
    * but the last folds them ([[foldCodebook]]) into the codebook
    * `reassign` assigns the corpus against next. Returns the final
    * round's statistics, unordered.
    *
    * Codebook policy: the folded codebook (≤ 1,024 rows — the model, not
    * data) is collected to the driver and re-enters as a local relation,
    * the way MLlib's KMeans keeps its centers. Every round's plan is one
    * level deep and nothing is cached: a persisted per-round frame has
    * no owner to unpersist it, so it outlives the call and a repeat call
    * reads its blocks instead of training, while a lazy per-round frame
    * nests every earlier round's assignment into the next. So a call
    * with `iters` > 1 runs `iters − 1` driver round trips at
    * construction; `iters = 1` runs none and stays lazy. */
  private def lloyd(first: DataFrame, keys: Seq[String], vec: String, iters: Int)
                   (reassign: DataFrame => DataFrame): DataFrame = {
    var stats = flooredMeans(first, keys, vec)
    var r = 1
    while (r < iters) {
      val cb = foldCodebook(stats, keys)
      val local = first.sparkSession
        .createDataFrame(java.util.Arrays.asList(cb.collect(): _*), cb.schema)
      stats = flooredMeans(reassign(local), keys, vec)
      r += 1
    }
    stats
  }

  /** One Lloyd step of k-means over the IVF codebook — [[kmeansTrain]]
    * with `iters = 1`: the ASSIGNMENT (the annIvf literal-codebook
    * argmax) and the per-(cell, dimension) [[flooredMeans]] UPDATE
    * statistics a driver folds into the next codebook.
    *
    * Scale: the centroid matrix is plan literals (broadcast-equivalent),
    * so assignment is a narrow projection; the update is one
    * partial+final hash agg keyed (cell, dim) after a 64-way posexplode
    * — the same shape as the token-count aggregates. */
  def kmeansStep(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    kmeansTrain(vectors, idCol, vecCol, 1)

  /** Full k-means TRAINING: `iters` [[lloyd]] rounds over the IVF
    * codebook, the loop [[kmeansStep]] is one iteration of. Round 1
    * assigns against the literal seed centroids (exactly the step's
    * rule); every later round re-assigns against the previous round's
    * folded centroids via the [[assignWithCb]] broadcast argmax. Cells
    * that lose all members drop out of the codebook, both engines
    * agreeing. Returns the FINAL round's update statistics, the
    * [[kmeansStep]] schema — all-integer, hash-oracled against `iters`
    * chained DuckDB rounds.
    *
    * Scale: each round is one corpus-wide broadcast-argmax (map-side
    * combine collapses the ×cells fan-out) + one keyed agg to ≤1024
    * rows — the same per-round cost as the single step, ×iters; the
    * 100 TB form trains on a sample with identical arithmetic. */
  def kmeansTrain(vectors: DataFrame, idCol: String, vecCol: String,
                  iters: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    lloyd(withLiteralCell(e).select("cell", "embedding"), Seq("cell"), "embedding", iters)(
      assignWithCb(e, _)).orderBy("cell", "dim")
  }

  /** Reciprocal-rank fusion (RRF) — the scoreless hybrid-search
    * combinator: BM25 keyword ranks and LSH vector ranks fused as
    * Σ 1/(60 + rank), the fusion that needs NO score calibration
    * between legs (BM25's floored integers and cosine's doubles never
    * meet — only their ranks do), which is why it is the default in
    * production hybrid search next to [[hybridRerank]]'s exact-rescore
    * composition. Candidates found by only one leg keep a null rank on
    * the other and still fuse.
    *
    * Scale shape: each leg is its own scale-shaped operator; ranks are
    * windows over the ≤ nCand leg results (constWindowKey — bounded by
    * construction), and the fusion is a full outer join of two
    * ≤ nCand-row frames. Nothing touches the corpus beyond the legs. */
  def rankFusion(documents: DataFrame, docIdCol: String, textCol: String,
                 tokens: DataFrame, dl: DataFrame,
                 vectors: DataFrame, vecIdCol: String, vecCol: String,
                 queryId: Long, nCand: Int, k: Int): DataFrame = {
    val qdoc = documents.filter(col(docIdCol) === queryId)
      .select(col(docIdCol).as("query_id"),
        concat_ws(" ", slice(split(col(textCol), " "), 1, 16)).as("qtext"))
    val wBm = org.apache.spark.sql.expressions.Window
      .partitionBy(GraftFunctions.constWindowKey(col("cand_id"))).orderBy(col("rk"))
    val bm = TextPipeline.bm25TopK(tokens, dl, qdoc, "query_id", "qtext", nCand + 1)
      .filter(col("doc_id") =!= queryId)
      .select(col("doc_id").as("cand_id"), col("rk"))
      .withColumn("bm_rank", row_number().over(wBm).cast("long"))
      .select("cand_id", "bm_rank")
    val wAnn = org.apache.spark.sql.expressions.Window
      .partitionBy(GraftFunctions.constWindowKey(col("cand_id")))
      .orderBy(col("cos_sim").desc, col("cand_id").asc)
    val ann = annLsh(vectors, vecIdCol, vecCol, queryId, nCand)
      .select(col("vec_id").as("cand_id"), col("cos_sim"))
      .withColumn("ann_rank", row_number().over(wAnn).cast("long"))
      .select("cand_id", "ann_rank")
    bm.join(ann, Seq("cand_id"), "full_outer")
      .select(col("cand_id"), col("bm_rank"), col("ann_rank"),
        round(
          coalesce(lit(1.0) / (lit(60L) + col("bm_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60L) + col("ann_rank")), lit(0.0)), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("cand_id").asc)
      .limit(k)
      .orderBy(col("rrf").desc, col("cand_id").asc)
  }

  /** Nearest-class-mean evaluation — the cheapest supervised probe of an
    * embedding space (the "NCM classifier" baseline): per label, an
    * exact integer-quantized prototype (the [[flooredMeans]] floored-mean
    * rule, so both engines hold bit-identical class means), then every
    * vector is assigned to its max-inner-product prototype and the
    * per-label accuracy is reported. Reads as "how linearly separable
    * are the classes in this space" — the go/no-go a pipeline runs
    * before paying for a probe-training job.
    *
    * Scale shape: prototype table = labels × dims rows (always
    * broadcastable); assignment is one broadcast cross join + ordered
    * fold dot per (vector, label) — narrow, no corpus shuffle; the
    * accuracy roll-up is one label-keyed aggregate. */
  def ncmEval(vectors: DataFrame, idCol: String, vecCol: String,
              labelCol: String): DataFrame = {
    GraftFunctions.register(vectors.sparkSession)
    val e = vectors.select(col(idCol).as("vec_id"),
      col(vecCol).as("embedding"), col(labelCol).cast("long").as("label"))
    val protos = foldCodebook(flooredMeans(e, Seq("label"), "embedding"), Seq("label"))
      .select(col("label").as("proto_label"), col("centroid").as("proto"))
    val assigned = e.crossJoin(broadcast(protos)) // deliberate: labels × dims model
      .select(col("vec_id"), col("label"),
        struct(dot(col("embedding"), col("proto")).as("d"),
          (-col("proto_label")).as("negl")).as("sc"))
      .groupBy("vec_id", "label").agg(max("sc").as("m"))
      .select(col("label"), (-col("m.negl")).as("pred"))
    assigned.groupBy("label")
      .agg(count(lit(1)).as("n"),
        count(when(col("pred") === col("label"), lit(1))).as("n_correct"))
      .withColumn("accuracy_bp", expr("10000 * n_correct DIV n"))
      .orderBy("label")
  }

  /** The [[kmeansTrain]] statistics folded into an
    * [[annIvfBroadcast]]-shaped codebook `(cell, centroid)` — closes
    * the loop the literal `centroids` scaladoc promises ("at real
    * scale these come from a sampled k-means"): train with
    * [[kmeansTrain]], serve with [[annIvfBroadcast]]. Centroid
    * components are `mean_x1e6 / 10⁶` — exact doubles, both engines. */
  def ivfCodebook(vectors: DataFrame, idCol: String, vecCol: String,
                  iters: Int): DataFrame =
    foldCodebook(kmeansTrain(vectors, idCol, vecCol, iters), Seq("cell"))

  /** The broadcast-ready (cell, centroid) codebook over
    * [[Artifacts.kmeansStats]] — model-sized (≤ NCells rows), so the fold
    * itself is trivial; memoization of the STATS is what removes the
    * repeated training loops. */
  private def sharedIvfCodebook(s: SparkSession, d: String): DataFrame =
    foldCodebook(Artifacts.kmeansStats(s, d), Seq("cell"))

  /** The trained PQ sub-codebooks folded from [[Artifacts.pqStats]] — the
    * ≤128-row (subspace, code, centroid) model every PQ consumer shares
    * (value-identical to [[pqCodebook]] over the embeddings: both fold
    * the same [[pqTrain]] statistics). The fold itself is model-sized;
    * memoizing the STATS is what removes the repeated corpus training
    * passes. */
  private[ops] def sharedPqCodebook(s: SparkSession, d: String): DataFrame =
    foldCodebook(Artifacts.pqStats(s, d), PqKeys)

  /** CORPUS-SIZED k-means codebook (r17, retiring the ladder's last
    * xl exemption): [[kmeansTrain]]/[[ivfCodebook]] are seeded from the
    * [[NCells]] literal centroids, so their k is pinned — the right
    * contract for the hash-oracled fixtures, the wrong one for the
    * SemDeDup scale story, which is precisely that k GROWS with the
    * corpus so cell population stays bounded. This trainer takes k:
    * seeds are the k lowest-keyMix corpus vectors (deterministic, no
    * RNG — the sampling discipline every `q_sample_*` operator uses),
    * then `iters` (≥ 1) [[lloyd]] rounds of the exact kmeansTrain
    * arithmetic (broadcast-argmax assignment, floored integer mean
    * statistics). Cells that lose all members drop out. Returns (cell,
    * centroid), the [[ivfCodebook]] schema.
    *
    * Scale shape: the codebook is model-sized (k rows — the seed
    * window's single partition holds k rows, not data); each round is
    * one corpus-wide broadcast argmax + one (cell, dim)-keyed agg. At
    * 100 TB the trainer runs on a bounded sample (the kmeansTrain
    * contract), the assignment on everything. */
  private[ops] def ivfCodebookSized(vectors: DataFrame, idCol: String,
                                    vecCol: String, k: Int, iters: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    val seedKey = TextPipeline.keyMix(col("vec_id"))
    val wSeed = org.apache.spark.sql.expressions.Window
      .orderBy(seedKey, col("vec_id"))
    val seeds = e.orderBy(seedKey, col("vec_id")).limit(k)
      .select(col("vec_id"), col("embedding"))
      .withColumn("cell", row_number().over(wSeed).cast("long"))
      .select(col("cell"), col("embedding").as("centroid"))
    foldCodebook(
      lloyd(assignWithCb(e, seeds), Seq("cell"), "embedding", iters)(assignWithCb(e, _)),
      Seq("cell"))
  }

  /** Nearest-centroid assignment as a standalone narrow projection — the
    * streaming face of [[kmeansStep]]: every row maps to its cell with
    * zero state (the codebook is plan literals), so the same expression
    * runs on a streaming frame and the per-cell counts aggregate in
    * Update mode downstream. At scale this is also the routing function
    * that turns `cell` into a partition/bucket key at write time. */
  def assignCells(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    withLiteralCell(canonVec(vectors, idCol, vecCol)).select(col("vec_id"), col("cell"))

  /** Cluster-balanced corpus pruning (the prototype-selection family:
    * equal per-cell quotas, most-prototypical first — the embedding-
    * space coverage sampler that keeps a corpus's topic balance while
    * shrinking it): assign every vector to its TRAINED k-means cell by
    * broadcast-codebook argmax (the annIvfBroadcast assignment, same
    * tie rule), rank within the cell by the dot against its centroid,
    * keep the top `m` per cell.
    *
    * Scale shape: the codebook (≤ NCells rows) broadcasts; assignment
    * is a narrow per-row argmax; the only shuffle is the cell-keyed
    * rank, whose partitions are corpus/NCells sized and BOUNDED by the
    * per-cell quota's early stop under top-k pushdown (WindowGroupLimit
    * keeps ≤ m rows per cell per map task before the exchange). The
    * train→serve loop is the kmeansTrain/ivfCodebook one: train on a
    * sample, prune everything. */
  def clusterPrune(vectors: DataFrame, idCol: String, vecCol: String,
                   codebook: DataFrame, m: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    val assigned = e.crossJoin(broadcast(codebook))
      .select(col("vec_id"),
        struct(dot(col("embedding"), col("centroid")).as("d"),
          (-col("cell")).as("negc")).as("sc"))
      .groupBy("vec_id").agg(max("sc").as("mx"))
      .select(col("vec_id"), (-col("mx.negc")).as("cell"), col("mx.d").as("d"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cell").orderBy(col("d").desc, col("vec_id").asc)
    assigned.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= m)
      .select(col("cell"), col("vec_id"),
        round(col("d"), 4).as("proto_sim"), col("rnk").cast("long").as("rnk"))
      .orderBy("cell", "rnk")
  }

  /** Embedding-space drift audit between two vector cohorts (an old and
    * a re-embedded corpus, two model versions, two crawl epochs) — the
    * check to run BEFORE reusing an IVF/PQ index or a trained SemDeDup
    * codebook against vectors a different process produced: per
    * dimension, both cohort means (exact integer micro-units, the
    * kmeansTrain discipline: sum of floored scaled components, floored
    * mean) and their absolute drift. A shifted dimension means the old
    * centroids/codebooks no longer tile the new space and every
    * cell-blocked operator silently loses recall — cheaper to catch in
    * 64 rows than in a recall audit after the fact.
    *
    * Scale: one posexplode + a dim-keyed partial+final aggregate per
    * cohort; output is dimension-sized. */
  def embeddingDrift(v1: DataFrame, v2: DataFrame,
                     idCol: String, vecCol: String): DataFrame = {
    def dimMeans(df: DataFrame, tag: String): DataFrame =
      flooredMeans(canonVec(df, idCol, vecCol), Nil, "embedding")
        .select(col("dim"), col("mean_x1e6").as(s"mean_$tag"))
    dimMeans(v1, "a").join(dimMeans(v2, "b"), "dim")
      .withColumn("drift_x1e6", abs(col("mean_a") - col("mean_b")))
      .orderBy("dim")
  }

  /** Cell-population balance audit for a trained codebook — the health
    * check to run BEFORE committing an IVF index, cluster-pruned corpus
    * or trained SemDeDup pass: per cell, member count and corpus share
    * in bp. A skewed codebook (dead cells, one cell holding half the
    * corpus) predicts straggler partitions in every cell-keyed stage
    * exactly as [[minhashBandStats]] predicts hot LSH buckets — and the
    * fix (retrain with a better sample / more cells) is cheap before
    * the index ships and expensive after. Integer shares, hash-oracled.
    *
    * Scale shape: broadcast-codebook argmax (narrow) + one cell-keyed
    * partial+final count; the 1-row total broadcasts back. */
  def clusterBalance(vectors: DataFrame, idCol: String, vecCol: String,
                     codebook: DataFrame): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    val assigned = e.crossJoin(broadcast(codebook))
      .select(col("vec_id"),
        struct(dot(col("embedding"), col("centroid")).as("d"),
          (-col("cell")).as("negc")).as("sc"))
      .groupBy("vec_id").agg(max("sc").as("mx"))
      .select(col("vec_id"), (-col("mx.negc")).as("cell"))
    val tot = assigned.agg(count(lit(1)).as("tot"))
    assigned.groupBy("cell").agg(count(lit(1)).as("n_members"))
      .crossJoin(broadcast(tot)) // deliberate 1-row broadcast
      .select(col("cell"), col("n_members"),
        expr("10000 * n_members DIV tot").as("share_bp"))
      .orderBy("cell")
  }

  /** SemDeDup-style semantic dedup: candidate pairs are blocked by the
    * k-means cell (nearest-centroid assignment — semantically close
    * vectors share a cell), then verified by exact cosine at a LOW
    * threshold — this is topic-level pruning of redundant content, not
    * the cos ≥ 0.99 near-copy detection [[embeddingNearDup]] does with
    * hyperplane blocking. Within-cell-only comparison is the operator's
    * defining approximation (and what makes it ~linear: cells shrink the
    * quadratic stage by ~NCells×; at real scale the cell is additionally
    * the partition key, so each block's self-join is partition-local). */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
                    minCosine: Double): DataFrame = {
    // COUNTED CELL-POPULATION GATE (r17, retiring the ladder's last xl
    // exemption): a FIXED literal codebook stops being SemDeDup past
    // the point where mean cell population (n / NCells) outgrows
    // MaxLiteralCellPop — the within-cell verify turns quadratic in the
    // corpus, the operator's defining approximation violated, not just
    // a slow plan. Past the bound this overload RETRAINS: k sized as
    // n / TargetCellSize via ivfCodebookSized (bounded cells by
    // construction), then the trained-codebook overload below. Under
    // the bound the literal path runs bit-identically to the hash
    // oracle (both oracle SFs sit far under it; the ladder's xl/xxl
    // rungs sit past it). Like every counted gate (fuzzyMatch's length
    // gate, the CC union-find fuse) this makes the call NON-lazy: one
    // count() at construction.
    val e = canonVec(vectors, idCol, vecCol)
    val n = e.count() // the counted gate — one narrow scan
    if (n > NCells.toLong * MaxLiteralCellPop) {
      val k = math.max(NCells, math.ceil(n.toDouble / TargetCellSize).toInt)
      semanticDedup(vectors, idCol, vecCol, minCosine,
        ivfCodebookSized(vectors, idCol, vecCol, k, iters = 2))
    } else {
      val cells = withLiteralCell(e)
        .select(col("vec_id"), col("embedding"), col("cell"), norm(col("embedding")).as("nrm"))
      verifyWithinCells(cells, minCosine)
    }
  }

  /** Mean-cell-population bound past which [[semanticDedup]]'s literal
    * codebook retrains (n > NCells·256: the within-cell quadratic has
    * outgrown the fixed tiling; both oracle SFs sit far under it). */
  private val MaxLiteralCellPop = 256L

  /** Cell size the retrained codebook targets: k = ceil(n / 128) keeps
    * the within-cell verify at ~128²/2 pairs per cell — linear in n. */
  private val TargetCellSize = 128.0

  /** [[semanticDedup]] with a TRAINED, caller-sized codebook — the
    * production form of the operator: SemDeDup's scale story is that
    * k grows with the corpus so cell population stays bounded (k ≈
    * n / target_cell_size), making the within-cell verify linear in
    * n · cell_size. The literal-codebook overload above pins k =
    * NCells for the hash oracle and, since r17, falls over to THIS
    * path (via [[ivfCodebookSized]]) past its counted population gate
    * — which is what retired the ladder's last `declared_xl_exempt`
    * entry. Takes the [[kmeansTrain]] / [[ivfCodebook]] /
    * [[ivfCodebookSized]] output (broadcast-sized by construction) and
    * assigns by broadcast argmax, same tie rule as [[clusterPrune]]. */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
                    minCosine: Double, codebook: DataFrame): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    val assigned = e.crossJoin(broadcast(codebook))
      .select(col("vec_id"), col("embedding"),
        struct(dot(col("embedding"), col("centroid")).as("d"),
          (-col("cell")).as("negc")).as("sc"))
      .groupBy("vec_id", "embedding").agg(max("sc").as("mx"))
      .select(col("vec_id"), col("embedding"),
        (-col("mx.negc")).as("cell"), norm(col("embedding")).as("nrm"))
    verifyWithinCells(assigned, minCosine)
  }

  /** The shared within-cell exact-cosine verify stage: cell is the join
    * (and at scale the partition) key, so each block's self-join is
    * partition-local. */
  private def verifyWithinCells(cells: DataFrame, minCosine: Double): DataFrame =
    cells.as("x").join(cells.as("y"), Seq("cell"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("cell"), col("x.vec_id").as("vec_id_1"), col("y.vec_id").as("vec_id_2"),
        round(dot(col("x.embedding"), col("y.embedding")) /
              (col("x.nrm") * col("y.nrm")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
      .orderBy("cell", "vec_id_1", "vec_id_2")

  // ------------------------------------------------- hot-band salt fallback
  /** Triangle-salt a banded table for a self-join with bounded per-task
    * pair count — the fallback for a pathological hot band key (one
    * bucket holding a huge slice of the corpus turns the band self-join
    * into a single straggler task computing |bucket|² pairs).
    *
    * Members of a bucket with population `cnt` split into
    * `s = ⌈cnt/cap⌉` salt groups (`g = id mod s`); each row replicates
    * into the `s` unordered group-pair CELLS containing its group, and
    * the self-join keys on (bucket, cell). A cross-group pair meets in
    * exactly one cell ({g₁,g₂}); a same-group pair meets in every
    * {g,·} cell, so the caller keeps it only in the diagonal cell
    * (g,g) — the output pair set is EXACTLY the unsalted one
    * (property-tested), but no task ever holds more than ~2·cap rows
    * per join key. Replication cost is ×s on the hot bucket only — at
    * cap=10⁴ a million-row bucket pays ×100 rows instead of a 10¹²-pair
    * task.
    *
    * Only the HOT buckets are ever enumerated: a partial+final count on
    * the bucket key, filtered to `cnt > cap`, is tiny BY DEFINITION
    * (hot keys are the pathology, not the population) and broadcasts
    * back under the banded table — the table itself takes no extra
    * shuffle and cold rows pay one `coalesce` (nsalt = 1, a single
    * degenerate cell). An earlier window-count formulation shuffled the
    * full table on (bucket) AND again on (bucket, cell) for the join —
    * measured 7× over the unsalted join on a corpus with no hot buckets
    * at all, i.e. pure overhead exactly where the fallback should be
    * free. */
  private[ops] def saltCells(df: DataFrame, keys: Seq[String], idCol: String,
                             cap: Int): DataFrame = {
    val hot = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > cap)
    df.join(broadcast(hot), keys, "left_outer")
      .withColumn("nsalt",
        coalesce(floor((col("cnt") + (cap - 1)) / lit(cap.toDouble)).cast("int"), lit(1)))
      .withColumn("g", pmod(col(idCol), col("nsalt")).cast("int"))
      .withColumn("j", explode(sequence(lit(0), col("nsalt") - 1)))
      .withColumn("salt_lo", least(col("g"), col("j")))
      .withColumn("salt_hi", greatest(col("g"), col("j")))
      .drop("cnt", "nsalt", "j")
  }

  /** Keep each unordered pair exactly once after a salted self-join:
    * cross-group pairs collide in one cell; same-group pairs only count
    * in their diagonal cell. */
  private[ops] def saltPairFilter: Column =
    col("x.g") =!= col("y.g") ||
      (col("salt_lo") === col("x.g") && col("salt_hi") === col("x.g"))

  // ------------------------------------------------------------- MinHash
  // The MinHash-LSH kernel, defined once: every batch, audit,
  // incremental-index and streaming LSH operator builds on these, so
  // "near-dup" means the same thing on every path.

  /** The identical-token-set collapse every MinHash-LSH operator runs
    * first: one row per distinct token set, `(rep, members, hsh)` — the
    * min doc id, the sorted member ids and the set itself.
    *
    * `hsh` is the token set as a sorted DISTINCT array of poly_hash62
    * longs (the fused native `token_set_hashes62`), computed BEFORE the
    * group stage so the groupBy compares long arrays, never string
    * arrays, and the signature and the exact verify run on the same
    * longs (one string hash per token). poly_hash62, not xxhash64, so
    * that every value the pipeline produces — signatures, band keys,
    * verified pairs — replays in DuckDB SQL and the oracle checks
    * values, not just rows. The 62-bit width matters: the collapse and
    * the verify both trust these longs as token identities, and a
    * 31-bit hash's birthday collisions would silently merge different
    * tokens or documents, invisibly to an oracle replaying the same
    * hash. Callers that read only `rep`/`hsh` leave `members` to
    * column pruning. */
  private[engine] def tokenSetGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    hashSetGroups(tokenSets(df, idCol, textCol))

  /** Every document's `(doc_id, hsh)` token-hash set, ungrouped — the
    * input of [[tokenSetGroups]], and the exact-verify sets of
    * [[TextPipeline.missingLinksVerify]] for a caller without groups. */
  private[engine] def tokenSets(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("doc_id"),
      call_function("token_set_hashes62", col(textCol)).as("hsh"))
  }

  /** [[tokenSetGroups]] over caller-hashed `(doc_id, hsh)` sets (the
    * exact prefix joins group their shingle sets the same way). */
  private[engine] def hashSetGroups(sets: DataFrame): DataFrame =
    sets.groupBy(col("hsh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"),
           min(col("doc_id")).as("rep"))
      .select(col("rep"), col("members"), col("hsh"))

  /** The LSH band keys of a k-wide MinHash signature: ONE explode of
    * `bands` `(band, bkey)` structs, aliased `bb` (a unionAll of
    * per-band selects would recompute the signature per band). The
    * band key is the left fold `(acc·131 + mᵢ mod p) mod p`, p = 2³¹−1,
    * over the band's `rowsPerBand` signature components.
    *
    * The key contract every banded path relies on: it is engine-neutral
    * (DuckDB replays it with one `list_reduce`), and a key collision
    * only ever ADDS candidates, which the exact verify then discards
    * identically on both engines. This is the one place a design with
    * `bands × rowsPerBand ≠ k` is rejected. */
  private[engine] def bandKeys(sig: Column, k: Int, bands: Int, rowsPerBand: Int): Column = {
    require(bands * rowsPerBand == k,
      s"bands ($bands) x rowsPerBand ($rowsPerBand) must equal k ($k)")
    val P31 = 2147483647L
    explode(array((0 until bands).map { bnd =>
      val bkey = (bnd * rowsPerBand until (bnd + 1) * rowsPerBand)
        .map(i => element_at(sig, i + 1))
        .foldLeft(lit(0L): Column)((acc, m) => pmod(acc * 131L + pmod(m, lit(P31)), lit(P31)))
      struct(lit(bnd).as("band"), bkey.as("bkey"))
    }: _*)).as("bb")
  }

  /** The size prune of a Jaccard gate at `t`: |A∩B| ≤ min(|A|,|B|), so
    * J ≥ t forces min ≥ t·max, and a pair failing that is dropped with
    * two int compares before it pays the merge walk. The 0.001 slack
    * keeps pairs whose ROUNDED jaccard reaches `t` from just below, so
    * the prune never changes an output (the oracle carries none). */
  private[engine] def sizeBound(na: Column, nb: Column, t: Double): Column =
    least(na, nb).cast("double") >= greatest(na, nb) * lit(t - 0.001)

  /** Exact Jaccard of two sorted distinct hash arrays, rounded to 4
    * places — the value every verify gates on. The native merge walk
    * counts the overlap with zero allocation (vs array_intersect's
    * per-row set). Needs the engine functions registered. */
  private[engine] def setJaccard(a: Column, b: Column): Column = {
    val inter = call_function("sorted_intersect_size", a, b).cast("double")
    round(inter / (size(a) + size(b) - inter), 4)
  }

  /** Verified rep pairs back to doc pairs: every member of one group
    * against every member of the other at the rep pair's `jaccard`
    * (`repPairs` carries the member arrays as `ma`/`mb`), plus the
    * within-group pairs, which are exact duplicates at 1.0. Output
    * `(doc_id_1 < doc_id_2, jaccard)`. */
  private[engine] def expandRepPairs(repPairs: DataFrame, groups: DataFrame): DataFrame = {
    val cross = repPairs
      .select(explode(col("ma")).as("a"), col("mb"), col("jaccard"))
      .select(col("a"), explode(col("mb")).as("b"), col("jaccard"))
      .select(least(col("a"), col("b")).as("doc_id_1"),
              greatest(col("a"), col("b")).as("doc_id_2"), col("jaccard"))
    val within = groups.filter(size(col("members")) > 1)
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a") < col("b"))
      .select(col("a").as("doc_id_1"), col("b").as("doc_id_2"), lit(1.0).as("jaccard"))
    cross.unionAll(within).select("doc_id_1", "doc_id_2", "jaccard")
  }

  /** MinHash + LSH banding near-dup over whitespace token sets: k-wide
    * signature → `bands` × `rowsPerBand` banding → band-bucket join →
    * exact Jaccard verify at `threshold`. Emits (doc_id_1, doc_id_2,
    * jaccard) pairs. Defaults (k=16, 2×8) are the fixture/oracle
    * contract; the parameters trade candidate RECALL against signature
    * and join cost along the standard LSH S-curve
    * `P(candidate) = 1 − (1 − J^rows)^bands` — more bands catch more
    * true pairs at a given threshold, fewer rows per band admit more
    * low-J candidates for the exact verify to discard (precision is
    * ALWAYS exact: every emitted pair passed the verify). The curve is
    * spec-pinned against planted exact-Jaccard pairs at three
    * parameter points in MinHashParamSpec.
    *
    * Identical-content collapse FIRST (the decisive 100 TB move): the
    * MinHash signature is a pure function of the token SET, so documents
    * with equal sets are interchangeable. Group them under one
    * representative (min id) and run every quadratic stage at rep level
    * (~60× fewer candidate pairs on the fixture corpus), then expand
    * verified rep pairs — and the jaccard-1.0 within-group pairs — back
    * to doc pairs. Output is EXACTLY the pair set naive doc-level banding
    * produces, because bucket collisions and jaccard depend only on sets.
    *
    * `groups` is that collapse, [[tokenSetGroups]] of the corpus. It is
    * consumed by five downstream subplans; an unmaterialized one
    * recomputes cheaply on long-array keys (measured cheaper than an
    * InMemoryRelation round-trip, which also breaks codegen fusion). */
  def minhashNearDup(groups: DataFrame, threshold: Double, ordered: Boolean = true,
                     saltCap: Option[Int] = None,
                     k: Int = graft.engine.functions.MinHashSignature.NumPerms,
                     bands: Int = 2, rowsPerBand: Int = 8): DataFrame = {
    val spark = groups.sparkSession
    // k-wide signature as ONE native fused pass per rep (no explode, no
    // second shuffle — the signature is a scalar projection; see
    // MinHashSignature). Bit-identical to the explode + k-min-agg
    // formulation it replaced (property-tested in FunctionsSpec).
    val sigs = groups.select(col("rep"), size(col("hsh")).as("sz"),
      GraftFunctions.minhashSig(spark, col("hsh"), k).as("sig"))
    val banded = sigs.select(col("rep"), col("sz"), bandKeys(col("sig"), k, bands, rowsPerBand))
      .select(col("rep"), col("sz"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    // [[sizeBound]] INSIDE the band self-join: pairs failing it are
    // dropped as the join probes — BEFORE the distinct, which is the
    // dominant stage of the whole pipeline (the self-similar fixture
    // emits ~4.25 M raw candidates from ~4 k reps; shuffling all of
    // them into the dedup was ~80% of pipeline time; an earlier
    // formulation pruned after the distinct via broadcast size joins
    // and paid it in full). Carrying `sz` through the explode costs one
    // int per band row.
    val bound = sizeBound(col("x.sz"), col("y.sz"), threshold)
    // optional hot-band salt (see saltCells): same pair set, bounded
    // per-task pair count when a band key goes pathological
    val cand = (saltCap match {
      case None =>
        banded.as("x").join(banded.as("y"), Seq("band", "bkey"))
          .filter(col("x.rep") < col("y.rep") && bound)
      case Some(cap) =>
        // materialize the (tiny: 4 narrow cols/rep) banded table once —
        // the hot-bucket count and both join sides otherwise each
        // recompute the full scan→hash→group→signature pipeline (the
        // candidate join builds broadcast, so no exchange exists to
        // reuse); measured 2.7× the unsalted join from recompute alone.
        // persist, NOT localCheckpoint: a checkpoint writes every
        // partition to block storage and re-reads it three times, which
        // at fixture scale (no hot bucket) doubled the whole query; the
        // in-memory cache serves the same three consumers for the cost
        // of one prefix compute, and MEMORY_AND_DISK degrades to spill
        // (not recompute) if a 100 TB banded table outgrows the
        // executors. Tiny either way — 4 narrow columns per rep·band.
        // DELIBERATELY never unpersisted: the operator returns a lazy
        // frame, so the action (and thus the last read of this cache)
        // happens in the caller — an eager unpersist here would undo
        // the reuse. Cached blocks are LRU-evicted; a long session
        // calling this repeatedly trades that bounded cache for not
        // recomputing the minhash prefix three times per call.
        val b = banded.persist(StorageLevel.MEMORY_AND_DISK)
        val salted = saltCells(b, Seq("band", "bkey"), "rep", cap)
        salted.as("x").join(salted.as("y"), Seq("band", "bkey", "salt_lo", "salt_hi"))
          .filter(saltPairFilter && col("x.rep") < col("y.rep") && bound)
    })
      .select(col("x.rep").as("rep_1"), col("y.rep").as("rep_2"))
      .distinct()
    // exact-Jaccard verification of LSH candidates, still at rep level
    val sa = groups.select(col("rep").as("rep_1"), col("hsh").as("sa"), col("members").as("ma"))
    val sb = groups.select(col("rep").as("rep_2"), col("hsh").as("sb"), col("members").as("mb"))
    val verified = cand.join(sa, "rep_1").join(sb, "rep_2")
      .withColumn("jaccard", setJaccard(col("sa"), col("sb")))
      .filter(col("jaccard") >= threshold)
    val pairs = expandRepPairs(verified, groups)
    // consumers that only need the pair SET (e.g. survivor anti-joins)
    // skip the global sort of ~|pairs| rows
    if (ordered) pairs.orderBy("doc_id_1", "doc_id_2") else pairs
  }

  // ------------------------------------------ incremental near-dup (delta vs index)
  /** The standing banded MinHash index over a reference corpus — the
    * artifact a rolling build computes ONCE (and in production persists)
    * so every delta batch or stream probes it without re-tokenizing
    * history. One row per (band, bkey) per rep: the band key (see
    * [[bandKeys]] for its contract) plus the rep's sorted token-hash
    * set, set size and member ids, so a probe
    * join needs no second lookup into the corpus. Consumed by
    * [[graft.engine.stream.Streams.streamingNearDupIncremental]] (the
    * serve face); [[minhashNearDupIncremental]] builds the same shape
    * in-plan. */
  def minhashBandedIndex(reference: DataFrame, idCol: String, textCol: String,
      k: Int = graft.engine.functions.MinHashSignature.NumPerms,
      bands: Int = 2, rowsPerBand: Int = 8): DataFrame = {
    val spark = reference.sparkSession
    tokenSetGroups(reference, idCol, textCol)
      .select(col("rep"), col("members"), col("hsh"),
        size(col("hsh")).as("sz"),
        GraftFunctions.minhashSig(spark, col("hsh"), k).as("sig"))
      .select(col("rep"), col("members"), col("hsh"), col("sz"),
        bandKeys(col("sig"), k, bands, rowsPerBand))
      .select(col("bb.band").as("band"), col("bb.bkey").as("bkey"),
              col("rep"), col("sz"), col("hsh"), col("members"))
  }

  /** Index MAINTENANCE — merge a delta corpus into a standing
    * [[minhashBandedIndex]], completing the rolling-build lifecycle
    * (build once → probe every batch → MERGE the batch in, so tomorrow's
    * delta probes today's docs too). Contract, and exactly what the
    * DuckDB oracle checks: `merge(build(ref), delta) == build(ref ∪
    * delta)` — the maintained index is bit-identical to a from-scratch
    * rebuild, so probe semantics never drift with index age.
    *
    * Only the DELTA tokenizes and signs; the standing index rows pass
    * through untouched except where a delta document's token SET is
    * identical to an indexed group's (`hsh` equality ⇒ identical
    * signature ⇒ identical band keys by construction), in which case the
    * two groups collapse: members union (doc ids are disjoint across
    * slices; `array_distinct` keeps the merge idempotent under replay),
    * rep re-minimized. One shuffle keyed on the (band, bkey, hsh) group
    * identity — cost ∝ |index| + |delta|, never corpus tokens; in
    * production both sides arrive bucketed on (band, bkey) and the merge
    * is shuffle-free. */
  def minhashIndexMerge(index: DataFrame, delta: DataFrame,
      idCol: String, textCol: String,
      k: Int = graft.engine.functions.MinHashSignature.NumPerms,
      bands: Int = 2, rowsPerBand: Int = 8): DataFrame = {
    val deltaIdx = minhashBandedIndex(delta, idCol, textCol, k, bands, rowsPerBand)
    index.unionByName(deltaIdx)
      .groupBy(col("band"), col("bkey"), col("hsh"))
      .agg(min(col("rep")).as("rep"),
           sort_array(array_distinct(flatten(collect_list(col("members"))))).as("members"))
      .select(col("band"), col("bkey"), col("rep"),
              size(col("hsh")).as("sz"), col("hsh"), col("members"))
  }

  /** Incremental MinHash-LSH near-dup: which NEW (delta) documents
    * near-duplicate an existing REFERENCE corpus — the shape a rolling
    * corpus build actually runs (today's crawl against the standing
    * index), where re-deduplicating the whole union per batch would
    * rescan history every day. Emits (doc_id_ref, doc_id_new, jaccard)
    * pairs at jaccard ≥ threshold; within-delta and within-reference
    * duplicates are deliberately out of scope ([[minhashNearDup]]
    * covers a single corpus, the streaming LSH operators cover
    * arrival-ordered feeds — this is the batch-vs-index face).
    *
    * Scale shape: each side rep-collapses on its token SET and bands
    * its k-wide signature exactly like [[minhashNearDup]], but the
    * candidate join is delta-bands ⋈ reference-bands — the reference
    * side is the precomputable INDEX (production: banded reps persisted
    * once, re-joined by every delta batch; only the delta tokenizes per
    * run), and candidate volume is |delta bucket| × |ref bucket| per
    * key, never reference². A token set present in both slices has
    * identical signatures and collides in every band by construction,
    * so jaccard-1.0 cross-slice pairs need no separate identity pass.
    * Same size-bound prune inside the band join, same native merge-walk
    * verify, and the DuckDB oracle replays both sides from the same
    * generated family constants. */
  def minhashNearDupIncremental(reference: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      ordered: Boolean = true,
      k: Int = graft.engine.functions.MinHashSignature.NumPerms,
      bands: Int = 2, rowsPerBand: Int = 8,
      saltCap: Option[Int] = None): DataFrame = {
    val spark = reference.sparkSession
    def bandedOf(groups: DataFrame): DataFrame =
      groups.select(col("rep"), size(col("hsh")).as("sz"),
          GraftFunctions.minhashSig(spark, col("hsh"), k).as("sig"))
        .select(col("rep"), col("sz"), bandKeys(col("sig"), k, bands, rowsPerBand))
        .select(col("rep"), col("sz"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val refGroups = tokenSetGroups(reference, idCol, textCol)
    val newGroups = tokenSetGroups(delta, idCol, textCol)
    // optional hot-bucket salt — the TWO-SIDED skew fix (the self-join
    // triangle salt doesn't apply here): a reference band bucket past
    // `cap` members splits into g = ⌈n/cap⌉ salt groups (rep mod g),
    // and each delta probe of that key replicates to ALL g groups, so
    // every qualifying (ref, new) pair still meets exactly once while
    // no task holds more than ~cap reference rows per key. `hot` is
    // only the over-cap keys — a broadcastable handful by construction
    // (a key can exceed cap only by being non-discriminative).
    val cand = (saltCap match {
      case None =>
        bandedOf(refGroups).as("x")
          .join(bandedOf(newGroups).as("y"), Seq("band", "bkey"))
      case Some(cap) =>
        // persisted for the same reason the self-join salt persists its
        // banded table: the hot-count subplan and the join side would
        // otherwise each recompute the scan→group→signature prefix
        val refB = bandedOf(refGroups).persist(StorageLevel.MEMORY_AND_DISK)
        val hot = refB.groupBy("band", "bkey").agg(count(lit(1)).as("n"))
          .filter(col("n") > cap)
          .select(col("band"), col("bkey"),
            ceil(col("n").cast("double") / cap).cast("int").as("g"))
        val refS = refB.join(broadcast(hot), Seq("band", "bkey"), "left")
          .withColumn("salt", pmod(col("rep"), coalesce(col("g"), lit(1))).cast("int"))
        val newS = bandedOf(newGroups).join(broadcast(hot), Seq("band", "bkey"), "left")
          .withColumn("salt", explode(sequence(lit(0), coalesce(col("g"), lit(1)) - 1)))
        refS.as("x").join(newS.as("y"), Seq("band", "bkey", "salt"))
    })
      .filter(sizeBound(col("x.sz"), col("y.sz"), threshold))
      .select(col("x.rep").as("rep_ref"), col("y.rep").as("rep_new"))
      .distinct()
    val sa = refGroups.select(col("rep").as("rep_ref"),
      col("hsh").as("sa"), col("members").as("ma"))
    val sb = newGroups.select(col("rep").as("rep_new"),
      col("hsh").as("sb"), col("members").as("mb"))
    val pairs = cand.join(sa, "rep_ref").join(sb, "rep_new")
      .withColumn("jaccard", setJaccard(col("sa"), col("sb")))
      .filter(col("jaccard") >= threshold)
      .select(explode(col("ma")).as("doc_id_ref"), col("mb"), col("jaccard"))
      .select(col("doc_id_ref"), explode(col("mb")).as("doc_id_new"), col("jaccard"))
      .select("doc_id_ref", "doc_id_new", "jaccard")
    if (ordered) pairs.orderBy("doc_id_ref", "doc_id_new") else pairs
  }

  // ------------------------------------------------------------- SimHash
  /** Engine-neutral 63-bit token-hash multiset for SimHash: split the
    * poly_hash62 double fold into its independent 31-bit halves and run
    * each through its own Knuth multiplicative mix — high 31 bits
    * `(h₁·2654435761) mod 2³¹`, low 32 bits `(h₂·2246822519) mod 2³²`.
    *
    * Why the mixes, not the raw folds: SimHash samples individual BITS,
    * and raw polynomial folds have structured bits — short ASCII tokens
    * fold to values ≪ 2³¹ (zeroing the top bits of BOTH halves) and
    * similar tokens give correlated bit patterns. The earlier widening
    * (raw poly high, one mix low) left signature bits ~59–62 ~always 0
    * corpus-wide — ~5 bits of blocking entropy lost in the top
    * pigeonhole chunk ≈ 32× spurious candidates in that chunk's
    * self-join — and a raw-both-halves variant measurably dropped
    * hamming≤3 precision (0.80 → 0.71 on the fixture). Multiplicative
    * mixing spreads each half across its full width, so bits 0–62 all
    * carry entropy; bit 63 stays 0 by construction, keeping every step
    * inside nonnegative BIGINT on both engines (DuckDB errors on
    * overflow — silent wrap is not an option; all products here stay
    * under 2⁶³: (2³¹−2)·2654435761 ≈ 5.7e18, (2³¹−1)·2246822519 ≈
    * 4.8e18, mixed-high·2³² ≤ 2⁶³−2³²). */
  def tokenHash64(textCol: Column): Column =
    transform(
      transform(split(textCol, " "), t => call_function("poly_hash62", t)),
      h => pmod(shiftright(h, 31) * 2654435761L, lit(2147483648L)) * 4294967296L +
           pmod(h.bitwiseAND(lit(2147483647L)) * 2246822519L, lit(4294967296L)))

  /** 64-bit SimHash near-dup; candidates blocked by LSH on 16-bit chunks
    * (two docs within hamming `maxHamming` ≤ 3 of each other must agree
    * exactly on ≥ 1 of the 4 chunks — pigeonhole), then verified by
    * popcount of the XOR. Emits (doc_id_1, doc_id_2, hamming). */
  def simhashNearDup(documents: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int): DataFrame = {
    GraftFunctions.register(documents.sparkSession)
    // The 64-bit signature is a pure function of one row's text, so it
    // computes as ONE fused native scalar projection (tokenize → hash →
    // mix → int[64] bit vote, see SimHashText64): no explode, no
    // aggregation shuffle, no intermediate token/hash arrays, and none
    // of the 16-bit lane-packing carry hazard the aggregate formulation
    // needed to guard (correct to 2^31 tokens/doc structurally). The
    // fused pass is value-identical to simhash64(tokenHash64(text)) —
    // the engine-neutral widened poly hash — so every signature bit is
    // replicable in DuckDB SQL: q_dedup_simhash is value-oracled, not
    // rows-only, and values stay nonnegative, keeping the per-bit
    // shifts sign-free on both engines.
    val sigs = documents.select(col(idCol).as("doc_id"),
      GraftFunctions.simhashText64(documents.sparkSession,
        col(textCol)).as("simhash"))
    // one explode per sig row, not a 4-way unionAll recomputing the 64-bit
    // aggregation per chunk
    val chunks = sigs.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(k =>
          struct(lit(k).as("chunk"),
            shiftright(col("simhash"), k * 16).bitwiseAND(0xFFFFL).as("ckey"))): _*)).as("cc"))
      .select(col("doc_id"), col("simhash"), col("cc.chunk").as("chunk"), col("cc.ckey").as("ckey"))
    val cand = chunks.as("x").join(chunks.as("y"), Seq("chunk", "ckey"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id_1"), col("y.doc_id").as("doc_id_2"),
              col("x.simhash").as("h1"), col("y.simhash").as("h2"))
      .distinct()
    cand.withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_id_1", "doc_id_2", "hamming")
      .orderBy("doc_id_1", "doc_id_2")
  }

  // ------------------------------------------------- embedding near-dup
  /** Embedding-cosine near-dup — pairs with cosine ≥ `minCosine`, blocked
    * by random-hyperplane LSH (two vectors at angle θ disagree on a
    * hyperplane with probability θ/π, so near-identical vectors agree on
    * whole 4-bit bands; candidates are band-bucket collisions only), then
    * verified exactly. Same shape as minhashNearDup: block → join on band
    * key → exact verify, no all-pairs stage. */
  def embeddingNearDup(vectors: DataFrame, idCol: String, vecCol: String,
                       minCosine: Double, saltCap: Option[Int] = None): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .withColumn("sig", dedupSig(col("embedding")))
    // 4 bands × 16 bits (65 536 buckets/band — see dedupSig): for a
    // near-orthogonal corpus the expected bucket population is n/2¹⁶ per
    // band, so the self-join candidate set is ~linear in n instead of
    // the n²/16-ish a 4-bit key allowed. One explode per row, not a
    // 4-way unionAll recomputing sig per band.
    val bands = e.select(col("vec_id"), col("embedding"), col("nrm"),
        explode(array((0 until 4).map(k =>
          struct(lit(k).as("band"),
            shiftright(col("sig"), k * 16).bitwiseAND(0xFFFFL).as("band_key"))): _*)).as("bb"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
              col("bb.band").as("band"), col("bb.band_key").as("band_key"))
    // optional hot-band salt (see saltCells): identical pair set,
    // bounded per-task pair count on a pathological band key
    val cand = (saltCap match {
      case None =>
        bands.as("x").join(bands.as("y"), Seq("band", "band_key"))
          .filter(col("x.vec_id") < col("y.vec_id"))
      case Some(cap) =>
        // materialized once for the same recompute reason as the
        // minhash path (here each recompute re-derives signatures too);
        // persisted, not checkpointed — see the minhash salt branch
        val b = bands.persist(StorageLevel.MEMORY_AND_DISK)
        val salted = saltCells(b, Seq("band", "band_key"), "vec_id", cap)
        salted.as("x").join(salted.as("y"), Seq("band", "band_key", "salt_lo", "salt_hi"))
          .filter(saltPairFilter && col("x.vec_id") < col("y.vec_id"))
    })
      // score per collision row, then collapse band multiplicity with a
      // narrow hash agg (the annLsh §2.3 rewrite): the cosine depends
      // only on the id pair, so max() is the single distinct value —
      // the old dropDuplicates shipped BOTH 64-dim embeddings through
      // the dedup exchange per candidate row (and the array columns
      // forced a SortAggregate); this shuffles (id, id, double)
      .select(col("x.vec_id").as("vec_id_1"), col("y.vec_id").as("vec_id_2"),
        round(dot(col("x.embedding"), col("y.embedding")) /
              (col("x.nrm") * col("y.nrm")), 4).as("cs"))
      .groupBy("vec_id_1", "vec_id_2").agg(max(col("cs")).as("cos_sim"))
    cand
      .filter(col("cos_sim") >= minCosine)
      .orderBy("vec_id_1", "vec_id_2")
  }

  // ------------------------------------------------- embedding quantization
  /** Int8 scalar quantization of an embedding column: per-dimension
    * min/max over the corpus → each component maps to
    * `floor((x−mn)/(mx−mn)·255) − 128` ∈ [−128, 127] (a constant
    * dimension maps to 0). Emits one (vec_id, dim, code) row per
    * component — the training-data form of the codes (4× smaller than
    * float32 at <2% recall loss on the fixture, pinned in its spec).
    *
    * Every step is deterministic IEEE double arithmetic on both engines
    * (float → double cast is exact; the min/max/div/mul/floor sequence
    * is written identically in the oracle), so the codes hash-oracle
    * exactly — no float tolerance anywhere.
    *
    * Scale shape: one posexplode + partial+final (dim)-keyed agg for the
    * stats (64 rows out), stats broadcast back under the same scan —
    * the corpus never shuffles; the codes projection is narrow. At
    * 100 TB the stats pass subsamples (any fixed hash-sample works, the
    * quantizer only needs approximate extremes) — here it is exact so
    * the oracle replays it. */
  /** Per-dimension (dim, mn, mx) quantization stats over a corpus — the
    * offline "training" half of int8 quantization, split out so a
    * streaming/serving path can apply codes against stats trained here. */
  def quantizeStats(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    canonVec(vectors, idCol, vecCol)
      .select(posexplode(col("embedding")).as(Seq("dim0", "xf")))
      .select((col("dim0") + 1).cast("long").as("dim"), col("xf").cast("double").as("x"))
      .groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))

  /** The int8 code expression shared by the batch and streaming paths. */
  private[engine] def int8Code(x: Column, mn: Column, mx: Column): Column =
    when(mx === mn, lit(0L))
      .otherwise(floor((x - mn) / (mx - mn) * 255.0).cast("long") - 128)

  /** Codes against an EXPLICIT stats frame, unordered — the composable
    * core: the ANN path consumes it directly (a global sort in the
    * middle of a retrieval pipeline is pure wasted wall-clock), and
    * passing stats in keeps every consumer of one quantizer run on the
    * same codebook — when the stats pass subsamples at 100 TB, query
    * and corpus sides cannot silently train on different extremes. */
  def quantizeCodes(vectors: DataFrame, idCol: String, vecCol: String,
                    stats: DataFrame): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    val ex = e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim0", "xf")))
      .select(col("vec_id"), (col("dim0") + 1).cast("long").as("dim"),
              col("xf").cast("double").as("x"))
    ex.join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim"),
        int8Code(col("x"), col("mn"), col("mx")).as("code"))
  }

  /** Train-and-apply in one call, deterministically ordered — the
    * fixture/oracle binding. */
  def quantizeEmbeddings(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    quantizeCodes(vectors, idCol, vecCol, quantizeStats(vectors, idCol, vecCol))
      .orderBy("vec_id", "dim")

  /** ANN over the int8 codes themselves — maximum-inner-product search
    * on quantized vectors, the memory-bound regime's retrieval path
    * (the float corpus never loads; 4× less bandwidth per candidate).
    * Scoring is an INTEGER dot product of codes, so unlike float cosine
    * the whole ranking is exact arithmetic and hash-oracles end-to-end:
    * the scale path itself is under the correctness gate, not just its
    * recall (which the quantizer spec pins separately).
    *
    * Shape: the query's 64 code rows broadcast under the corpus codes
    * scan; one (vec_id)-keyed partial+final sum; TakeOrdered top-k. */
  def annQuantized(vectors: DataFrame, idCol: String, vecCol: String,
                   queryId: Long, k: Int): DataFrame = {
    // ONE stats frame threads through both join sides — see
    // quantizeCodes: subsampled stats at 100 TB stay shared by
    // construction, and the unordered codes skip quantizeEmbeddings'
    // fixture sort (a full exchange mid-retrieval)
    val stats = quantizeStats(vectors, idCol, vecCol)
    val codes = quantizeCodes(vectors, idCol, vecCol, stats)
    val qc = codes.filter(col("vec_id") === queryId)
      .select(col("dim"), col("code").as("qcode"))
    codes.filter(col("vec_id") =!= queryId)
      .join(broadcast(qc), "dim")
      .groupBy("vec_id")
      .agg(sum(col("code") * col("qcode")).as("dot"))
      .orderBy(col("dot").desc, col("vec_id").asc)
      .limit(k)
      .orderBy(col("dot").desc, col("vec_id").asc)
  }

  // ------------------------------------------------- product quantization
  // geometry + seed codebook live with the native assignment expression
  private val NSub = graft.engine.functions.PqCodesInit.NSub
  private val SubDim = graft.engine.functions.PqCodesInit.SubDim
  private val NPqCodes = graft.engine.functions.PqCodesInit.NCodes

  /** Per-row explode into (vec_id, subspace, sv, code): each embedding
    * splits into NSub contiguous SubDim-slices, each assigned to its
    * nearest INITIAL sub-centroid (first-tie-lowest-code argmin, the
    * annIvf tie rule) by the native
    * [[graft.engine.functions.PqCodesInit]] kernel — the codebook rides
    * as a codegen reference object, so the assignment is ONE compact
    * plan node instead of a ~6k-node literal tree (which cost ~2-3 s of
    * analysis per submission, data-independent). One narrow projection
    * + generator — no join, no shuffle. */
  private def pqAssignInit(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"),
        posexplode(call_function("pq_codes_init", col("embedding")))
          .as(Seq("m0", "code")))
      .select(col("vec_id"), col("m0").cast("long").as("subspace"), col("code"),
        slice(col("embedding"), col("m0") * SubDim + 1, lit(SubDim)).as("sv"))

  /** The PQ codebook key: one sub-centroid per (subspace, code). */
  private val PqKeys = Seq("subspace", "code")

  /** Each embedding as its NSub contiguous SubDim slices — one
    * (vec_id, subspace, sv) row per slice, one narrow generator. */
  private def subspaceSlices(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(array((0 until NSub).map { m =>
        struct(lit(m.toLong).as("subspace"),
          slice(col("embedding"), m * SubDim + 1, SubDim).as("sv"))
      }: _*)).as("b"))
      .select(col("vec_id"), col("b.subspace").as("subspace"), col("b.sv").as("sv"))

  /** Product-quantization training: one Lloyd step per subspace over the
    * fixed-seed seed codebooks — [[pqTrainIters]] with `iters = 1`, the
    * per-(subspace, code, dim) [[flooredMeans]] statistics whose floored
    * means ARE the trained codebook ([[pqCodebook]] folds them). One
    * narrow assign pass + one partial+final hash agg (≤ NSub·NPqCodes·
    * SubDim = 1024 rows out); the corpus never shuffles.
    * Deterministically ordered — the fixture/oracle binding. */
  def pqTrain(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    pqTrainIters(vectors, idCol, vecCol, 1)

  /** The trained sub-codebooks as (subspace, code, centroid) rows, the
    * [[foldCodebook]] of [[pqTrain]]. Codes no vector mapped to simply
    * don't exist (encode argmins over the surviving codes). ≤ 128 rows
    * — broadcast material by construction. */
  def pqCodebook(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    foldCodebook(pqTrain(vectors, idCol, vecCol), PqKeys)

  /** Multi-round PQ training — `iters` [[lloyd]] rounds per subspace:
    * round 1 is [[pqTrain]]'s seed assignment, each later round
    * re-assigns every slice against the previous round's folded
    * sub-centroids (broadcast + struct-min — the [[pqEncode]] rule, sv
    * riding the struct untouched since (dist, code) is unique per
    * group). Returns the FINAL round's update statistics in the
    * [[pqTrain]] schema; `iters = 1` is [[pqTrain]] (spec-pinned). */
  def pqTrainIters(vectors: DataFrame, idCol: String, vecCol: String,
                   iters: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    val svs = subspaceSlices(e)
    lloyd(pqAssignInit(e), PqKeys, "sv", iters) { cb =>
      svs.join(broadcast(cb), "subspace")
        .select(col("subspace"), col("vec_id"),
          struct(l2ToCentRow(col("sv"), col("centroid")).as("dist"),
            col("code").as("code"), col("sv").as("sv")).as("sc"))
        .groupBy("vec_id", "subspace").agg(min("sc").as("m"))
        .select(col("subspace"), col("m.code").as("code"), col("m.sv").as("sv"))
    }.orderBy("subspace", "code", "dim")
  }

  /** Squared L2 against a TRAINED (data, not literal) centroid row —
    * same expanded three-dot tree as [[l2ToInitCent]]. */
  private def l2ToCentRow(sv: Column, cent: Column): Column =
    dot(sv, sv) - lit(2.0) * dot(sv, cent) + dot(cent, cent)

  /** PQ encoding: each (vec_id, subspace) slice maps to its nearest
    * TRAINED sub-centroid → one (vec_id, subspace, code) row, the m-byte
    * code word in row form (joins straight into the ADC score).
    *
    * Scale shape (the annIvfBroadcast discipline): the ≤128-row codebook
    * broadcasts under the corpus scan; assignment is a broadcast hash
    * join on `subspace` + one (vec_id, subspace)-keyed struct-min agg —
    * map-side combine collapses the ×NPqCodes fan-out per partition
    * before the shuffle, and the embedding floats die at the agg (only
    * dist+code travel). This is the OFFLINE pass (codes are written once,
    * searched many times); [[annPq]]'s per-query work never rescans or
    * reshuffles the float corpus. */
  def pqEncode(vectors: DataFrame, idCol: String, vecCol: String,
               codebook: DataFrame): DataFrame = {
    subspaceSlices(canonVec(vectors, idCol, vecCol))
      .join(broadcast(codebook.select(col("subspace"), col("code"), col("centroid"))),
        "subspace")
      .select(col("vec_id"), col("subspace"),
        struct(l2ToCentRow(col("sv"), col("centroid")).as("dist"),
          col("code").as("code")).as("sc"))
      .groupBy("vec_id", "subspace").agg(min("sc").as("m"))
      .select(col("vec_id"), col("subspace"), col("m.code").as("code"))
  }

  /** ANN by product quantization with asymmetric-distance (ADC) scoring —
    * the memory-bound retrieval tier ABOVE int8 ([[annQuantized]]): codes
    * are NSub small ints per vector (m·log₂K bits ≈ 4 bytes vs 64 here,
    * 32× under float32), and search never touches the float corpus.
    *
    * The query builds a (subspace, code) → `floor(l2·10⁶)` lookup table
    * against the trained codebook (≤128 integer terms, broadcast); each
    * encoded vector's approximate distance is the SUM of its NSub table
    * terms — an order-free integer sum, so the whole ranking is exact
    * arithmetic and hash-oracles end-to-end, the [[annQuantized]]
    * discipline.
    *
    * Plan: codebook and LUT broadcast; scoring is one broadcast hash join
    * on (subspace, code) over the code rows + a (vec_id)-keyed partial+
    * final sum + TakeOrdered — the corpus floats never load and the code
    * table never shuffles with payload. */
  def annPq(vectors: DataFrame, idCol: String, vecCol: String, cb: DataFrame,
            queryId: Long, k: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    // ONE codebook (a [[pqCodebook]]) threads through encode and LUT
    // (the quantizeCodes shared-stats discipline). It feeds both, so an
    // unmaterialized one trains once per consumer: codes are written
    // once and searched many times, so the bindings pass the memoized
    // [[sharedPqCodebook]].
    adcTopK(e, e.filter(col("vec_id") =!= queryId), cb, queryId, k)
  }

  /** The shared ADC scoring tail: the query's integer lookup table
    * against `cb`, the `corpus` side encoded and summed — the
    * [[annPq]] score over whichever candidate frame the caller pruned
    * to (full corpus for annPq, probed IVF cells for [[annIvfPq]]). */
  private def adcTopK(e: DataFrame, corpus: DataFrame, cb: DataFrame,
                      queryId: Long, k: Int): DataFrame = {
    val qsv = subspaceSlices(e.filter(col("vec_id") === queryId)).select("subspace", "sv")
    val lut = qsv.join(broadcast(cb), "subspace")
      .select(col("subspace"), col("code"),
        floor(l2ToCentRow(col("sv"), col("centroid")) * lit(1000000.0))
          .cast("long").as("term"))
    pqEncode(corpus, "vec_id", "embedding", cb)
      .join(broadcast(lut), Seq("subspace", "code"))
      .groupBy("vec_id").agg(sum("term").as("adist"))
      .orderBy(col("adist").asc, col("vec_id").asc)
      .limit(k)
      .orderBy(col("adist").asc, col("vec_id").asc)
  }

  /** IVF×PQ — the canonical memory-bound ANN index composition (the
    * FAISS-style IVFPQ shape): the coarse IVF probe prunes the corpus
    * to NProbe/NCells of its cells, and integer ADC scores ONLY those
    * candidates over the trained PQ codebook. At 100 TB this is the
    * architecture that actually serves: cell = partition key (a probe
    * is a partition-pruned read), codes 32× under float32, scoring
    * exact integer arithmetic under the hash oracle end-to-end.
    * ADC(v) is per-vector, so pruning then scoring ≡ scoring then
    * pruning — the oracle replays it as an adc ⋈ candidate semi-join. */
  def annIvfPq(vectors: DataFrame, idCol: String, vecCol: String, cb: DataFrame,
               queryId: Long, k: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    val indexed = withLiteralCell(e).select(col("vec_id"), col("embedding"), col("cell"))
    val qcells = e.filter(col("vec_id") === queryId)
      .select(posexplode(literalDots.as("d")).as(Seq("j", "qdot")))
      .orderBy(col("qdot").desc, col("j").asc).limit(NProbe)
      .select((col("j") + 1).cast("long").as("cell"))
    val cands = indexed.filter(col("vec_id") =!= queryId)
      .join(broadcast(qcells), "cell")
      .select(col("vec_id"), col("embedding"))
    adcTopK(e, cands, cb, queryId, k)
  }

  /** PQ-candidates → exact rerank — the composed retrieval path of the
    * quantized tier (the [[annRerank]] pattern with ADC as the coarse
    * stage): [[annPq]]'s integer-ADC top-`nCand` prune, then ONE exact
    * cosine pass over just those candidates, ranked. ADC distance rides
    * along as provenance. ORACLED end-to-end (integer candidate set +
    * rounded fold-cosine). The 100 TB read: the expensive exact scorer
    * touches `nCand` rows instead of the corpus, and the candidates
    * (tiny) broadcast under one embedding scan. */
  def annPqRerank(vectors: DataFrame, idCol: String, vecCol: String, cb: DataFrame,
                  queryId: Long, nCand: Int, k: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    exactRerankTail(e, annPq(vectors, idCol, vecCol, cb, queryId, nCand),
      queryId, k)
  }

  /** The shared exact-rerank tail (the ADC-scoring [[adcTopK]] dual):
    * join the (tiny, broadcast) candidate frame back to the float
    * corpus, ONE exact rounded-cosine pass against the query embedding,
    * rank. Consumed by [[annPqRerank]] and [[annIvfPqRerank]], which
    * differ only in how the candidates were pruned. */
  private def exactRerankTail(e: DataFrame, cands: DataFrame,
                              queryId: Long, k: Int): DataFrame = {
    val qe = e.filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(GraftFunctions.constWindowKey(col("vec_id")))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    e.join(broadcast(cands), "vec_id")
      .crossJoin(broadcast(qe))
      .select(col("vec_id"), col("adist"),
        round(cosine(col("embedding"), col("qe")), 4).as("cos_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("rk", "vec_id", "cos_sim", "adist")
      .orderBy("rk")
  }

  /** The full production retrieval stack in one operator: IVF coarse
    * probe (NProbe/NCells of the corpus) → integer-ADC prune to nCand →
    * ONE exact cosine pass over just those candidates — [[annIvfPq]]
    * composed with the [[annPqRerank]] tail. Hash-oracled end-to-end;
    * at 100 TB each stage touches an order of magnitude less data than
    * the one before (partition-pruned cells → 4-byte codes → nCand
    * float rows). */
  def annIvfPqRerank(vectors: DataFrame, idCol: String, vecCol: String, cb: DataFrame,
                     queryId: Long, nCand: Int, k: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    exactRerankTail(e, annIvfPq(vectors, idCol, vecCol, cb, queryId, nCand),
      queryId, k)
  }

  /** Matryoshka-tiered ANN (MRL retrieval): coarse top-`nCand` by
    * cosine over the first `dPrefix` dimensions only, then ONE exact
    * full-dimension cosine pass over just those candidates — the
    * two-tier serve pattern Matryoshka-representation embeddings are
    * trained for (the information-dense prefix IS the cheap index;
    * unlike PQ there is no codebook to train or version, truncation
    * is the quantizer). Coarse provenance rides along. ORACLED
    * end-to-end: both tiers are the same left-to-right fold-cosine
    * the exact baseline uses, just dimension-sliced.
    *
    * The 100 TB read: the coarse tier scans dPrefix/dim of the float
    * bytes (a physical win when the prefix is stored column-split or
    * the index tier is materialized separately), candidates broadcast
    * under one full-width scan — the annRerank discipline with
    * truncation instead of hashing as the prune. */
  def annMatryoshka(vectors: DataFrame, idCol: String, vecCol: String,
                    queryId: Long, dPrefix: Int, nCand: Int, k: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    val qe = e.filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    val cands = e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qe))
      .select(col("vec_id"),
        round(cosine(slice(col("embedding"), 1, dPrefix),
                     slice(col("qe"), 1, dPrefix)), 4).as("coarse_sim"))
      .orderBy(col("coarse_sim").desc, col("vec_id").asc).limit(nCand)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(GraftFunctions.constWindowKey(col("vec_id")))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    e.join(broadcast(cands), "vec_id")
      .crossJoin(broadcast(qe))
      .select(col("vec_id"), col("coarse_sim"),
        round(cosine(col("embedding"), col("qe")), 4).as("cos_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("rk", "vec_id", "cos_sim", "coarse_sim")
      .orderBy("rk")
  }

  /** Nearest-cell assignment against a broadcast codebook — the
    * struct-max rule (max dot, first-tie-lowest-cell) of
    * [[annIvfBroadcast]], the IVFPQ-with-codebook path, the k-means
    * [[lloyd]] rounds and the streaming index build. Returns
    * (vec_id, cell, embedding). */
  private[engine] def assignWithCb(e: DataFrame, coarseCb: DataFrame): DataFrame =
    e.crossJoin(broadcast(coarseCb.select(col("cell"), col("centroid"))))
      .select(col("vec_id"),
        struct(dot(col("embedding"), col("centroid")).as("d"),
               (-col("cell")).as("negc"), col("embedding").as("emb")).as("sc"))
      .groupBy("vec_id").agg(max("sc").as("m"))
      .select(col("vec_id"), (-col("m.negc")).as("cell"), col("m.emb").as("embedding"))

  /** [[annIvfPq]] with the coarse codebook caller-supplied too — the serve-path
    * form: the coarse IVF codebook (trained via [[ivfCodebook]] or the
    * literal [[codebookDf]]) prunes to NProbe probed cells via the
    * broadcast-argmax assignment, and the supplied PQ codebook scores
    * only those candidates with integer ADC. Nothing retrains per
    * query: at 100 TB the codebooks are versioned artifacts trained
    * offline, and this is the operator every online query runs. */
  def annIvfPqWith(vectors: DataFrame, idCol: String, vecCol: String,
                   coarseCb: DataFrame, pqCb: DataFrame,
                   queryId: Long, nCand: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    val cb = broadcast(coarseCb.select(col("cell"), col("centroid")))
    val assigned = assignWithCb(e, coarseCb)
    val qcells = e.filter(col("vec_id") === queryId).crossJoin(cb)
      .select(col("cell"), dot(col("embedding"), col("centroid")).as("qdot"))
      .orderBy(col("qdot").desc, col("cell").asc).limit(NProbe)
      .select("cell")
    val cands = assigned.filter(col("vec_id") =!= queryId)
      .join(broadcast(qcells), "cell")
      .select(col("vec_id"), col("embedding"))
    adcTopK(e, cands, pqCb, queryId, nCand)
  }

  /** [[annIvfPqRerank]] with caller-supplied codebooks: trained coarse
    * probe → integer ADC prune → exact rerank. The batch twin of the
    * streaming standing-query operator (graft.engine.stream.Streams
    * .streamingAnnTopK), which must match it row-for-row. */
  def annIvfPqRerankWith(vectors: DataFrame, idCol: String, vecCol: String,
                         coarseCb: DataFrame, pqCb: DataFrame,
                         queryId: Long, nCand: Int, k: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    exactRerankTail(e,
      annIvfPqWith(vectors, idCol, vecCol, coarseCb, pqCb, queryId, nCand),
      queryId, k)
  }

  /** Maximal-Marginal-Relevance diversified top-k — the selection pass
    * retrieval feeds a context window or a curation sampler with:
    * greedily pick the candidate maximizing `5·rel − 3·max_sim_to_
    * selected` (λ = 0.625 pre-scaled into integer weights), so the
    * result covers the query's neighborhood instead of k near-copies
    * of the same answer. `rel` and pairwise `sim` are `floor(10⁶·cos)`
    * integers, so every round's argmax — and therefore the whole
    * selection — hash-oracles; ties break to the lowest id.
    *
    * Loop discipline (r18 — the [[TextPipeline]] fusedUnionFind
    * counted-gate shape with the count statically bounded): `nCand` is
    * a literal operator parameter, so the candidate set is ≤ nCand rows
    * BY CONSTRUCTION and the k greedy rounds run inside ONE executor
    * task — each round was previously an anti-join + max-agg + 1-row
    * argmax + localCheckpoint (~6 scheduler-floor jobs per pick, 31
    * jobs for 0.08 s of executor work at sf0.1). The arithmetic is
    * identical: sim = floor(10⁶·cos) with the same left-to-right double
    * dot (ArrayDotProduct's accumulation loop, float widened exactly),
    * mmr = 5·rel − 3·max_sim_to_selected (null → 0 on round 1), ties to
    * the lowest id. No driver collect: the selection stays a DataFrame
    * (at scale an ANN variant supplies `cands`; the greedy tail over
    * ≤ nCand rows is one-task work in ANY engine). */
  def mmrSelect(vectors: DataFrame, idCol: String, vecCol: String,
                queryId: Long, nCand: Int, k: Int): DataFrame = {
    val e = canonVec(vectors, idCol, vecCol)
    val qe = e.filter(col("vec_id") === queryId).select(col("embedding").as("qemb"))
    val cands = e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qe))
      .select(col("vec_id"), col("embedding"),
        floor(lit(1000000.0) * cosine(col("embedding"), col("qemb")))
          .cast("long").as("rel"))
      .orderBy(col("rel").desc, col("vec_id").asc)
      .limit(nCand)
    import vectors.sparkSession.implicits._
    val picked = cands
      .select(col("vec_id"), col("rel"),
        col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Long, Array[Double])]
      .coalesce(1)
      .mapPartitions { it =>
        val rows = it.toArray
        val n = rows.length
        def dotD(a: Array[Double], b: Array[Double]): Double = {
          var s = 0.0; var i = 0; val m = math.min(a.length, b.length)
          while (i < m) { s += a(i) * b(i); i += 1 }
          s
        }
        val nrm = rows.map(r => math.sqrt(dotD(r._3, r._3)))
        // sim(i,j) exactly as the sims frame computed it:
        // floor(10⁶ · dot/(‖i‖·‖j‖)) in IEEE double, same parenthesization
        def simTo(i: Int, j: Int): Long =
          math.floor(1000000.0 *
            (dotD(rows(i)._3, rows(j)._3) / (nrm(i) * nrm(j)))).toLong
        val maxSim = new Array[Long](n)     // max sim to the selected set
        val hasSel = new Array[Boolean](n)  // round 1: coalesce(null, 0)
        val taken = new Array[Boolean](n)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        var r = 1
        while (r <= k && out.length < n) {
          var best = -1
          var bestMmr = 0L
          var i = 0
          while (i < n) {
            if (!taken(i)) {
              val mmr = 5L * rows(i)._2 - 3L * (if (hasSel(i)) maxSim(i) else 0L)
              if (best < 0 || mmr > bestMmr ||
                  (mmr == bestMmr && rows(i)._1 < rows(best)._1)) {
                best = i; bestMmr = mmr
              }
            }
            i += 1
          }
          taken(best) = true
          out += ((r.toLong, rows(best)._1, rows(best)._2, bestMmr))
          i = 0
          while (i < n) {
            if (!taken(i)) {
              val s = simTo(i, best)
              if (!hasSel(i) || s > maxSim(i)) { maxSim(i) = s; hasSel(i) = true }
            }
            i += 1
          }
          r += 1
        }
        out.iterator
      }
      .toDF("rk", "vec_id", "rel", "mmr")
    picked.orderBy("rk")
  }

  // ------------------------------------------------- fixture bindings
  val queries: Map[String, Q] = Map(
    "q_sim_cosine" -> ((s, d) => knnCosine(Tables.embeddings(s, d), "vec_id", "embedding", 0, 10)),
    "q_sim_pairs_topk" -> ((s, d) => allPairsTopK(Tables.embeddings(s, d), "vec_id", "embedding", 20)),
    // the sample-tier audit the 100 TB plan actually runs: exact pair
    // truth within the deterministic 25% keyMix carve — quadratic /16
    "q_sim_pairs_topk_sampled" -> ((s, d) =>
      allPairsTopKSampled(Tables.embeddings(s, d), "vec_id", "embedding", 20, 25)),
    "q_sim_knn" -> ((s, d) => knnJoin(Tables.embeddings(s, d), "vec_id", "embedding", Seq(1L, 2L, 3L), 5)),
    "q_bitext_mine" -> ((s, d) =>
      bitextMine(Tables.documents(s, d), Tables.embeddings(s, d), "de", "en")),
    "q_ncm_eval" -> ((s, d) =>
      ncmEval(Tables.embeddings(s, d), "vec_id", "embedding", "label")),
    "q_rank_fusion" -> ((s, d) =>
      rankFusion(Tables.documents(s, d), "doc_id", "text",
        Artifacts.corpusTokens(s, d), Artifacts.corpusDl(s, d),
        Tables.embeddings(s, d), "vec_id", "embedding", 0, 20, 10)),
    // SemDeDup closed to clusters: the cell-blocked cosine pair graph
    // through the SAME label-prop CC the text dedup uses
    "q_semantic_clusters" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val pairs = semanticDedup(emb, "vec_id", "embedding", 0.35)
        .select(col("vec_id_1").as("doc_id_1"), col("vec_id_2").as("doc_id_2"))
      TextPipeline.dedupClusters(emb, "vec_id", pairs).orderBy("id")
    }),
    "q_lsh_band_stats" -> ((s, d) =>
      minhashBandStats(Tables.documents(s, d), "doc_id", "text")),
    // the analytic S-curve for the engine's design points (2x8 = the
    // fixture contract, 2x16 = the k32 recall point, 4x8 = a k32
    // higher-recall banding) — data-free, pure projection
    "q_lsh_scurve" -> ((s, _) =>
      lshSCurve(s, Seq((2, 8), (2, 16), (4, 8)))),
    "q_ann_lsh" -> ((s, d) => annLsh(Tables.embeddings(s, d), "vec_id", "embedding", 0, 10)),
    // distance-1 bucket probing: more recall from the SAME index
    "q_ann_multiprobe" -> ((s, d) =>
      annLshMultiprobe(Tables.embeddings(s, d), "vec_id", "embedding", 0, 10)),
    "q_ann_ivf" -> ((s, d) => annIvf(Tables.embeddings(s, d), "vec_id", "embedding", 0, 10)),
    "q_ann_ivf_bcast" -> ((s, d) =>
      annIvfBroadcast(Tables.embeddings(s, d), "vec_id", "embedding", codebookDf(s), 0, 10)),
    "q_ann_rerank" -> ((s, d) => annRerank(Tables.embeddings(s, d), "vec_id", "embedding", Seq(1L, 2L, 3L), 5)),
    // recall@5 of the LSH+rerank path vs exact kNN over the same probes
    "q_ann_recall" -> ((s, d) => annRecall(Tables.embeddings(s, d), "vec_id", "embedding", Seq(1L, 2L, 3L), 5)),
    // the position-sensitive twin: where does the exact top-1 land in
    // the ANN ranking (integer reciprocal-rank bp; 0 = unrecoverable miss)
    "q_retrieval_mrr" -> ((s, d) =>
      retrievalMrr(Tables.embeddings(s, d), "vec_id", "embedding", Seq(1L, 2L, 3L), 5)),
    // hard negatives: per anchor, top-5 nearest wrong-label vectors
    "q_hard_negatives" -> ((s, d) =>
      hardNegatives(Tables.embeddings(s, d), "vec_id", "embedding", "label",
        Seq(1L, 2L, 3L), 5)),
    // Matryoshka tiers: 32-dim prefix prune to 64, full 64-dim rerank.
    // Half-width, not quarter: the fixture embeddings are isotropic
    // (not MRL-trained, no information-dense prefix), so a 16-dim tier
    // measured recall@10 = 0.4; real MRL checkpoints concentrate
    // signal in the prefix and run 4-8x truncation at this recall
    "q_ann_matryoshka" -> ((s, d) =>
      annMatryoshka(Tables.embeddings(s, d), "vec_id", "embedding", 0, 32, 64, 10)),
    // the ordered view of the SAME pair graph Bench already builds and
    // times under the pairs_full label (r18): the query previously
    // re-ran the whole LSH build — scan, signatures, banding, verify —
    // that the memoized artifact's eight other consumers share; the
    // declared output (ordered verified pairs) is byte-identical
    "q_dedup_minhash" -> ((s, d) =>
      Artifacts.pairsFull(s, d).orderBy("doc_id_1", "doc_id_2")),
    // estimator-quality audit: signature-agreement Jaccard vs exact,
    // per verified pair — what k=16 granularity (625 bp) buys HERE
    "q_minhash_estimate" -> ((s, d) =>
      minhashEstimate(Artifacts.minhashGroups(s, d), 0.9)),
    // LSH banding-miss audit vs the exact all-pairs ground truth
    // both audits re-gate the ONE memoized scored pair table; outputs
    // are spec-pinned equal to the standalone dedupEval composition
    "q_dedup_eval" -> ((s, d) => dedupEvalAt(Artifacts.evalScored(s, d), 0.9)),
    // the sample-tier audit the 100 TB plan actually runs: exact truth
    // on the deterministic 25% keyMix sample — quadratic cost /16
    "q_dedup_eval_sampled" -> ((s, d) =>
      dedupEvalSampled(Tables.documents(s, d), "doc_id", "text", 0.9, 25)),
    "q_dedup_eval_sweep" -> ((s, d) =>
      dedupEvalSweep(Artifacts.evalScored(s, d), Seq(0.8, 0.85, 0.9, 0.95))),
    // the high-recall parameter point under the SAME hash oracle: k=32
    // (prefix-stable family extension) in 4 bands × 8 rows lifts the
    // S-curve knee (P(candidate) at J=0.9 goes 0.68 → 0.89) at 2× the
    // signature cost — the r7 parameterization exercised END-TO-END,
    // not just spec-pinned (the oracle generates its 32 sig components
    // from the same constants the codegen bakes in)
    "q_dedup_minhash_k32" -> ((s, d) =>
      minhashNearDup(Artifacts.minhashGroups(s, d), 0.9,
        k = 32, bands = 4, rowsPerBand = 8)),
    // delta-vs-index dedup: which "new" docs (id ≥ 250) near-dup the
    // standing reference corpus (id < 250) — the rolling-build shape
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      minhashNearDupIncremental(docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") >= 250), "doc_id", "text", 0.9)
    }),
    // index maintenance: merge the delta into the standing banded index
    // and prove merge(build(ref), delta) == build(ref UNION delta) — the
    // oracle builds the union index from scratch, the engine merges
    "q_index_merge" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      minhashIndexMerge(
        minhashBandedIndex(docs.filter(col("doc_id") < 250), "doc_id", "text"),
        docs.filter(col("doc_id") >= 250), "doc_id", "text")
        .select(col("band"), col("bkey"), col("rep"), col("sz").cast("long").as("sz"),
          size(col("members")).cast("long").as("n_members"),
          aggregate(col("members"), lit(0L),
            (a, x) => pmod(a * 1000003L + x, lit(1000000007L))).as("members_hash"),
          aggregate(col("hsh"), lit(0L),
            (a, x) => pmod(a * 1000003L + x, lit(1000000007L))).as("hsh_hash"))
        .orderBy("band", "bkey", "rep")
    }),
    // the two-sided hot-bucket salt under the SAME oracle: cap 64 forces
    // real splits on the fixture's self-similar reference buckets and
    // the pair set must replay the unsalted oracle verbatim
    "q_dedup_incremental_salted" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      minhashNearDupIncremental(docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") >= 250), "doc_id", "text", 0.9,
        saltCap = Some(64))
    }),
    // the hot-band salt fallback under the SAME oracle. Cap 1024 ≈ a
    // real per-task pair budget (cap² ≈ 1M comparisons): the fixture's
    // self-similar corpus has band buckets in the hundreds-to-thousands,
    // so a handful genuinely split while the rest ride the degenerate
    // cell — the production configuration, not a stress cap (the
    // property test pins cap=2 for exhaustive branch coverage).
    "q_dedup_minhash_salted" -> ((s, d) =>
      minhashNearDup(Artifacts.minhashGroups(s, d), 0.9, saltCap = Some(1024))),
    "q_dedup_simhash" -> ((s, d) => simhashNearDup(Tables.documents(s, d), "doc_id", "text", 3)),
    "q_dedup_embedding" -> ((s, d) =>
      embeddingNearDup(withPlantedNearDups(Tables.embeddings(s, d)), "vec_id", "embedding", 0.99)),
    "q_kmeans_step" -> ((s, d) => kmeansStep(Tables.embeddings(s, d), "vec_id", "embedding")),
    // the trained family reads the ONE memoized 3-round model
    // (Artifacts.kmeansStats — the r8 shared-artifact discipline): the
    // train is forced and timed by Bench under its own label, the five
    // consumer queries measure serve cost
    "q_kmeans_train" -> ((s, d) => Artifacts.kmeansStats(s, d)),
    // the trained-IVF serve path: kmeansTrain's codebook drives the
    // broadcast-codebook ANN — train with one operator, serve with the
    // other, both under the hash oracle
    "q_ann_ivf_trained" -> ((s, d) =>
      annIvfBroadcast(Tables.embeddings(s, d), "vec_id", "embedding",
        sharedIvfCodebook(s, d), 0, 10)),
    "q_cluster_prune" -> ((s, d) =>
      clusterPrune(Tables.embeddings(s, d), "vec_id", "embedding",
        sharedIvfCodebook(s, d), 16)),
    "q_embed_quantize" -> ((s, d) => quantizeEmbeddings(Tables.embeddings(s, d), "vec_id", "embedding")),
    "q_ann_quantized" -> ((s, d) => annQuantized(Tables.embeddings(s, d), "vec_id", "embedding", 0, 10)),
    // q_pq_train returns the memoized single-round PQ stats (the same
    // shared-model discipline as Artifacts.kmeansStats: q_pq_encode and the
    // trained IVFPQ stack fold the identical stats into sub-codebooks)
    "q_pq_train" -> ((s, d) => Artifacts.pqStats(s, d)),
    "q_pq_train_iters" -> ((s, d) =>
      pqTrainIters(Tables.embeddings(s, d), "vec_id", "embedding", 2)),
    "q_pq_encode" -> ((s, d) =>
      pqEncode(Tables.embeddings(s, d), "vec_id", "embedding",
        foldCodebook(Artifacts.pqStats(s, d), PqKeys))
        .orderBy("vec_id", "subspace")),
    // the PQ serve family reads the ONE memoized single-round PQ model
    // (sharedPqCodebook — value-identical to the inline train each
    // query re-ran; the r8 shared-artifact discipline, the same fold
    // q_pq_encode and q_ann_ivfpq_trained already consume)
    "q_ann_pq" -> ((s, d) =>
      annPq(Tables.embeddings(s, d), "vec_id", "embedding", sharedPqCodebook(s, d), 0, 10)),
    "q_ann_pq_rerank" -> ((s, d) =>
      annPqRerank(Tables.embeddings(s, d), "vec_id", "embedding", sharedPqCodebook(s, d),
        0, 50, 10)),
    "q_ann_ivfpq" -> ((s, d) =>
      annIvfPq(Tables.embeddings(s, d), "vec_id", "embedding", sharedPqCodebook(s, d), 0, 10)),
    "q_mmr_diverse" -> ((s, d) =>
      mmrSelect(Tables.embeddings(s, d), "vec_id", "embedding", 0, 20, 5)),
    "q_ann_ivfpq_rerank" -> ((s, d) =>
      annIvfPqRerank(Tables.embeddings(s, d), "vec_id", "embedding", sharedPqCodebook(s, d),
        0, 30, 10)),
    // the fully-trained stack: kmeans coarse codebook (2 Lloyd rounds —
    // the oracle's CTE namespace caps it) + trained PQ sub-codebooks
    // serving probe → ADC → exact rerank; the PQ sub-codebooks fold the
    // memoized Artifacts.pqStats model (identical frame — pqCodebook is
    // foldCodebook ∘ pqTrain)
    "q_ann_ivfpq_trained" -> ((s, d) =>
      annIvfPqRerankWith(Tables.embeddings(s, d), "vec_id", "embedding",
        ivfCodebook(Tables.embeddings(s, d), "vec_id", "embedding", 2),
        sharedPqCodebook(s, d), 0, 30, 10)),
    // 0.35: the raw corpus is near-orthogonal (max pair cos ~0.5), so a
    // low threshold surfaces the genuinely-related tail within each cell
    "q_semantic_dedup" -> ((s, d) =>
      semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding", 0.35)),
    // the production SemDeDup loop: trained (corpus-sized) codebook
    // assigns cells by broadcast argmax, then the same within-cell
    // verify — the scale path whose cell population stays bounded
    "q_semantic_dedup_trained" -> ((s, d) =>
      semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding", 0.35,
        sharedIvfCodebook(s, d))),
    // drift between the even- and odd-id cohorts (the two-epoch stand-in)
    "q_embedding_drift" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      embeddingDrift(emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    }),
    // codebook-health audit: per-cell population + corpus share bp —
    // run before committing an IVF/SemDeDup index (skew = stragglers)
    "q_cluster_balance" -> ((s, d) =>
      clusterBalance(Tables.embeddings(s, d), "vec_id", "embedding",
        sharedIvfCodebook(s, d))),
    // doc/vec id spaces coincide in the fixture: doc 0's text is the
    // keyword query, vec 0 the vector query; 20 candidates/leg. k=25
    // EXCEEDS the ANN leg's 20, so keyword-only candidates must surface
    // in the tail and both provenance flags carry both truth values —
    // at k=10 the cosine-ranked head was entirely ANN rows and the
    // in_bm25 column was constant-false (r9 all-constant-column audit)
    "q_hybrid_rerank" -> ((s, d) =>
      hybridRerank(Tables.documents(s, d), "doc_id", "text",
        Artifacts.corpusTokens(s, d), Artifacts.corpusDl(s, d),
        Tables.embeddings(s, d), "vec_id", "embedding", 0, 20, 25)),
  )

  /** The synthetic embeddings are near-orthogonal (max pair cosine ~0.5 at
    * sf0.01), so a 0.99 near-dup threshold over the raw table is vacuously
    * empty. Plant one near-duplicate per vector — a copy at id+1e6 with
    * its first component nudged by +0.05 (cosine ≈ 0.999) — so the
    * operator's block→verify path is exercised on pairs it must FIND, not
    * just pairs it must reject. Derivation is executor-side Column
    * arithmetic; at 100 TB the same harness doubles as a planted-recall
    * canary over a sampled slice. */
  def withPlantedNearDups(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("embedding")).unionAll(
      embeddings.select(
        (col("vec_id") + 1000000L).as("vec_id"),
        concat(
          array(element_at(col("embedding"), 1) + lit(0.05f)),
          slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding")))

  /** Oracles for the exact (non-probabilistic) queries only. The DuckDB
    * side pairs list elements positionally via aligned unnest +
    * generate_subscripts and accumulates in DOUBLE, mirroring the Spark
    * fold; ROUND(,4) absorbs sub-ulp association differences. */
  /** Shared DuckDB replication of the MinHash-LSH pipeline up to the
    * verified pair set (`cross_pairs` ∪ `within_pairs`) — the prefix of
    * the q_dedup_minhash oracle, reused by the survivors and clusters
    * oracles in [[TextPipeline]]. Declared WITH RECURSIVE so consumers
    * may append recursive CTEs (connected components). */
  val minhashOracleCtes: String = minhashOracleCtesFor("")

  /** Same pipeline over a filtered corpus slice (`where` is a complete
    * `WHERE ...` clause on `documents`, or empty for the full table) —
    * lets composed oracles (the curation pipeline) dedup exactly the
    * corpus they curate. (k, bands, rows) select the LSH parameter
    * point, defaulting to the fixture contract (16, 2×8).
    *
    * The signature CTE is GENERATED from [[MinHashSignature.permA]] /
    * `permB` — the same fixed-seed family the native expression bakes
    * into codegen — so the oracle constants cannot drift from the
    * engine (the r7 modulus fix had to edit 16 literal lines in
    * lockstep; generated SQL makes that class of skew impossible, the
    * embeddingOracleSql discipline applied here too). */
  /** The token-set docs CTE body over a `documents` slice (poly_hash62
    * replayed as two list_reduce folds — see the hsh scaladoc in
    * [[minhashNearDup]]). */
  private def minhashDocsSql(where: String, from: String = "documents"): String =
    s"""  SELECT doc_id,
      |    list_sort(list_distinct(list_transform(list_distinct(string_split(text, ' ')),
      |      tok -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |               list_transform(string_split(tok, ''), c -> CAST(unicode(c) AS BIGINT))),
      |             (a, b) -> (a * 31 + b) % 2147483647) * 2147483648
      |           + list_reduce(list_prepend(CAST(0 AS BIGINT),
      |               list_transform(string_split(tok, ''), c -> CAST(unicode(c) AS BIGINT))),
      |             (a, b) -> (a * 37 + b) % 2147483647)))) AS hsh
      |  FROM $from $where""".stripMargin

  /** The k signature min() lines, generated from the native family. */
  private def minhashSigMinsSql(k: Int): String = {
    import graft.engine.functions.MinHashSignature.{permA, permB, MaxK}
    require(k >= 1 && k <= MaxK, s"k ($k) outside the generated family length ($MaxK)")
    (0 until k).map { i =>
      s"    min(((h % 2147483647) * ${permA(i)} + ${permB(i)}) % 2147483647) AS m$i"
    }.mkString(",\n")
  }

  /** The per-band fold-key selects over a signature CTE. */
  private def minhashBandSelectsSql(bands: Int, rows: Int, sigCte: String): String =
    (0 until bands).map { b =>
      val ms = (b * rows until (b + 1) * rows)
        .map(i => s"m$i % 2147483647").mkString("[", ", ", "]")
      s"""  SELECT rep, $b AS band,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      $ms),
         |      (a, b) -> (a * 131 + b) % 2147483647) AS bkey
         |  FROM $sigCte""".stripMargin
    }.mkString("\n  UNION ALL\n")

  def minhashOracleCtesFor(where: String, k: Int = 16,
                           bands: Int = 2, rows: Int = 8): String =
    "WITH RECURSIVE " + minhashOracleCtesBodyFor(where, "documents", k, bands, rows)

  /** The same CTE chain WITHOUT the `WITH RECURSIVE` prefix and with a
    * pluggable source relation — for composed oracles that prepend
    * their own CTEs (e.g. q_curation_pipeline's line-reflow head reads
    * the pair graph over `refl_docs`, not `documents`). */
  def minhashOracleCtesBodyFor(where: String, from: String, k: Int = 16,
                               bands: Int = 2, rows: Int = 8): String = {
    require(bands * rows == k, s"bands ($bands) x rows ($rows) must equal k ($k)")
    s"""docs AS (
      |${minhashDocsSql(where, from)}),
      |grps AS (
      |  SELECT min(doc_id) AS rep, list_sort(list(doc_id)) AS members, hsh
      |  FROM docs GROUP BY hsh),
      |sig AS (
      |  SELECT rep,
      |${minhashSigMinsSql(k)}
      |  FROM (SELECT rep, unnest(hsh) AS h FROM grps) GROUP BY rep),
      |banded AS (
      |${minhashBandSelectsSql(bands, rows, "sig")}),
      |cand AS (
      |  SELECT DISTINCT x.rep AS r1, y.rep AS r2
      |  FROM banded x JOIN banded y
      |    ON x.band = y.band AND x.bkey = y.bkey AND x.rep < y.rep),
      |ver AS (
      |  SELECT r1, r2, a.members AS ma, b.members AS mb,
      |    round(CAST(len(list_intersect(a.hsh, b.hsh)) AS DOUBLE) /
      |          (len(a.hsh) + len(b.hsh) - len(list_intersect(a.hsh, b.hsh))), 4) AS jaccard
      |  FROM cand JOIN grps a ON a.rep = r1 JOIN grps b ON b.rep = r2),
      |cross_pairs AS (
      |  SELECT least(ta.a, tb.b) AS doc_id_1, greatest(ta.a, tb.b) AS doc_id_2, jaccard
      |  FROM ver, unnest(ma) AS ta(a), unnest(mb) AS tb(b)
      |  WHERE jaccard >= 0.9),
      |within_pairs AS (
      |  SELECT ta.a AS doc_id_1, tb.b AS doc_id_2, CAST(1.0 AS DOUBLE) AS jaccard
      |  FROM (SELECT members FROM grps WHERE len(members) > 1) g,
      |       unnest(g.members) AS ta(a), unnest(g.members) AS tb(b)
      |  WHERE ta.a < tb.b)""".stripMargin
  }

  /** Full incremental-near-dup oracle ([[minhashNearDupIncremental]]):
    * both corpus slices run the generated docs→grps→sig→band chain,
    * candidates come from the CROSS-side band join, and the verify +
    * member expansion replay the operator exactly. */
  def minhashIncrementalOracleSql(refWhere: String, newWhere: String,
                                  threshold: Double, k: Int = 16,
                                  bands: Int = 2, rows: Int = 8): String = {
    require(bands * rows == k, s"bands ($bands) x rows ($rows) must equal k ($k)")
    def sideCtes(p: String, where: String): String =
      s"""${p}_docs AS (
        |${minhashDocsSql(where)}),
        |${p}_grps AS (
        |  SELECT min(doc_id) AS rep, list_sort(list(doc_id)) AS members, hsh
        |  FROM ${p}_docs GROUP BY hsh),
        |${p}_sig AS (
        |  SELECT rep,
        |${minhashSigMinsSql(k)}
        |  FROM (SELECT rep, unnest(hsh) AS h FROM ${p}_grps) GROUP BY rep),
        |${p}_band AS (
        |${minhashBandSelectsSql(bands, rows, s"${p}_sig")})""".stripMargin
    s"""WITH RECURSIVE ${sideCtes("ref", refWhere)},
      |${sideCtes("new", newWhere)},
      |cand AS (
      |  SELECT DISTINCT x.rep AS r1, y.rep AS r2
      |  FROM ref_band x JOIN new_band y
      |    ON x.band = y.band AND x.bkey = y.bkey),
      |ver AS (
      |  SELECT r1, r2, a.members AS ma, b.members AS mb,
      |    round(CAST(len(list_intersect(a.hsh, b.hsh)) AS DOUBLE) /
      |          (len(a.hsh) + len(b.hsh) - len(list_intersect(a.hsh, b.hsh))), 4) AS jaccard
      |  FROM cand JOIN ref_grps a ON a.rep = r1 JOIN new_grps b ON b.rep = r2)
      |SELECT ta.a AS doc_id_ref, tb.b AS doc_id_new, jaccard
      |FROM ver, unnest(ma) AS ta(a), unnest(mb) AS tb(b)
      |WHERE jaccard >= $threshold
      |ORDER BY doc_id_ref, doc_id_new""".stripMargin
  }

  /** The from-scratch UNION-corpus banded index in DuckDB — the oracle
    * side of [[minhashIndexMerge]]'s maintenance contract. Arrays
    * project to order-sensitive polynomial hashes (sorted members /
    * sorted token-hash set), the postings-hash discipline; every fold
    * operand stays < 2⁶³ (accumulator < 10⁹+7, elements < 2⁶²). */
  def minhashUnionIndexOracleSql(k: Int = 16, bands: Int = 2, rows: Int = 8): String = {
    require(bands * rows == k, s"bands ($bands) x rows ($rows) must equal k ($k)")
    s"""WITH RECURSIVE docs AS (
      |${minhashDocsSql("")}),
      |grps AS MATERIALIZED (
      |  SELECT min(doc_id) AS rep, list_sort(list(doc_id)) AS members, hsh
      |  FROM docs GROUP BY hsh),
      |sig AS (
      |  SELECT rep,
      |${minhashSigMinsSql(k)}
      |  FROM (SELECT rep, unnest(hsh) AS h FROM grps) GROUP BY rep),
      |bnd AS (
      |${minhashBandSelectsSql(bands, rows, "sig")})
      |SELECT band, bkey, g.rep AS rep, CAST(len(g.hsh) AS BIGINT) AS sz,
      |  CAST(len(g.members) AS BIGINT) AS n_members,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), g.members),
      |    (a, b) -> (a * 1000003 + b) % 1000000007) AS BIGINT) AS members_hash,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), g.hsh),
      |    (a, b) -> (a * 1000003 + b) % 1000000007) AS BIGINT) AS hsh_hash
      |FROM bnd JOIN grps g ON g.rep = bnd.rep
      |ORDER BY band, bkey, rep""".stripMargin
  }

  /** DuckDB replication of the embedding near-dup pipeline, built
    * programmatically so the 64×64 hyperplane matrix is embedded from
    * the same constants the native expression uses (shortest-repr
    * doubles round-trip exactly). All dot products are left-to-right
    * `list_reduce` folds — bit-identical to the fused loops in
    * HyperplaneSig64/ArrayDotProduct, which the sign test `acc > 0`
    * depends on. Bit 63 is added as the min-long literal (DuckDB errors
    * on 1<<63); negative-signature shifts mask identically (`>>` is
    * arithmetic in both engines). */
  private def embeddingOracleSql: String = {
    val planesList = graft.engine.functions.HyperplaneSig64.Planes.mkString("[", ", ", "]")
    val sigTerms = (0 until 64).map { j =>
      val acc = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, 65), i -> CAST(v[i] AS DOUBLE) * p[${j * 64} + i])), (a, b) -> a + b)"
      if (j == 63) s"CASE WHEN $acc > 0 THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END"
      else s"CASE WHEN $acc > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END"
    }.mkString("\n      + ")
    s"""WITH planes AS (SELECT $planesList AS p),
       |base AS (
       |  SELECT vec_id, embedding AS v FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000,
       |    list_concat([embedding[1] + CAST(0.05 AS FLOAT)], embedding[2:]) AS v
       |  FROM embeddings),
       |sigs AS (
       |  SELECT vec_id, v,
       |    CAST($sigTerms AS BIGINT) AS sig
       |  FROM base CROSS JOIN planes),
       |withnorm AS (
       |  SELECT vec_id, v, sig,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nrm
       |  FROM sigs),
       |bands AS (
       |  SELECT vec_id, v, nrm, k AS band, (sig >> CAST(k * 16 AS INT)) & 65535 AS band_key
       |  FROM withnorm, range(4) t(k)),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_id_1, y.vec_id AS vec_id_2,
       |    x.v AS va, y.v AS vb, x.nrm AS na, y.nrm AS nb
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_key = y.band_key AND x.vec_id < y.vec_id)
       |SELECT vec_id_1, vec_id_2, cos_sim FROM (
       |  SELECT vec_id_1, vec_id_2,
       |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, 65), i -> CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE))),
       |      (a, b) -> a + b) / (na * nb), 4) AS cos_sim
       |  FROM cand)
       |WHERE cos_sim >= 0.99
       |ORDER BY vec_id_1, vec_id_2""".stripMargin
  }

  /** Fold-based dot product in DuckDB, bit-identical to ArrayDotProduct's
    * left-to-right double accumulation. */
  private def foldDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), " +
      s"(a, b) -> a + b)"

  /** [[foldDot]] over the first `n` dimensions only — the truncated
    * tier of the Matryoshka oracle (slicing before the fold replays
    * Spark's `slice(col, 1, n)` exactly). */
  private def foldDotN(a: String, b: String, n: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, ${n + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), " +
      s"(a, b) -> a + b)"

  /** DuckDB replication of [[annMatryoshka]]: 32-dim-prefix fold-cosine
    * prune to 64 candidates, full-width fold-cosine rerank to 10. */
  private def annMatryoshkaOracleSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |cand AS (
       |  SELECT e.vec_id,
       |    round(${foldDotN("e.embedding", "q.qe", 32)} /
       |          (sqrt(${foldDotN("e.embedding", "e.embedding", 32)}) *
       |           sqrt(${foldDotN("q.qe", "q.qe", 32)})), 4) AS coarse_sim
       |  FROM embeddings e, q WHERE e.vec_id <> 0
       |  ORDER BY coarse_sim DESC, vec_id ASC LIMIT 64),
       |scored AS (
       |  SELECT c.vec_id, c.coarse_sim,
       |    round(${foldDot("e.embedding", "q.qe")} /
       |          (sqrt(${foldDot("e.embedding", "e.embedding")}) *
       |           sqrt(${foldDot("q.qe", "q.qe")})), 4) AS cos_sim
       |  FROM cand c JOIN embeddings e USING (vec_id) CROSS JOIN q)
       |SELECT rk, vec_id, cos_sim, coarse_sim FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rk,
       |    vec_id, cos_sim, coarse_sim
       |  FROM scored)
       |WHERE rk <= 10 ORDER BY rk""".stripMargin

  /** DuckDB replication of annLsh (16-plane signature, 4×4-bit bands,
    * query-bucket probe, exact rerank) — same programmatic-constants
    * approach as the embedding oracle. */
  private def annLshOracleSql: String = {
    val planesList = planes.flatten.mkString("[", ", ", "]")
    val sigTerms = (0 until NBits).map { j =>
      val acc = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, 65), i -> CAST(v[i] AS DOUBLE) * p[${j * 64} + i])), (a, b) -> a + b)"
      s"CASE WHEN $acc > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END"
    }.mkString("\n      + ")
    s"""WITH planes AS (SELECT $planesList AS p),
       |sigs AS (
       |  SELECT vec_id, embedding AS v, CAST($sigTerms AS BIGINT) AS sig
       |  FROM embeddings CROSS JOIN planes),
       |bands AS (
       |  SELECT vec_id, v, k AS band, (sig >> CAST(k * 4 AS INT)) & 15 AS band_key
       |  FROM sigs, range(4) t(k)),
       |q0 AS (SELECT band, band_key, v AS qe FROM bands WHERE vec_id = 0),
       |cand AS (
       |  SELECT DISTINCT b.vec_id, b.v, q.qe
       |  FROM bands b JOIN q0 q USING (band, band_key)
       |  WHERE b.vec_id <> 0)
       |SELECT vec_id,
       |  round(${foldDot("v", "qe")} /
       |        (sqrt(${foldDot("v", "v")}) * sqrt(${foldDot("qe", "qe")})), 4) AS cos_sim
       |FROM cand
       |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin
  }

  /** DuckDB replication of annRerank (batch band probe → distinct
    * candidate pairs → exact cosine → per-query top-k window) — the
    * composed retrieval path, value-oracled end-to-end. */
  /** DuckDB replication of [[knnJoin]] over probes (1,2,3), k=5 — the
    * q_sim_knn oracle, extracted so [[annRecallOracleSql]] can embed it
    * as the ground-truth side. */
  private def simKnnOracleSql: String =
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qe
      |           FROM embeddings WHERE vec_id IN (1, 2, 3)),
      |p AS (SELECT q.q_id, e.vec_id,
      |        CAST(unnest(e.embedding) AS DOUBLE) AS x,
      |        CAST(unnest(q.qe) AS DOUBLE) AS y
      |      FROM embeddings e, q WHERE e.vec_id <> q.q_id),
      |s AS (SELECT q_id, vec_id, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
      |      FROM p GROUP BY q_id, vec_id),
      |r AS (SELECT q_id, vec_id, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos_sim FROM s)
      |SELECT q_id, vec_id, cos_sim, rk FROM (
      |  SELECT q_id, vec_id, cos_sim,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rk
      |  FROM r)
      |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** DuckDB replication of [[annRecall]]: the exact-kNN oracle and the
    * LSH-rerank oracle embedded verbatim as subqueries (each keeps its
    * own WITH chain), joined into per-probe hit counts — so the audit's
    * oracle is BY CONSTRUCTION the composition of the two already-
    * verified retrieval oracles. */
  private def annRecallOracleSql: String =
    s"""WITH exact AS (SELECT q_id, vec_id FROM ($simKnnOracleSql) t_exact),
       |approx AS (SELECT q_id, vec_id FROM (${annRerankOracleSql}) t_approx),
       |hits AS (
       |  SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_hit
       |  FROM exact e JOIN approx a ON e.q_id = a.q_id AND e.vec_id = a.vec_id
       |  GROUP BY e.q_id)
       |SELECT q.q_id, CAST(5 AS BIGINT) AS k,
       |  coalesce(h.n_hit, 0) AS n_hit,
       |  10000 * coalesce(h.n_hit, 0) // 5 AS recall_bp
       |FROM (SELECT DISTINCT q_id FROM exact) q LEFT JOIN hits h USING (q_id)
       |ORDER BY q_id""".stripMargin

  /** q_ann_multiprobe: the annLsh replay with the query's probe set
    * expanded by the four single-bit band-key flips. */
  private def annLshMultiprobeOracleSql: String = {
    val planesList = planes.flatten.mkString("[", ", ", "]")
    val sigTerms = (0 until NBits).map { j =>
      val acc = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, 65), i -> CAST(v[i] AS DOUBLE) * p[${j * 64} + i])), (a, b) -> a + b)"
      s"CASE WHEN $acc > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END"
    }.mkString("\n      + ")
    s"""WITH planes AS (SELECT $planesList AS p),
       |sigs AS (
       |  SELECT vec_id, embedding AS v, CAST($sigTerms AS BIGINT) AS sig
       |  FROM embeddings CROSS JOIN planes),
       |bands AS (
       |  SELECT vec_id, v, k AS band, (sig >> CAST(k * 4 AS INT)) & 15 AS band_key
       |  FROM sigs, range(4) t(k)),
       |q0 AS (SELECT band, band_key, v AS qe FROM bands WHERE vec_id = 0),
       |qp AS (SELECT band, xor(band_key, CAST(m AS BIGINT)) AS band_key, qe
       |       FROM q0, unnest([0, 1, 2, 4, 8]) t(m)),
       |cand AS (
       |  SELECT DISTINCT b.vec_id, b.v, q.qe
       |  FROM bands b JOIN qp q USING (band, band_key)
       |  WHERE b.vec_id <> 0)
       |SELECT vec_id,
       |  round(${foldDot("v", "qe")} /
       |        (sqrt(${foldDot("v", "v")}) * sqrt(${foldDot("qe", "qe")})), 4) AS cos_sim
       |FROM cand
       |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin
  }

  /** q_retrieval_mrr: exact top-1 truth (the simKnn replay at rk=1) left-
    * joined into the ANN ranking replay; reciprocal rank as integer bp. */
  private def retrievalMrrOracleSql: String =
    s"""WITH truth AS (
       |  SELECT q_id, vec_id AS truth_id
       |  FROM ($simKnnOracleSql) t_exact WHERE rk = 1),
       |approx AS (SELECT q_id, vec_id, rk FROM (${annRerankOracleSql}) t_approx)
       |SELECT t.q_id, t.truth_id,
       |  coalesce(a.rk, 0) AS rank_found,
       |  coalesce(10000 // a.rk, 0) AS rr_bp
       |FROM truth t LEFT JOIN approx a
       |  ON t.q_id = a.q_id AND t.truth_id = a.vec_id
       |ORDER BY t.q_id""".stripMargin

  private def annRerankOracleSql: String = {
    val planesList = planes.flatten.mkString("[", ", ", "]")
    val sigTerms = (0 until NBits).map { j =>
      val acc = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, 65), i -> CAST(v[i] AS DOUBLE) * p[${j * 64} + i])), (a, b) -> a + b)"
      s"CASE WHEN $acc > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END"
    }.mkString("\n      + ")
    s"""WITH planes AS (SELECT $planesList AS p),
       |sigs AS (
       |  SELECT vec_id, embedding AS v, CAST($sigTerms AS BIGINT) AS sig
       |  FROM embeddings CROSS JOIN planes),
       |bands AS (
       |  SELECT vec_id, v, k AS band, (sig >> CAST(k * 4 AS INT)) & 15 AS band_key
       |  FROM sigs, range(4) t(k)),
       |q AS (SELECT vec_id AS q_id, band, band_key, v AS qe
       |      FROM bands WHERE vec_id IN (1, 2, 3)),
       |cand AS (
       |  SELECT DISTINCT q.q_id, b.vec_id, b.v, q.qe
       |  FROM bands b JOIN q USING (band, band_key)
       |  WHERE b.vec_id <> q.q_id),
       |scored AS (
       |  SELECT q_id, vec_id,
       |    round(${foldDot("v", "qe")} /
       |          (sqrt(${foldDot("v", "v")}) * sqrt(${foldDot("qe", "qe")})), 4) AS cos_sim
       |  FROM cand)
       |SELECT q_id, vec_id, cos_sim, rk FROM (
       |  SELECT q_id, vec_id, cos_sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rk
       |  FROM scored)
       |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin
  }

  /** DuckDB replication of hybridRerank: the BM25 leg (same CTEs as the
    * q_bm25_topk oracle, query = doc 0's own text), the annLsh leg
    * (same plane-literal replay as q_ann_lsh, top-20), a FULL OUTER
    * union with provenance flags, and one exact fold-dot cosine rerank. */
  /** The shared retrieval-leg CTE chain (16-token query → BM25 scores;
    * hyperplane sigs → LSH band candidates) — consumed by BOTH the
    * hybrid-rerank and rank-fusion oracles so the legs cannot drift. */
  private def hybridLegsCtes: String = {
    val planesList = planes.flatten.mkString("[", ", ", "]")
    val sigTerms = (0 until NBits).map { j =>
      val acc = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, 65), i -> CAST(v[i] AS DOUBLE) * p[${j * 64} + i])), (a, b) -> a + b)"
      s"CASE WHEN $acc > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END"
    }.mkString("\n      + ")
    s"""WITH planes AS (SELECT $planesList AS p),
       |q AS (SELECT CAST(doc_id AS BIGINT) AS query_id,
       |        array_to_string(list_slice(string_split(text, ' '), 1, 16), ' ') AS qtext
       |      FROM documents WHERE doc_id = 0),
       |qt AS (SELECT DISTINCT query_id, token FROM (
       |         SELECT query_id, unnest(string_split(qtext, ' ')) AS token FROM q)
       |       WHERE len(token) > 0),
       |tok AS (SELECT doc_id, token FROM (
       |          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
       |        WHERE len(token) > 0),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
       |tot AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
       |qtok AS (SELECT doc_id, token FROM tok
       |         WHERE token IN (SELECT DISTINCT token FROM qt)),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM qtok GROUP BY doc_id, token),
       |dfq AS (SELECT token, count(DISTINCT doc_id) AS df FROM qtok GROUP BY token),
       |bmscored AS (
       |  SELECT qt.query_id, tf.doc_id,
       |    CAST(floor(CAST(1000000.0 AS DOUBLE) * (tot.n_docs - dfq.df + CAST(0.5 AS DOUBLE))
       |               / (dfq.df + CAST(0.5 AS DOUBLE))) AS BIGINT) AS idf,
       |    (tf.tf * CAST(2.2 AS DOUBLE)) /
       |      (tf.tf + CAST(0.3 AS DOUBLE) +
       |       CAST(0.9 AS DOUBLE) * dl.dl * tot.n_docs / tot.total_dl) AS sat
       |  FROM tf JOIN dfq USING (token) JOIN qt USING (token)
       |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN tot),
       |bmagg AS (
       |  SELECT doc_id, CAST(sum(CAST(floor(idf * sat) AS BIGINT)) AS BIGINT) AS score
       |  FROM bmscored GROUP BY query_id, doc_id),
       |sigs AS (
       |  SELECT vec_id, embedding AS v, CAST($sigTerms AS BIGINT) AS sig
       |  FROM embeddings CROSS JOIN planes),
       |bands AS (
       |  SELECT vec_id, v, k AS band, (sig >> CAST(k * 4 AS INT)) & 15 AS band_key
       |  FROM sigs, range(4) t(k)),
       |q0 AS (SELECT band, band_key, v AS qe FROM bands WHERE vec_id = 0),
       |lshcand AS (
       |  SELECT DISTINCT b.vec_id, b.v, q0.qe
       |  FROM bands b JOIN q0 USING (band, band_key)
       |  WHERE b.vec_id <> 0)""".stripMargin
  }

  private def hybridRerankOracleSql: String = {
    s"""$hybridLegsCtes,
       |bmtop AS (
       |  SELECT doc_id AS cand_id FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rk
       |    FROM bmagg)
       |  WHERE rk <= 21 AND doc_id <> 0),
       |anntop AS (
       |  SELECT vec_id AS cand_id FROM (
       |    SELECT vec_id,
       |      round(${foldDot("v", "qe")} /
       |            (sqrt(${foldDot("v", "v")}) * sqrt(${foldDot("qe", "qe")})), 4) AS cos_sim
       |    FROM lshcand)
       |  ORDER BY cos_sim DESC, vec_id ASC LIMIT 20),
       |cands AS (
       |  SELECT coalesce(b.cand_id, a.cand_id) AS cand_id,
       |    b.cand_id IS NOT NULL AS in_bm25, a.cand_id IS NOT NULL AS in_ann
       |  FROM bmtop b FULL OUTER JOIN anntop a ON b.cand_id = a.cand_id),
       |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |rerank AS (
       |  SELECT c.cand_id AS doc_id, c.in_bm25, c.in_ann,
       |    round(${foldDot("e.embedding", "qv.qe")} /
       |          (sqrt(${foldDot("e.embedding", "e.embedding")}) *
       |           sqrt(${foldDot("qv.qe", "qv.qe")})), 4) AS cos_sim
       |  FROM cands c JOIN embeddings e ON e.vec_id = c.cand_id CROSS JOIN qv)
       |SELECT rk, doc_id, cos_sim, in_bm25, in_ann FROM (
       |  SELECT doc_id, cos_sim, in_bm25, in_ann,
       |    CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS BIGINT) AS rk
       |  FROM rerank)
       |WHERE rk <= 25 ORDER BY rk""".stripMargin
  }

  /** DuckDB replication of [[rankFusion]]: the SAME leg CTEs as the
    * hybrid oracle, each cut to a post-filter dense rank, fused by
    * reciprocal rank. The RRF terms are identically-parenthesized
    * doubles over integer ranks, so the fused score is bit-identical. */
  private def rankFusionOracleSql: String =
    s"""$hybridLegsCtes,
       |bmr AS (
       |  SELECT cand_id, CAST(row_number() OVER (ORDER BY rk) AS BIGINT) AS bm_rank
       |  FROM (
       |    SELECT doc_id AS cand_id, rk FROM (
       |      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rk
       |      FROM bmagg)
       |    WHERE rk <= 21 AND doc_id <> 0)),
       |annr AS (
       |  SELECT cand_id,
       |    CAST(row_number() OVER (ORDER BY cos_sim DESC, cand_id ASC) AS BIGINT) AS ann_rank
       |  FROM (
       |    SELECT vec_id AS cand_id,
       |      round(${foldDot("v", "qe")} /
       |            (sqrt(${foldDot("v", "v")}) * sqrt(${foldDot("qe", "qe")})), 4) AS cos_sim
       |    FROM lshcand
       |    ORDER BY cos_sim DESC, vec_id ASC LIMIT 20))
       |SELECT cand_id, bm_rank, ann_rank, rrf FROM (
       |  SELECT coalesce(b.cand_id, a.cand_id) AS cand_id, b.bm_rank, a.ann_rank,
       |    round(coalesce(CAST(1.0 AS DOUBLE) / (60 + b.bm_rank), CAST(0 AS DOUBLE)) +
       |          coalesce(CAST(1.0 AS DOUBLE) / (60 + a.ann_rank), CAST(0 AS DOUBLE)), 6) AS rrf
       |  FROM bmr b FULL OUTER JOIN annr a ON b.cand_id = a.cand_id)
       |ORDER BY rrf DESC, cand_id ASC LIMIT 10""".stripMargin

  /** DuckDB replication of annIvf (nearest-centroid inverted file, 4-cell
    * probe, exact rerank). `list_position(l, list_aggregate(l, 'max'))`
    * reproduces Spark's first-tie 1-based `array_position(array_max)`. */
  private def annIvfOracleSql: String = {
    val centroidsList = centroids.flatten.mkString("[", ", ", "]")
    val dotList = (0 until NCells).map { j =>
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, 65), i -> CAST(v[i] AS DOUBLE) * c[${j * 64} + i])), (a, b) -> a + b)"
    }.mkString("[\n      ", ",\n      ", "]")
    s"""WITH cents AS (SELECT $centroidsList AS c),
       |dotted AS (
       |  SELECT vec_id, embedding AS v, $dotList AS dots
       |  FROM embeddings CROSS JOIN cents),
       |indexed AS (
       |  SELECT vec_id, v, list_position(dots, list_aggregate(dots, 'max')) AS cell, dots
       |  FROM dotted),
       |qcells AS (
       |  SELECT j AS cell FROM (
       |    SELECT generate_subscripts(dots, 1) AS j, unnest(dots) AS qd
       |    FROM indexed WHERE vec_id = 0)
       |  ORDER BY qd DESC, j ASC LIMIT $NProbe),
       |qe AS (SELECT v AS qv FROM indexed WHERE vec_id = 0)
       |SELECT vec_id,
       |  round(${foldDot("v", "qv")} /
       |        (sqrt(${foldDot("v", "v")}) * sqrt(${foldDot("qv", "qv")})), 4) AS cos_sim
       |FROM indexed JOIN qcells USING (cell) CROSS JOIN qe
       |WHERE vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin
  }

  /** Shared DuckDB replication of the nearest-centroid (IVF/k-means)
    * assignment: `cents` (the codebook literal) → `dotted` (16 fold-dots
    * per vector) → `indexed` (first-tie argmax cell). */
  private def ivfAssignCtes: String = {
    val centroidsList = centroids.flatten.mkString("[", ", ", "]")
    val dotList = (0 until NCells).map { j =>
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, 65), i -> CAST(v[i] AS DOUBLE) * c[${j * 64} + i])), (a, b) -> a + b)"
    }.mkString("[\n      ", ",\n      ", "]")
    s"""WITH cents AS (SELECT $centroidsList AS c),
       |dotted AS (
       |  SELECT vec_id, embedding AS v, $dotList AS dots
       |  FROM embeddings CROSS JOIN cents),
       |indexed AS (
       |  SELECT vec_id, v,
       |    CAST(list_position(dots, list_aggregate(dots, 'max')) AS BIGINT) AS cell
       |  FROM dotted)""".stripMargin
  }

  /** 8-dim fold dot for the PQ sub-vector oracle — same left-to-right
    * double accumulation contract as [[foldDot]] over range(1, 9). */
  private def foldDot8(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, ${SubDim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), " +
      s"(a, b) -> a + b)"

  /** Shared DuckDB replication of the PQ pipeline through the initial
    * assignment: `subcents` (flat [m][j][i] codebook literal + the 128
    * Scala-folded ‖c‖² literals) → `sv` (8 slices per vector) → `sx`
    * (+‖sv‖² fold) → `a0` (first-tie-lowest-code L2 argmin, expanded
    * three-term distance — the identical IEEE tree the Spark plan builds). */
  private def pqAssignCtes: String = {
    val centsList = graft.engine.functions.PqCodesInit.Flat.mkString("[", ", ", "]")
    val cnList = graft.engine.functions.PqCodesInit.Norm2.mkString("[", ", ", "]")
    val distList = (0 until NPqCodes).map { j =>
      val dxc = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, ${SubDim + 1}), " +
        s"i -> CAST(sv[i] AS DOUBLE) * c[(m*${NPqCodes}+${j})*${SubDim}+i])), (a, b) -> a + b)"
      s"sxx - CAST(2.0 AS DOUBLE) * $dxc + cn[m*${NPqCodes} + ${j + 1}]"
    }.mkString("[\n      ", ",\n      ", "]")
    s"""WITH subcents AS (SELECT $centsList AS c, $cnList AS cn),
       |sv AS (
       |  SELECT vec_id, m, list_slice(embedding, m*${SubDim}+1, m*${SubDim}+${SubDim}) AS sv
       |  FROM embeddings, range($NSub) t(m)),
       |sx AS (SELECT vec_id, m, sv, ${foldDot8("sv", "sv")} AS sxx FROM sv),
       |d0 AS (SELECT vec_id, m, sv, sxx, $distList AS dists FROM sx CROSS JOIN subcents),
       |a0 AS (
       |  SELECT vec_id, m, sv, sxx,
       |    CAST(list_position(dists, list_aggregate(dists, 'min')) AS BIGINT) AS code
       |  FROM d0)""".stripMargin
  }

  private def pqTrainOracleSql: String =
    s"""$pqAssignCtes,
       |expl AS (
       |  SELECT m AS subspace, code, generate_subscripts(sv, 1) AS dim,
       |    CAST(floor(CAST(unnest(sv) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
       |  FROM a0)
       |SELECT subspace, code, CAST(dim AS BIGINT) AS dim, count(*) AS n,
       |  CAST(sum(xq) AS BIGINT) AS sum_x1e6,
       |  CAST(floor(CAST(CAST(sum(xq) AS BIGINT) AS DOUBLE) / count(*)) AS BIGINT) AS mean_x1e6
       |FROM expl GROUP BY subspace, code, dim ORDER BY subspace, code, dim""".stripMargin

  /** Full ADC replication through the per-vector integer distance sums
    * (`adc`): train (the q_pq_train CTEs) → trained centroids (floored
    * means / 10⁶ — exact doubles) → encode every non-query vector
    * against the TRAINED codebook (row_number ≡ the struct-min
    * (dist, code) tie rule) → the query's integer ADC lookup table →
    * order-free integer sums. Shared by q_ann_pq and q_ann_pq_rerank. */
  /** CTE chain through the TRAINED sub-codebook (`ccn`: subspace, code,
    * centroid, ‖c‖²) — shared by the ADC oracles and q_pq_encode. */
  private def pqTrainedCbCtes: String =
    s"""$pqAssignCtes,
       |stats AS (
       |  SELECT subspace, code, dim, CAST(sum(xq) AS BIGINT) AS s, count(*) AS n
       |  FROM (
       |    SELECT m AS subspace, code, generate_subscripts(sv, 1) AS dim,
       |      CAST(floor(CAST(unnest(sv) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
       |    FROM a0)
       |  GROUP BY subspace, code, dim),
       |cbrow AS (
       |  SELECT subspace, code, dim,
       |    CAST(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS DOUBLE)
       |      / CAST(1000000.0 AS DOUBLE) AS cc
       |  FROM stats),
       |cb2 AS (SELECT subspace, code, list(cc ORDER BY dim) AS centroid
       |        FROM cbrow GROUP BY subspace, code),
       |ccn AS (SELECT subspace, code, centroid, ${foldDot8("centroid", "centroid")} AS cnn
       |        FROM cb2)""".stripMargin

  private def pqAdcCtes: String =
    s"""$pqTrainedCbCtes,
       |enc0 AS (
       |  SELECT s.vec_id, s.m AS subspace, t.code,
       |    s.sxx - CAST(2.0 AS DOUBLE) * ${foldDot8("s.sv", "t.centroid")} + t.cnn AS dist
       |  FROM sx s JOIN ccn t ON s.m = t.subspace
       |  WHERE s.vec_id <> 0),
       |enc AS (
       |  SELECT vec_id, subspace, code FROM (
       |    SELECT vec_id, subspace, code,
       |      row_number() OVER (PARTITION BY vec_id, subspace
       |                         ORDER BY dist ASC, code ASC) AS rn
       |    FROM enc0)
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT t.subspace, t.code,
       |    CAST(floor((s.sxx - CAST(2.0 AS DOUBLE) * ${foldDot8("s.sv", "t.centroid")} + t.cnn)
       |               * 1000000.0) AS BIGINT) AS term
       |  FROM sx s JOIN ccn t ON s.m = t.subspace
       |  WHERE s.vec_id = 0),
       |adc AS (
       |  SELECT vec_id, CAST(sum(term) AS BIGINT) AS adist
       |  FROM enc JOIN lut USING (subspace, code)
       |  GROUP BY vec_id)""".stripMargin

  private def annPqOracleSql: String =
    s"""$pqAdcCtes
       |SELECT vec_id, adist FROM adc
       |ORDER BY adist ASC, vec_id ASC
       |LIMIT 10""".stripMargin

  /** q_pq_train_iters (2 rounds): the trained-cb CTEs re-assign every
    * slice (row_number ≡ struct-min) and fold round-2 integer stats. */
  private def pqTrainItersOracleSql: String =
    s"""$pqTrainedCbCtes,
       |a1 AS (
       |  SELECT subspace, code, sv FROM (
       |    SELECT s.m AS subspace, t.code, s.sv,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY s.sxx - CAST(2.0 AS DOUBLE) * ${foldDot8("s.sv", "t.centroid")} + t.cnn ASC,
       |                 t.code ASC) AS rn
       |    FROM sx s JOIN ccn t ON s.m = t.subspace)
       |  WHERE rn = 1)
       |SELECT subspace, code, CAST(dim AS BIGINT) AS dim, count(*) AS n,
       |  CAST(sum(xq) AS BIGINT) AS sum_x1e6,
       |  CAST(floor(CAST(CAST(sum(xq) AS BIGINT) AS DOUBLE) / count(*)) AS BIGINT) AS mean_x1e6
       |FROM (
       |  SELECT subspace, code, generate_subscripts(sv, 1) AS dim,
       |    CAST(floor(CAST(unnest(sv) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
       |  FROM a1)
       |GROUP BY subspace, code, dim ORDER BY subspace, code, dim""".stripMargin

  /** q_pq_encode: the full corpus's code table against the trained
    * codebook — the artifact a vector store persists. Same trained-cb
    * CTEs, encode over EVERY vector (no query exclusion), ordered. */
  private def pqEncodeOracleSql: String =
    s"""$pqTrainedCbCtes,
       |encall0 AS (
       |  SELECT s.vec_id, s.m AS subspace, t.code,
       |    s.sxx - CAST(2.0 AS DOUBLE) * ${foldDot8("s.sv", "t.centroid")} + t.cnn AS dist
       |  FROM sx s JOIN ccn t ON s.m = t.subspace)
       |SELECT vec_id, subspace, code FROM (
       |  SELECT vec_id, subspace, code,
       |    row_number() OVER (PARTITION BY vec_id, subspace
       |                       ORDER BY dist ASC, code ASC) AS rn
       |  FROM encall0)
       |WHERE rn = 1
       |ORDER BY vec_id, subspace""".stripMargin

  /** q_ann_ivfpq: the PQ-ADC CTEs composed with the IVF coarse probe —
    * ADC is per-vector, so "probe cells then score" replays as the adc
    * table semi-joined to the probed-cell candidate set. The IVF CTEs
    * (cents/dotted/indexed) splice in with their WITH stripped. */
  private def annIvfPqOracleSql: String =
    s"""$pqAdcCtes,
       |${ivfAssignCtes.stripPrefix("WITH RECURSIVE ").stripPrefix("WITH ")},
       |qcells AS (
       |  SELECT j AS cell FROM (
       |    SELECT generate_subscripts(dots, 1) AS j, unnest(dots) AS qd
       |    FROM dotted WHERE vec_id = 0)
       |  ORDER BY qd DESC, j ASC LIMIT $NProbe),
       |ivfcands AS (
       |  SELECT i.vec_id FROM indexed i JOIN qcells q USING (cell)
       |  WHERE i.vec_id <> 0)
       |SELECT a.vec_id, a.adist FROM adc a JOIN ivfcands c ON a.vec_id = c.vec_id
       |ORDER BY a.adist ASC, a.vec_id ASC
       |LIMIT 10""".stripMargin

  /** q_ann_ivfpq_rerank: the ivfpq CTEs pruned to top-nCand by ADC,
    * then the exact fold-cosine rerank tail — the composed three-stage
    * production stack, value-oracled end-to-end. */
  private def annIvfPqRerankOracleSql: String =
    s"""$pqAdcCtes,
       |${ivfAssignCtes.stripPrefix("WITH RECURSIVE ").stripPrefix("WITH ")},
       |qcells AS (
       |  SELECT j AS cell FROM (
       |    SELECT generate_subscripts(dots, 1) AS j, unnest(dots) AS qd
       |    FROM dotted WHERE vec_id = 0)
       |  ORDER BY qd DESC, j ASC LIMIT $NProbe),
       |ivfcands AS (
       |  SELECT i.vec_id FROM indexed i JOIN qcells q USING (cell)
       |  WHERE i.vec_id <> 0),
       |pruned AS (
       |  SELECT a.vec_id, a.adist FROM adc a JOIN ivfcands c ON a.vec_id = c.vec_id
       |  ORDER BY a.adist ASC, a.vec_id ASC
       |  LIMIT 30),
       |qemb AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |rescored AS (
       |  SELECT p.vec_id, p.adist,
       |    round(${foldDot("v", "qv")} /
       |          (sqrt(${foldDot("v", "v")}) * sqrt(${foldDot("qv", "qv")})), 4) AS cos_sim
       |  FROM pruned p JOIN (SELECT vec_id, embedding AS v FROM embeddings) e
       |    ON p.vec_id = e.vec_id
       |  CROSS JOIN qemb)
       |SELECT rk, vec_id, cos_sim, adist FROM (
       |  SELECT vec_id, adist, cos_sim,
       |    CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rk
       |  FROM rescored)
       |WHERE rk <= 10 ORDER BY rk""".stripMargin

  /** q_ann_pq_rerank: the ADC top-nCand prune, then one exact
    * fold-cosine pass over just the candidates, ranked — the annRerank
    * composition on the quantized tier. */
  private def annPqRerankOracleSql: String =
    s"""$pqAdcCtes,
       |cand AS (
       |  SELECT vec_id, adist FROM adc
       |  ORDER BY adist ASC, vec_id ASC
       |  LIMIT 50),
       |qe AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |scored AS (
       |  SELECT c.vec_id, c.adist,
       |    round(${foldDot("v", "qv")} /
       |          (sqrt(${foldDot("v", "v")}) * sqrt(${foldDot("qv", "qv")})), 4) AS cos_sim
       |  FROM cand c JOIN (SELECT vec_id, embedding AS v FROM embeddings) e
       |    ON c.vec_id = e.vec_id
       |  CROSS JOIN qe)
       |SELECT rk, vec_id, cos_sim, adist FROM (
       |  SELECT vec_id, adist, cos_sim,
       |    CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rk
       |  FROM scored)
       |WHERE rk <= 10 ORDER BY rk""".stripMargin

  /** DuckDB replication of [[kmeansTrain]]: `iters` chained Lloyd
    * rounds — round 1 is the literal-centroid `indexed` assignment
    * (ivfAssignCtes), later rounds fold floored means into centroid
    * lists and re-assign with the row_number ≡ struct-max tie rule.
    * Stats and codebook CTEs are MATERIALIZED (each is read twice; the
    * recursive-CTE gotcha). */
  /** The shared CTE chain through `stats{iters}` — consumed by both the
    * q_kmeans_train oracle and the trained-IVF serve-path oracle. */
  private def kmeansTrainCtes(iters: Int): String = {
    def statsCte(name: String, src: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT cell, dim, count(*) AS n, CAST(sum(xq) AS BIGINT) AS s FROM (
         |    SELECT cell, generate_subscripts(v, 1) AS dim,
         |      CAST(floor(CAST(unnest(v) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
         |    FROM $src)
         |  GROUP BY cell, dim)""".stripMargin
    val rounds = (2 to iters).map { r =>
      s"""cb${r - 1} AS MATERIALIZED (
         |  SELECT cell, list(CAST(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS DOUBLE)
         |                    / CAST(1000000.0 AS DOUBLE) ORDER BY dim) AS centroid
         |  FROM stats${r - 1} GROUP BY cell),
         |a$r AS MATERIALIZED (
         |  SELECT vec_id, v, cell FROM (
         |    SELECT i.vec_id, i.v, c.cell,
         |      row_number() OVER (PARTITION BY i.vec_id
         |        ORDER BY ${foldDot("i.v", "c.centroid")} DESC, c.cell ASC) AS rn
         |    FROM indexed i CROSS JOIN cb${r - 1} c)
         |  WHERE rn = 1),
         |${statsCte(s"stats$r", s"a$r")}""".stripMargin
    }
    s"""$ivfAssignCtes,
       |${statsCte("stats1", "indexed")},
       |${rounds.mkString(",\n")}""".stripMargin
  }

  private def kmeansTrainOracleSql(iters: Int): String =
    s"""${kmeansTrainCtes(iters)}
       |SELECT cell, CAST(dim AS BIGINT) AS dim, n, s AS sum_x1e6,
       |  CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS mean_x1e6
       |FROM stats$iters ORDER BY cell, dim""".stripMargin

  /** q_ann_ivf_trained: the kmeansTrain codebook (means/10⁶) serves the
    * annIvfBroadcast probe — trained assignment + trained query cells +
    * exact fold-cosine, the row_number tie ≡ the struct-max (d, −cell). */
  private def annIvfTrainedOracleSql(iters: Int): String =
    s"""${kmeansTrainCtes(iters)},
       |cbT AS MATERIALIZED (
       |  SELECT cell, list(CAST(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS DOUBLE)
       |                    / CAST(1000000.0 AS DOUBLE) ORDER BY dim) AS centroid
       |  FROM stats$iters GROUP BY cell),
       |assignedT AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT i.vec_id, i.v, c.cell,
       |      row_number() OVER (PARTITION BY i.vec_id
       |        ORDER BY ${foldDot("i.v", "c.centroid")} DESC, c.cell ASC) AS rn
       |    FROM indexed i CROSS JOIN cbT c)
       |  WHERE rn = 1),
       |qcellsT AS (
       |  SELECT cell FROM (
       |    SELECT c.cell, ${foldDot("q.v", "c.centroid")} AS qdot
       |    FROM (SELECT v FROM indexed WHERE vec_id = 0) q CROSS JOIN cbT c)
       |  ORDER BY qdot DESC, cell ASC LIMIT $NProbe),
       |qeT AS (SELECT v AS qv FROM indexed WHERE vec_id = 0)
       |SELECT vec_id,
       |  round(${foldDot("v", "qv")} /
       |        (sqrt(${foldDot("v", "v")}) * sqrt(${foldDot("qv", "qv")})), 4) AS cos_sim
       |FROM assignedT JOIN qcellsT USING (cell) CROSS JOIN qeT
       |WHERE vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin

  /** q_cluster_prune: trained assignment (the annIvfTrained cbT replay
    * with the winning dot kept) + per-cell prototypicality rank under
    * the quota. */
  private def clusterPruneOracleSql(iters: Int, m: Int): String =
    s"""${kmeansTrainCtes(iters)},
       |cbT AS MATERIALIZED (
       |  SELECT cell, list(CAST(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS DOUBLE)
       |                    / CAST(1000000.0 AS DOUBLE) ORDER BY dim) AS centroid
       |  FROM stats$iters GROUP BY cell),
       |aT AS (
       |  SELECT vec_id, cell, d FROM (
       |    SELECT i.vec_id, c.cell, ${foldDot("i.v", "c.centroid")} AS d,
       |      row_number() OVER (PARTITION BY i.vec_id
       |        ORDER BY ${foldDot("i.v", "c.centroid")} DESC, c.cell ASC) AS rn
       |    FROM indexed i CROSS JOIN cbT c)
       |  WHERE rn = 1),
       |ranked AS (
       |  SELECT cell, vec_id, round(d, 4) AS proto_sim,
       |    row_number() OVER (PARTITION BY cell ORDER BY d DESC, vec_id ASC) AS rnk
       |  FROM aT)
       |SELECT cell, vec_id, proto_sim, rnk FROM ranked
       |WHERE rnk <= $m ORDER BY cell, rnk""".stripMargin

  /** q_ann_ivfpq_trained: the PQ-ADC CTEs composed with the TRAINED
    * coarse probe (the kmeansTrain CTE chain folded into `cbT`, the
    * annIvfTrained assignment/probe replay) — the fully-trained
    * three-stage stack, value-oracled end to end. `iters` must be 2
    * here: the kmeans round CTEs are named `cb{r-1}` and the PQ chain
    * already owns `cb2`, so a third Lloyd round would collide. */
  private def annIvfPqRerankTrainedOracleSql(iters: Int, nCand: Int, k: Int): String = {
    require(iters == 2, "CTE names collide past iters=2 (cb2 is the PQ sub-codebook)")
    s"""$pqAdcCtes,
       |${kmeansTrainCtes(iters).stripPrefix("WITH RECURSIVE ").stripPrefix("WITH ")},
       |cbT AS MATERIALIZED (
       |  SELECT cell, list(CAST(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS DOUBLE)
       |                    / CAST(1000000.0 AS DOUBLE) ORDER BY dim) AS centroid
       |  FROM stats$iters GROUP BY cell),
       |assignedT AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT i.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY i.vec_id
       |        ORDER BY ${foldDot("i.v", "c.centroid")} DESC, c.cell ASC) AS rn
       |    FROM indexed i CROSS JOIN cbT c)
       |  WHERE rn = 1),
       |qcellsT AS (
       |  SELECT cell FROM (
       |    SELECT c.cell, ${foldDot("q.v", "c.centroid")} AS qdot
       |    FROM (SELECT v FROM indexed WHERE vec_id = 0) q CROSS JOIN cbT c)
       |  ORDER BY qdot DESC, cell ASC LIMIT $NProbe),
       |candsT AS (
       |  SELECT vec_id FROM assignedT JOIN qcellsT USING (cell) WHERE vec_id <> 0),
       |prunedT AS (
       |  SELECT a.vec_id, a.adist FROM adc a JOIN candsT c ON a.vec_id = c.vec_id
       |  ORDER BY a.adist ASC, a.vec_id ASC LIMIT $nCand),
       |qembT AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |rescoredT AS (
       |  SELECT p.vec_id, p.adist,
       |    round(${foldDot("v", "qv")} /
       |          (sqrt(${foldDot("v", "v")}) * sqrt(${foldDot("qv", "qv")})), 4) AS cos_sim
       |  FROM prunedT p JOIN (SELECT vec_id, embedding AS v FROM embeddings) e
       |    ON p.vec_id = e.vec_id
       |  CROSS JOIN qembT)
       |SELECT rk, vec_id, cos_sim, adist FROM (
       |  SELECT vec_id, adist, cos_sim,
       |    CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rk
       |  FROM rescoredT)
       |WHERE rk <= $k ORDER BY rk""".stripMargin
  }

  /** DuckDB replication of [[mmrSelect]]: candidate + pairwise-sim CTEs
    * (floored scaled cosines — identical IEEE trees), then k chained
    * greedy argmax rounds, every CTE MATERIALIZED (each feeds both the
    * next round's NOT-IN and its max-sim join). */
  private def mmrOracleSql(nCand: Int, k: Int): String = {
    def scaledCos(a: String, b: String): String =
      s"CAST(floor(CAST(1000000.0 AS DOUBLE) * (${foldDot(a, b)} / " +
        s"(sqrt(${foldDot(a, a)}) * sqrt(${foldDot(b, b)})))) AS BIGINT)"
    val rounds = (2 to k).map { r =>
      s"""sel$r AS MATERIALIZED (
         |  SELECT CAST($r AS BIGINT) AS rk, t.vec_id, t.rel,
         |    CAST(5*t.rel - 3*coalesce(t.mx, 0) AS BIGINT) AS mmr
         |  FROM (
         |    SELECT c.vec_id, c.rel, max(s.sim) AS mx
         |    FROM cands c
         |    LEFT JOIN (SELECT si.a, si.sim FROM sims si
         |               JOIN selu${r - 1} u ON si.b = u.vec_id) s
         |      ON s.a = c.vec_id
         |    WHERE c.vec_id NOT IN (SELECT vec_id FROM selu${r - 1})
         |    GROUP BY c.vec_id, c.rel) t
         |  ORDER BY mmr DESC, t.vec_id ASC LIMIT 1),
         |selu$r AS MATERIALIZED (
         |  SELECT rk, vec_id, rel, mmr FROM selu${r - 1}
         |  UNION ALL SELECT rk, vec_id, rel, mmr FROM sel$r)""".stripMargin
    }
    s"""WITH qe AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |cands AS MATERIALIZED (
       |  SELECT vec_id, embedding AS v, ${scaledCos("embedding", "qv")} AS rel
       |  FROM embeddings CROSS JOIN qe
       |  WHERE vec_id <> 0
       |  ORDER BY rel DESC, vec_id ASC LIMIT $nCand),
       |sims AS MATERIALIZED (
       |  SELECT x.vec_id AS a, y.vec_id AS b, ${scaledCos("x.v", "y.v")} AS sim
       |  FROM cands x JOIN cands y ON x.vec_id <> y.vec_id),
       |sel1 AS MATERIALIZED (
       |  SELECT CAST(1 AS BIGINT) AS rk, vec_id, rel, CAST(5*rel AS BIGINT) AS mmr
       |  FROM cands ORDER BY 5*rel DESC, vec_id ASC LIMIT 1),
       |selu1 AS MATERIALIZED (SELECT rk, vec_id, rel, mmr FROM sel1),
       |${rounds.mkString(",\n")}
       |SELECT rk, vec_id, rel, mmr FROM selu$k ORDER BY rk""".stripMargin
  }

  private def kmeansStepOracleSql: String =
    s"""$ivfAssignCtes,
       |expl AS (
       |  SELECT cell, generate_subscripts(v, 1) AS dim,
       |    CAST(floor(CAST(unnest(v) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
       |  FROM indexed)
       |SELECT cell, CAST(dim AS BIGINT) AS dim, count(*) AS n,
       |  CAST(sum(xq) AS BIGINT) AS sum_x1e6,
       |  CAST(floor(CAST(CAST(sum(xq) AS BIGINT) AS DOUBLE) / count(*)) AS BIGINT) AS mean_x1e6
       |FROM expl GROUP BY cell, dim ORDER BY cell, dim""".stripMargin

  private def semanticDedupOracleSql: String =
    s"""$ivfAssignCtes,
       |withnorm AS (
       |  SELECT vec_id, v, cell, sqrt(${foldDot("v", "v")}) AS nrm FROM indexed)
       |SELECT cell, vec_id_1, vec_id_2, cos_sim FROM (
       |  SELECT x.cell AS cell, x.vec_id AS vec_id_1, y.vec_id AS vec_id_2,
       |    round(${foldDot("x.v", "y.v")} / (x.nrm * y.nrm), 4) AS cos_sim
       |  FROM withnorm x JOIN withnorm y ON x.cell = y.cell AND x.vec_id < y.vec_id)
       |WHERE cos_sim >= 0.35
       |ORDER BY cell, vec_id_1, vec_id_2""".stripMargin

  /** q_semantic_dedup_trained: the kmeansTrain codebook (the annIvfTrained
    * cbT replay) assigns cells, then the same within-cell verify as the
    * literal-codebook oracle — the production SemDeDup loop, value-oracled
    * end to end. */
  private def semanticDedupTrainedOracleSql(iters: Int): String =
    s"""${kmeansTrainCtes(iters)},
       |cbT AS MATERIALIZED (
       |  SELECT cell, list(CAST(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS DOUBLE)
       |                    / CAST(1000000.0 AS DOUBLE) ORDER BY dim) AS centroid
       |  FROM stats$iters GROUP BY cell),
       |assignedT AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT i.vec_id, i.v, c.cell,
       |      row_number() OVER (PARTITION BY i.vec_id
       |        ORDER BY ${foldDot("i.v", "c.centroid")} DESC, c.cell ASC) AS rn
       |    FROM indexed i CROSS JOIN cbT c)
       |  WHERE rn = 1),
       |wnT AS (
       |  SELECT vec_id, v, cell, sqrt(${foldDot("v", "v")}) AS nrm FROM assignedT)
       |SELECT cell, vec_id_1, vec_id_2, cos_sim FROM (
       |  SELECT x.cell AS cell, x.vec_id AS vec_id_1, y.vec_id AS vec_id_2,
       |    round(${foldDot("x.v", "y.v")} / (x.nrm * y.nrm), 4) AS cos_sim
       |  FROM wnT x JOIN wnT y ON x.cell = y.cell AND x.vec_id < y.vec_id)
       |WHERE cos_sim >= 0.35
       |ORDER BY cell, vec_id_1, vec_id_2""".stripMargin

  /** q_cluster_balance: the trained assignment replay + per-cell counts
    * against the scalar total. */
  private def clusterBalanceOracleSql(iters: Int): String =
    s"""${kmeansTrainCtes(iters)},
       |cbT AS MATERIALIZED (
       |  SELECT cell, list(CAST(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS DOUBLE)
       |                    / CAST(1000000.0 AS DOUBLE) ORDER BY dim) AS centroid
       |  FROM stats$iters GROUP BY cell),
       |assignedT AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT i.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY i.vec_id
       |        ORDER BY ${foldDot("i.v", "c.centroid")} DESC, c.cell ASC) AS rn
       |    FROM indexed i CROSS JOIN cbT c)
       |  WHERE rn = 1)
       |SELECT cell, count(*) AS n_members,
       |  10000 * count(*) // (SELECT count(*) FROM assignedT) AS share_bp
       |FROM assignedT GROUP BY cell ORDER BY cell""".stripMargin

  val oracle: Map[String, String] = Map(
    // int8 scalar quantization: identical IEEE double sequence — cast,
    // per-dim min/max, (x−mn)/(mx−mn)·255, floor — so codes hash-match
    "q_embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |stats AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM e GROUP BY dim)
        |SELECT vec_id, CAST(dim AS BIGINT) AS dim,
        |  CASE WHEN mx = mn THEN 0
        |       ELSE CAST(floor((x - mn) / (mx - mn) * 255.0) AS BIGINT) - 128
        |  END AS code
        |FROM e JOIN stats USING (dim)
        |ORDER BY vec_id, dim""".stripMargin,
    // integer MIPS over the same quantization CTE — exact end to end
    "q_ann_quantized" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |stats AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM e GROUP BY dim),
        |codes AS (
        |  SELECT vec_id, dim,
        |    CASE WHEN mx = mn THEN 0
        |         ELSE CAST(floor((x - mn) / (mx - mn) * 255.0) AS BIGINT) - 128
        |    END AS code
        |  FROM e JOIN stats USING (dim)),
        |q AS (SELECT dim, code AS qcode FROM codes WHERE vec_id = 0)
        |SELECT vec_id, CAST(sum(code * qcode) AS BIGINT) AS dot
        |FROM codes JOIN q USING (dim)
        |WHERE vec_id <> 0
        |GROUP BY vec_id
        |ORDER BY dot DESC, vec_id ASC
        |LIMIT 10""".stripMargin,
    "q_dedup_embedding" -> embeddingOracleSql,
    "q_kmeans_step" -> kmeansStepOracleSql,
    "q_kmeans_train" -> kmeansTrainOracleSql(3),
    "q_ann_ivf_trained" -> annIvfTrainedOracleSql(3),
    "q_semantic_dedup_trained" -> semanticDedupTrainedOracleSql(3),
    "q_cluster_balance" -> clusterBalanceOracleSql(3),
    // per-dim floored scaled sums then floored means — the kmeansTrain
    // integer discipline, per cohort
    "q_embedding_drift" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |ma AS (SELECT CAST(dim AS BIGINT) AS dim,
        |         CAST(floor(CAST(CAST(sum(CAST(floor(x * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
        |              / count(*)) AS BIGINT) AS mean_a
        |       FROM e WHERE vec_id % 2 = 0 GROUP BY dim),
        |mb AS (SELECT CAST(dim AS BIGINT) AS dim,
        |         CAST(floor(CAST(CAST(sum(CAST(floor(x * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
        |              / count(*)) AS BIGINT) AS mean_b
        |       FROM e WHERE vec_id % 2 = 1 GROUP BY dim)
        |SELECT dim, mean_a, mean_b, abs(mean_a - mean_b) AS drift_x1e6
        |FROM ma JOIN mb USING (dim) ORDER BY dim""".stripMargin,
    "q_cluster_prune" -> clusterPruneOracleSql(3, 16),
    "q_pq_train" -> pqTrainOracleSql,
    "q_pq_train_iters" -> pqTrainItersOracleSql,
    "q_pq_encode" -> pqEncodeOracleSql,
    "q_ann_pq" -> annPqOracleSql,
    "q_ann_pq_rerank" -> annPqRerankOracleSql,
    "q_ann_ivfpq" -> annIvfPqOracleSql,
    "q_ann_ivfpq_rerank" -> annIvfPqRerankOracleSql,
    "q_ann_ivfpq_trained" -> annIvfPqRerankTrainedOracleSql(2, 30, 10),
    "q_mmr_diverse" -> mmrOracleSql(20, 5),
    "q_semantic_dedup" -> semanticDedupOracleSql,
    // the semantic pair CTEs + the same recursive min-label walk the
    // text-dedup cluster oracle runs; MATERIALIZED is load-bearing on
    // edges (an inlined list re-runs the pair join per iteration)
    "q_semantic_clusters" ->
      s"""WITH RECURSIVE ${ivfAssignCtes.stripPrefix("WITH ")},
         |withnorm AS (
         |  SELECT vec_id, v, cell, sqrt(${foldDot("v", "v")}) AS nrm FROM indexed),
         |sem_pairs AS MATERIALIZED (
         |  SELECT x.vec_id AS a, y.vec_id AS b
         |  FROM withnorm x JOIN withnorm y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  WHERE round(${foldDot("x.v", "y.v")} / (x.nrm * y.nrm), 4) >= 0.35),
         |edges AS MATERIALIZED (
         |  SELECT a, b FROM sem_pairs UNION SELECT b, a FROM sem_pairs),
         |walk AS (
         |  SELECT vec_id AS id, vec_id AS lab FROM embeddings
         |  UNION
         |  SELECT e.a AS id, w.lab FROM edges e JOIN walk w ON w.id = e.b)
         |SELECT id, min(lab) AS cluster FROM walk GROUP BY id ORDER BY id""".stripMargin,
    "q_ann_lsh" -> annLshOracleSql,
    "q_ann_multiprobe" -> annLshMultiprobeOracleSql,
    "q_hybrid_rerank" -> hybridRerankOracleSql,
    "q_rank_fusion" -> rankFusionOracleSql,
    "q_ann_ivf" -> annIvfOracleSql,
    // the broadcast-codebook variant is output-identical by construction,
    // so it shares the literal path's oracle verbatim
    "q_ann_ivf_bcast" -> annIvfOracleSql,
    "q_ann_rerank" -> annRerankOracleSql,
    "q_ann_recall" -> annRecallOracleSql,
    "q_retrieval_mrr" -> retrievalMrrOracleSql,

    // Full replication of the SimHash pipeline: same 62-bit double-poly
    // token hashes (poly_hash62) with the same per-half Knuth mixes
    // (tokenHash64), per-bit majority vote via a range(64) cross join,
    // 16-bit pigeonhole chunk blocking, popcount verification.
    "q_dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_transform(
        |      list_transform(string_split(text, ' '),
        |        tok -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                 list_transform(string_split(tok, ''), c -> CAST(unicode(c) AS BIGINT))),
        |               (a, b) -> (a * 31 + b) % 2147483647) * 2147483648
        |             + list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                 list_transform(string_split(tok, ''), c -> CAST(unicode(c) AS BIGINT))),
        |               (a, b) -> (a * 37 + b) % 2147483647)),
        |      h -> ((h // 2147483648) * 2654435761) % 2147483648 * 4294967296
        |         + ((h % 2147483648) * 2246822519) % 4294967296) AS hs
        |  FROM documents),
        |bits AS (
        |  SELECT doc_id, p, sum((h >> CAST(p AS INT)) & 1) AS ones, count(*) AS n
        |  FROM (SELECT doc_id, unnest(hs) AS h FROM toks), range(64) t(p)
        |  GROUP BY doc_id, p),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN 2 * ones > n
        |             THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits WHERE p < 63 GROUP BY doc_id),
        |chunks AS (
        |  SELECT doc_id, simhash, k AS chunk,
        |    (simhash >> CAST(k * 16 AS INT)) & 65535 AS ckey
        |  FROM sig, range(4) t(k)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2,
        |    x.simhash AS h1, y.simhash AS h2
        |  FROM chunks x JOIN chunks y
        |    ON x.chunk = y.chunk AND x.ckey = y.ckey AND x.doc_id < y.doc_id)
        |SELECT doc_id_1, doc_id_2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(h1, h2)) <= 3
        |ORDER BY doc_id_1, doc_id_2""".stripMargin,

    // Full replication of the MinHash-LSH pipeline in DuckDB SQL — same
    // poly_hash62 token hashes (double fold over code points), same
    // affine permutation constants (MinHashSignature seed 7, applied to
    // the hash reduced mod 2³¹−1 exactly as the native expression does),
    // same fold band keys, same exact-jaccard verification and pair
    // expansion (the shared minhashOracleCtes above). Every intermediate is exact
    // integer arithmetic, so the verified pair set is bit-identical by
    // construction, not probabilistically.
    // estimator audit over the SAME generated chain: signature
    // coordinate agreement (m0..m15 equality) vs the exact overlap,
    // integer bp both sides
    "q_lsh_scurve" -> lshSCurveOracleSql(Seq((2, 8), (2, 16), (4, 8))),

    "q_minhash_estimate" -> (minhashOracleCtes + s""",
        |estp AS (
        |  SELECT c.r1, c.r2,
        |    CAST(len(list_intersect(a.hsh, b.hsh)) AS BIGINT) AS inter,
        |    CAST(len(a.hsh) AS BIGINT) AS na, CAST(len(b.hsh) AS BIGINT) AS nb,
        |    CAST(${(0 until 16).map(i => s"CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END").mkString(" + ")} AS BIGINT) AS nmatch
        |  FROM cand c
        |    JOIN grps a ON a.rep = c.r1 JOIN grps b ON b.rep = c.r2
        |    JOIN sig x ON x.rep = c.r1 JOIN sig y ON y.rep = c.r2)
        |SELECT rep_1, rep_2, exact_bp, est_bp, abs(exact_bp - est_bp) AS err_bp FROM (
        |  SELECT r1 AS rep_1, r2 AS rep_2,
        |    (10000 * inter) // (na + nb - inter) AS exact_bp,
        |    (10000 * nmatch) // 16 AS est_bp,
        |    round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jac
        |  FROM estp)
        |WHERE jac >= 0.9
        |ORDER BY rep_1, rep_2""".stripMargin),

    "q_dedup_minhash" -> (minhashOracleCtes +
      """
        |SELECT doc_id_1, doc_id_2, jaccard FROM cross_pairs
        |UNION ALL
        |SELECT doc_id_1, doc_id_2, jaccard FROM within_pairs
        |ORDER BY doc_id_1, doc_id_2""".stripMargin),
    // the audit oracle extends the SAME minhash CTE chain with the
    // exact all-pairs truth over the docs CTE's hash sets, then a full
    // outer confusion count — pure BIGINT aside from the round(·,4)
    // jaccard both engines already hash-match on
    "q_dedup_eval" -> (minhashOracleCtes +
      """,
        |found AS (
        |  SELECT doc_id_1, doc_id_2 FROM cross_pairs
        |  UNION ALL SELECT doc_id_1, doc_id_2 FROM within_pairs),
        |truth AS (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
        |  FROM docs a JOIN docs b ON a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.hsh, b.hsh)) AS DOUBLE) /
        |        (len(a.hsh) + len(b.hsh) - len(list_intersect(a.hsh, b.hsh))), 4) >= 0.9),
        |conf AS (
        |  SELECT CAST(count(*) FILTER (t.doc_id_1 IS NOT NULL AND f.doc_id_1 IS NOT NULL) AS BIGINT) AS n_tp,
        |         CAST(count(*) FILTER (t.doc_id_1 IS NULL) AS BIGINT) AS n_fp,
        |         CAST(count(*) FILTER (f.doc_id_1 IS NULL) AS BIGINT) AS n_fn
        |  FROM truth t FULL OUTER JOIN found f
        |    ON t.doc_id_1 = f.doc_id_1 AND t.doc_id_2 = f.doc_id_2)
        |SELECT n_tp + n_fn AS n_truth, n_tp + n_fp AS n_found, n_tp, n_fp, n_fn,
        |  10000 * n_tp // (n_tp + n_fp) AS precision_bp,
        |  10000 * n_tp // (n_tp + n_fn) AS recall_bp
        |FROM conf""".stripMargin),
    // the SAME confusion tail as q_dedup_eval over the deterministic
    // keyMix 25% sample (the exact keyBucket arithmetic q_sample_hash
    // oracles) — the quadratic truth shrinks by pct², nothing else moves
    "q_dedup_eval_sampled" -> (minhashOracleCtesFor(
      s"WHERE ${TextPipeline.keyBucketSql("doc_id")} < 25") +
      """,
        |found AS (
        |  SELECT doc_id_1, doc_id_2 FROM cross_pairs
        |  UNION ALL SELECT doc_id_1, doc_id_2 FROM within_pairs),
        |truth AS (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
        |  FROM docs a JOIN docs b ON a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.hsh, b.hsh)) AS DOUBLE) /
        |        (len(a.hsh) + len(b.hsh) - len(list_intersect(a.hsh, b.hsh))), 4) >= 0.9),
        |conf AS (
        |  SELECT CAST(count(*) FILTER (t.doc_id_1 IS NOT NULL AND f.doc_id_1 IS NOT NULL) AS BIGINT) AS n_tp,
        |         CAST(count(*) FILTER (t.doc_id_1 IS NULL) AS BIGINT) AS n_fp,
        |         CAST(count(*) FILTER (f.doc_id_1 IS NULL) AS BIGINT) AS n_fn
        |  FROM truth t FULL OUTER JOIN found f
        |    ON t.doc_id_1 = f.doc_id_1 AND t.doc_id_2 = f.doc_id_2),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_sample FROM docs)
        |SELECT n_docs_sample, n_tp + n_fn AS n_truth, n_tp + n_fp AS n_found,
        |  n_tp, n_fp, n_fn,
        |  10000 * n_tp // (n_tp + n_fp) AS precision_bp,
        |  10000 * n_tp // (n_tp + n_fn) AS recall_bp
        |FROM conf, n""".stripMargin),
    // one scored pair table (candidates un-gated down to the ladder
    // minimum), four re-gates — the same sweep the operator runs
    "q_dedup_eval_sweep" -> (minhashOracleCtesFor("") + {
      def rung(pct: Int): String = {
        val t = pct / 100.0
        s"""SELECT CAST($pct AS BIGINT) AS threshold_pct,
           |  n_tp + n_fn AS n_truth, n_tp + n_fp AS n_found, n_tp, n_fp, n_fn,
           |  CASE WHEN n_tp + n_fp = 0 THEN NULL
           |       ELSE 10000 * n_tp // (n_tp + n_fp) END AS precision_bp,
           |  CASE WHEN n_tp + n_fn = 0 THEN NULL
           |       ELSE 10000 * n_tp // (n_tp + n_fn) END AS recall_bp
           |FROM (
           |  SELECT CAST(count(*) FILTER (tj >= $t AND fj >= $t) AS BIGINT) AS n_tp,
           |         CAST(count(*) FILTER ((tj IS NULL OR tj < $t) AND fj >= $t) AS BIGINT) AS n_fp,
           |         CAST(count(*) FILTER (tj >= $t AND (fj IS NULL OR fj < $t)) AS BIGINT) AS n_fn
           |  FROM jj)""".stripMargin
      }
      s""",
         |found_scored AS MATERIALIZED (
         |  SELECT least(ta.a, tb.b) AS doc_id_1, greatest(ta.a, tb.b) AS doc_id_2, jaccard
         |  FROM ver, unnest(ma) AS ta(a), unnest(mb) AS tb(b)
         |  WHERE jaccard >= 0.8
         |  UNION ALL
         |  SELECT ta.a, tb.b, CAST(1.0 AS DOUBLE)
         |  FROM (SELECT members FROM grps WHERE len(members) > 1) g,
         |       unnest(g.members) AS ta(a), unnest(g.members) AS tb(b)
         |  WHERE ta.a < tb.b),
         |truth_scored AS MATERIALIZED (
         |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |    round(CAST(len(list_intersect(a.hsh, b.hsh)) AS DOUBLE) /
         |          (len(a.hsh) + len(b.hsh) - len(list_intersect(a.hsh, b.hsh))), 4) AS jaccard
         |  FROM docs a JOIN docs b ON a.doc_id < b.doc_id
         |  WHERE round(CAST(len(list_intersect(a.hsh, b.hsh)) AS DOUBLE) /
         |        (len(a.hsh) + len(b.hsh) - len(list_intersect(a.hsh, b.hsh))), 4) >= 0.8),
         |jj AS MATERIALIZED (
         |  SELECT t.jaccard AS tj, f.jaccard AS fj
         |  FROM truth_scored t FULL OUTER JOIN found_scored f
         |    ON t.doc_id_1 = f.doc_id_1 AND t.doc_id_2 = f.doc_id_2)
         |${Seq(80, 85, 90, 95).map(rung).mkString("\nUNION ALL\n")}
         |ORDER BY threshold_pct""".stripMargin
    }),
    // the k=32 / 4×8 point replays the generated-constant pipeline at
    // its own parameterization — every intermediate still exact integers
    "q_dedup_minhash_k32" -> (minhashOracleCtesFor("", 32, 4, 8) +
      """
        |SELECT doc_id_1, doc_id_2, jaccard FROM cross_pairs
        |UNION ALL
        |SELECT doc_id_1, doc_id_2, jaccard FROM within_pairs
        |ORDER BY doc_id_1, doc_id_2""".stripMargin),
    "q_dedup_incremental" -> minhashIncrementalOracleSql(
      "WHERE doc_id < 250", "WHERE doc_id >= 250", 0.9),
    // the maintenance contract IS the oracle: the merged index must
    // equal the union corpus's index built from scratch
    "q_index_merge" -> minhashUnionIndexOracleSql(),
    // salt must not change a single pair — identical oracle replay
    "q_dedup_incremental_salted" -> minhashIncrementalOracleSql(
      "WHERE doc_id < 250", "WHERE doc_id >= 250", 0.9),
    // salt must not change a single pair — the salted binding replays
    // the identical unsalted oracle
    "q_dedup_minhash_salted" -> (minhashOracleCtes +
      """
        |SELECT doc_id_1, doc_id_2, jaccard FROM cross_pairs
        |UNION ALL
        |SELECT doc_id_1, doc_id_2, jaccard FROM within_pairs
        |ORDER BY doc_id_1, doc_id_2""".stripMargin),
    "q_sim_cosine" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |p AS (SELECT e.vec_id,
        |        CAST(unnest(e.embedding) AS DOUBLE) AS x,
        |        CAST(unnest(q.qe) AS DOUBLE) AS y
        |      FROM embeddings e, q WHERE e.vec_id <> 0),
        |s AS (SELECT vec_id, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
        |      FROM p GROUP BY vec_id)
        |SELECT vec_id, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos_sim
        |FROM s ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin,

    "q_ann_matryoshka" -> annMatryoshkaOracleSql,

    "q_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qe
        |           FROM embeddings WHERE vec_id IN (1, 2, 3)),
        |p AS (SELECT q.q_id, e.vec_id, e.label,
        |        CAST(unnest(e.embedding) AS DOUBLE) AS x,
        |        CAST(unnest(q.qe) AS DOUBLE) AS y
        |      FROM embeddings e, q
        |      WHERE e.vec_id <> q.q_id AND e.label <> q.q_label),
        |s AS (SELECT q_id, vec_id, label,
        |        sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
        |      FROM p GROUP BY q_id, vec_id, label),
        |r AS (SELECT q_id, vec_id, label,
        |        round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos_sim FROM s)
        |SELECT q_id, vec_id, label, cos_sim, rk FROM (
        |  SELECT q_id, vec_id, label, cos_sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rk
        |  FROM r)
        |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    "q_sim_knn" -> simKnnOracleSql,

    // the knn oracle's unnest-zip cosine with language sides from the
    // id-equi-join; rank and margin both read the ROUNDED cosine so the
    // runner-up subtraction happens on identical doubles in both engines
    "q_bitext_mine" ->
      """WITH l AS (
        |  SELECT e.vec_id, d.lang, e.embedding
        |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
        |p AS (SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
        |        CAST(unnest(t.embedding) AS DOUBLE) AS x,
        |        CAST(unnest(s.embedding) AS DOUBLE) AS y
        |      FROM l s, l t WHERE s.lang = 'de' AND t.lang = 'en'),
        |s AS (SELECT src_id, tgt_id, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
        |      FROM p GROUP BY src_id, tgt_id),
        |r AS (SELECT src_id, tgt_id, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos_sim FROM s),
        |k AS (SELECT src_id, tgt_id, cos_sim,
        |        row_number() OVER (PARTITION BY src_id ORDER BY cos_sim DESC, tgt_id ASC) AS rk
        |      FROM r)
        |SELECT a.src_id, a.tgt_id, a.cos_sim, a.cos_sim - b.cos_sim AS margin
        |FROM k a JOIN k b ON a.src_id = b.src_id AND a.rk = 1 AND b.rk = 2
        |ORDER BY a.src_id""".stripMargin,

    // NCM: quantized class means (the kmeansTrain floored-mean rule),
    // ordered-fold dots, row_number tie ≡ the struct-max (d, −label)
    "q_ncm_eval" ->
      s"""WITH e AS (SELECT vec_id, embedding, CAST(label AS BIGINT) AS label FROM embeddings),
        |st AS MATERIALIZED (
        |  SELECT label, dim, count(*) AS n, CAST(sum(xq) AS BIGINT) AS s FROM (
        |    SELECT label, generate_subscripts(embedding, 1) AS dim,
        |      CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
        |    FROM e) GROUP BY label, dim),
        |pr AS MATERIALIZED (
        |  SELECT label AS proto_label,
        |    list(CAST(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS DOUBLE)
        |         / CAST(1000000.0 AS DOUBLE) ORDER BY dim) AS proto
        |  FROM st GROUP BY label),
        |asg AS (
        |  SELECT label, pred FROM (
        |    SELECT e.label, p.proto_label AS pred,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${foldDot("e.embedding", "p.proto")} DESC, p.proto_label ASC) AS rn
        |    FROM e CROSS JOIN pr p)
        |  WHERE rn = 1)
        |SELECT label, count(*) AS n,
        |  count(CASE WHEN pred = label THEN 1 END) AS n_correct,
        |  10000 * count(CASE WHEN pred = label THEN 1 END) // count(*) AS accuracy_bp
        |FROM asg GROUP BY label ORDER BY label""".stripMargin,

    // band-health audit over the SAME generated docs→grps→sig→banded
    // chain every minhash oracle replays; the unused pair CTEs the
    // generator appends are never referenced, so DuckDB never runs them
    "q_lsh_band_stats" -> (minhashOracleCtes +
      """,
        |pops AS (SELECT band, bkey, CAST(count(*) AS BIGINT) AS pop
        |         FROM banded GROUP BY band, bkey)
        |SELECT band, CAST(sum(pop) AS BIGINT) AS n_reps,
        |  count(*) AS n_buckets, max(pop) AS max_pop,
        |  CAST(sum(CASE WHEN pop >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS hot_buckets,
        |  CAST(sum((pop * (pop - 1)) // 2) AS BIGINT) AS cand_pairs
        |FROM pops GROUP BY band ORDER BY band""".stripMargin),

    "q_sim_pairs_topk" ->
      """WITH p AS (SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
        |        CAST(unnest(a.embedding) AS DOUBLE) AS x,
        |        CAST(unnest(b.embedding) AS DOUBLE) AS y
        |      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
        |s AS (SELECT vec_id_1, vec_id_2, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
        |      FROM p GROUP BY vec_id_1, vec_id_2)
        |SELECT vec_id_1, vec_id_2, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos_sim
        |FROM s ORDER BY cos_sim DESC, vec_id_1 ASC, vec_id_2 ASC LIMIT 20""".stripMargin,

    // the q_sim_pairs_topk truth restricted to the deterministic keyMix
    // 25% carve (same two-step 16-bit-halves arithmetic as q_sample_hash)
    "q_sim_pairs_topk_sampled" ->
      s"""WITH sv AS (SELECT vec_id, embedding FROM embeddings
        |      WHERE ${TextPipeline.keyBucketSql("vec_id")} < 25),
        |p AS (SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
        |        CAST(unnest(a.embedding) AS DOUBLE) AS x,
        |        CAST(unnest(b.embedding) AS DOUBLE) AS y
        |      FROM sv a JOIN sv b ON a.vec_id < b.vec_id),
        |s AS (SELECT vec_id_1, vec_id_2, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
        |      FROM p GROUP BY vec_id_1, vec_id_2)
        |SELECT vec_id_1, vec_id_2, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos_sim
        |FROM s ORDER BY cos_sim DESC, vec_id_1 ASC, vec_id_2 ASC LIMIT 20""".stripMargin,
  )
}
