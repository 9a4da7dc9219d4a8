package graft.engine.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._
import graft.engine.io.Tables

/** The session-shared artifacts: intermediates that several query
  * bindings consume, built once per (session, sfDir) and handed to every
  * consumer — the way a real pipeline materializes a pair graph or a
  * trained model once and serves many queries from it. Each artifact is
  * declared once below, under one name that is both its registry key and
  * its Bench label; declaration order is dependency order, so forcing
  * them in order (`graft.Bench`, via [[TextPipeline.sharedArtifactBuilders]])
  * charges each build only its own incremental cost.
  *
  * One map holds every entry, keyed by (session, sfDir, name). The
  * session is held strongly: a memoized DataFrame references its session
  * through its lineage anyway, so the one eviction that can work is the
  * sweep every lookup runs first — entries whose SparkContext is stopped
  * are dropped and their persisted blocks released, so long-lived JVMs
  * (the test runner) don't accumulate dead cached plans across sessions.
  * One persist rule: a DataFrame value is persisted MEMORY_AND_DISK;
  * tuple values ([[twins]], [[bpeChain]]) are stored as built, because
  * their builders already materialize them. */
private[ops] object Artifacts {

  /** One shared artifact; `face` is the frame Bench forces to build it. */
  final class Artifact[A] private[Artifacts] (
      val name: String, build: (SparkSession, String) => A, face: A => DataFrame) {
    def apply(s: SparkSession, d: String): A = get(s, d, name, build(s, d))
    def frame(s: SparkSession, d: String): DataFrame = face(apply(s, d))
  }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Any]()

  private def release(v: Any): Unit = v match {
    case df: Dataset[_] => try df.unpersist(false) catch { case _: Throwable => () }
    case _ => ()
  }

  // NEVER computeIfAbsent here: builders nest (clusters builds from
  // pairs_full, both in this map), and a nested mutation inside
  // computeIfAbsent's mapping function throws CHM's "Recursive update".
  // Build OUTSIDE the map; a racing duplicate build loses the
  // putIfAbsent and releases its copy — correctness is unaffected (both
  // values are identical), only the race pays twice.
  private def get[A](s: SparkSession, d: String, name: String, build: => A): A = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1.sparkContext.isStopped) { release(e.getValue); it.remove() }
    }
    val key = (s, d, name)
    val existing = entries.get(key)
    if (existing != null) existing.asInstanceOf[A]
    else {
      val built = build match {
        case df: Dataset[_] => df.persist(StorageLevel.MEMORY_AND_DISK)
        case v => v
      }
      val prev = entries.putIfAbsent(key, built)
      if (prev != null) { release(built); prev.asInstanceOf[A] }
      else built.asInstanceOf[A]
    }
  }

  /** Names of the entries held for session `s`. */
  def held(s: SparkSession): Set[String] =
    entries.keySet.asScala.collect { case (o, _, name) if o eq s => name }.toSet

  private val declared = scala.collection.mutable.ArrayBuffer.empty[Artifact[_]]
  private def declare[A](name: String, face: A => DataFrame)
                        (build: (SparkSession, String) => A): Artifact[A] = {
    val a = new Artifact(name, build, face)
    declared += a
    a
  }
  private def declareFrame(name: String)(build: (SparkSession, String) => DataFrame) =
    declare[DataFrame](name, identity)(build)

  /** The tokenizer's merge budget — the one both BPE bindings read. */
  private val BpeMerges = 8

  /** The identical-token-set collapse of the corpus — the (rep, members,
    * hsh) groups table every same-corpus MinHash-LSH consumer reads (the
    * k=16 and k=32 near-dup queries, the hot-band salted variant, the
    * estimator audit, the eval found-side); the k-wide signature is a
    * cheap native projection OVER it, so the collapse is k-independent.
    * In production, the content-collapse table a dedup stack persists
    * next to its signatures. */
  val minhashGroups: Artifact[DataFrame] = declareFrame("minhash_groups") { (s, d) =>
    Similarity.tokenSetGroups(Tables.documents(s, d), "doc_id", "text")
  }

  /** The verified minhash pair graph over the full corpus —
    * q_dedup_survivors, q_dedup_clusters, q_dedup_degree and the graph
    * audits consume it. The pair list is tiny (≪ corpus). */
  val pairsFull: Artifact[DataFrame] = declareFrame("pairs_full") { (s, d) =>
    Similarity.minhashNearDup(minhashGroups(s, d), 0.9, ordered = false)
  }

  /** The CC cluster table over [[pairsFull]]: three queries (clusters /
    * canonical / weights) consume the identical fixpoint, so the
    * iterative loop runs once per session. */
  val clusters: Artifact[DataFrame] = declareFrame("clusters") { (s, d) =>
    TextPipeline.dedupClusters(Tables.documents(s, d), "doc_id", pairsFull(s, d))
  }

  /** The line-curated REFLOWED corpus slice — the RefinedWeb-order head
    * of `q_curation_pipeline`, built once for its six doc gates and its
    * pair graph. The slice filter runs BEFORE line curation: doc_id < 10
    * is the held-out eval set, and a held-out doc must neither win
    * first-occurrence survivorship in the corpus line-dedup registry nor
    * strip identical lines from corpus docs. The oracle's reflow CTEs
    * carry the same pre-slice (`reflowDocsCtesBody`'s pred). */
  val reflGe10: Artifact[DataFrame] = declareFrame("refl_ge10") { (s, d) =>
    Lines.lineCuratedCorpus(
      Tables.documents(s, d).filter(col("doc_id") >= 10),
      "doc_id", "text", Seq("lang"))
  }

  /** The q_curation_pipeline slice's OWN pair graph, over the reflowed
    * text: full-corpus pairs would mark docs as removable whose only
    * duplicate is a benchmark doc outside the slice, and near-dup
    * detection after boilerplate-line removal is why production
    * pipelines run the stages in this order. */
  val pairsGe10: Artifact[DataFrame] = declareFrame("pairs_ge10") { (s, d) =>
    Similarity.minhashNearDup(Similarity.tokenSetGroups(reflGe10(s, d), "doc_id", "text"), 0.9,
      ordered = false)
  }

  /** The twin decomposition (member, csz, cedges) of [[pairsFull]]:
    * triangles, PageRank and the missing-link queue consume the identical
    * tables, and its collect_set neighborhood pass is the expensive part
    * of each. Already materialized by construction; Bench forces `cedges`. */
  val twins: Artifact[(DataFrame, DataFrame, DataFrame)] =
    declare("twins", (t: (DataFrame, DataFrame, DataFrame)) => t._3) { (s, d) =>
      TextPipeline.twinDecomposition(pairsFull(s, d))
    }

  /** The STANDING cluster table of the 90% keyBucket carve —
    * [[TextPipeline.ccIncremental]]'s `prior` input. In production it is
    * yesterday's PERSISTED table, not work the incremental pass does, so
    * `q_cc_incremental` must not be billed its fixpoint. Built from the
    * old×old slice of [[pairsFull]] (see [[TextPipeline.ccOldSide]]). */
  val priorClusters: Artifact[DataFrame] = declareFrame("prior_clusters") { (s, d) =>
    TextPipeline.dedupClusters(
      Tables.documents(s, d).filter(TextPipeline.ccOldSide(col("doc_id"))), "doc_id",
      pairsFull(s, d).filter(
        TextPipeline.ccOldSide(col("doc_id_1")) && TextPipeline.ccOldSide(col("doc_id_2"))))
  }

  /** The audited re-verify queue — in production the PERSISTED output the
    * re-verify scheduler writes once and the repair pass consumes:
    * `q_missing_links_verify` reads it, `q_missing_links_repair` re-runs
    * CC over it, and neither is billed the other's verify pass. */
  val verifiedLinks: Artifact[DataFrame] = declareFrame("verified_links") { (s, d) =>
    // each doc's hash set from the CACHED collapse: exactly the
    // token_set_hashes62 projection by construction, without the corpus
    // re-tokenize each of the verify's two join sides would pay
    TextPipeline.missingLinksVerify(
      minhashGroups(s, d).select(explode(col("members")).as("doc_id"), col("hsh")),
      twins(s, d), 0.9)
  }

  /** [[Similarity.scoredEvalTable]] at the audit ladder's minimum:
    * `q_dedup_eval` (the 0.9 point) and `q_dedup_eval_sweep` (the ladder)
    * re-gate ONE materialization ([[Lineage.truncate]]) of the quadratic
    * truth pass. */
  val evalScored: Artifact[DataFrame] = declareFrame("eval_scored") { (s, d) =>
    Lineage.truncate(Similarity.scoredEvalTable(minhashGroups(s, d), 0.8))
  }

  /** [[Similarity.kmeansTrain]](embeddings, 3) final-round statistics —
    * the ONE trained k-means model `q_kmeans_train` returns and
    * `q_ann_ivf_trained`, `q_cluster_prune`, `q_semantic_dedup_trained`
    * and `q_cluster_balance` serve against its codebook fold. In
    * production a versioned offline artifact, trained once. */
  val kmeansStats: Artifact[DataFrame] = declareFrame("kmeans_stats") { (s, d) =>
    Similarity.kmeansTrain(Tables.embeddings(s, d), "vec_id", "embedding", 3)
  }

  /** [[Similarity.pqTrain]] statistics over the embeddings — the
    * single-round PQ model `q_pq_train` returns and the PQ serve family
    * folds into sub-codebooks. */
  val pqStats: Artifact[DataFrame] = declareFrame("pq_stats") { (s, d) =>
    Similarity.pqTrain(Tables.embeddings(s, d), "vec_id", "embedding")
  }

  /** [[TextPipeline.docTokens]] of the corpus — the posting-list input
    * of every BM25-family retrieval query (`q_bm25_topk`,
    * `q_bm25_proximity`, `q_query_expansion`, `q_hybrid_rerank`,
    * `q_rank_fusion`). */
  val corpusTokens: Artifact[DataFrame] = declareFrame("corpus_tokens") { (s, d) =>
    TextPipeline.docTokens(Tables.documents(s, d), "doc_id", "text")
  }

  /** [[TextPipeline.docLengths]] over [[corpusTokens]]. */
  val corpusDl: Artifact[DataFrame] = declareFrame("corpus_dl") { (s, d) =>
    TextPipeline.docLengths(corpusTokens(s, d))
  }

  /** [[TextPipeline.bpeChain]] at [[BpeMerges]] — ONE tokenizer train:
    * `q_bpe_learn` returns its merge table and `q_bpe_apply` its applied
    * corpus, two faces of the identical sequential loop. Both outputs are
    * already materialized (merges via the driver argmax, corpus via the
    * per-round truncations); Bench forces the applied corpus. */
  val bpeChain: Artifact[(DataFrame, DataFrame)] =
    declare("bpe_chain", (t: (DataFrame, DataFrame)) => t._2) { (s, d) =>
      TextPipeline.bpeChain(Tables.documents(s, d), "doc_id", "text", BpeMerges)
    }

  /** Interpolated-KN bigram table over the even-id train half —
    * `q_lm_table_kn` returns it and `q_lm_score_kn` scores against it. */
  val lmTableKn: Artifact[DataFrame] = declareFrame("lm_table_kn") { (s, d) =>
    TextPipeline.lmTableKn(Tables.documents(s, d).filter(col("doc_id") % 2 === 0),
      "doc_id", "text")
  }

  /** Stupid-Backoff trigram table over the even-id train half — shared by
    * `q_lm_score_backoff` and `q_ppl_buckets`. */
  val lmTableBackoff: Artifact[DataFrame] = declareFrame("lm_table_backoff") { (s, d) =>
    TextPipeline.lmTableBackoff(Tables.documents(s, d).filter(col("doc_id") % 2 === 0),
      "doc_id", "text")
  }

  /** DSIR per-doc scores (unordered form) — the shared head of
    * `q_dsir_weights` (ordered view) and `q_dsir_sample` (the resampling
    * tail). */
  val dsirScores: Artifact[DataFrame] = declareFrame("dsir_scores") { (s, d) =>
    val docs = Tables.documents(s, d)
    TextPipeline.dsirScore(docs, "doc_id", "text",
      TextPipeline.dsirTable(docs, "doc_id", "text", col("lang") === "en"),
      ordered = false)
  }

  /** Every artifact, in declaration (= dependency) order. */
  val all: Seq[Artifact[_]] = declared.toSeq
}
