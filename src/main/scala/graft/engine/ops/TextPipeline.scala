package graft.engine.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.io.Tables

/** Text-analysis / dedup operators for large-scale training-data pipelines
  * (SURVEY.md §2.2-I + the north-star additions).
  *
  * The public functions are table-agnostic (caller names id/text/grouping
  * columns); `queries` binds them to the fixture tables. All operators are
  * Column-expression compositions (higher-order array functions, no UDFs)
  * so they stay inside whole-stage codegen and distribute trivially: every
  * one is a scan → narrow map → hash aggregate/join on an explicit key.
  * At 100 TB the only shuffles are the groupBy(doc/token/band) hashes,
  * which partition by key; none of them collect to the driver.
  *
  * Determinism notes (shared with Relational's oracle contract):
  *  - the document fingerprint is a position-weighted polynomial over a
  *    per-token code `(7*len(tok) + ascii(tok)) % 1000003` — chosen
  *    because both Spark and DuckDB can evaluate it exactly in BIGINT,
  *    making the hash itself oracle-checkable (unlike murmur/xxhash);
  *  - Jaccard near-dup blocks candidate pairs on caller-chosen columns
  *    ((lang, n_chars) in the fixture binding): cheap, deterministic, and
  *    at scale a provable superset of exact-length duplicates. The
  *    MinHash/LSH path in Similarity.scala is the probabilistic scale-out
  *    variant of the same query.
  */
object TextPipeline {
  private type Q = (SparkSession, String) => DataFrame

  private[ops] def toks(c: Column): Column = split(c, " ")

  /** `((key·2654435761) mod 2³²) mod 100` — the deterministic
    * multiplicative split/sample bucket, in overflow-safe steps. The
    * obvious single multiply silently wraps in Spark once
    * key·2654435761 ≥ 2⁶³ (key ≈ 3.47e9 — a real doc count at 100 TB)
    * while DuckDB raises on BIGINT overflow, so the engines diverge
    * (wrapped value vs error). Masking the key to 32 bits and splitting
    * it into 16-bit halves keeps every intermediate under 2⁴⁹ on both
    * engines, and the result is congruent to the wrapped product for
    * EVERY input (Java's wrap is mod 2⁶⁴, which preserves residues mod
    * 2³²) — so existing fixture hashes are unchanged. */
  private[engine] def keyBucket(key: Column): Column =
    pmod(keyMix(key), lit(100))

  /** The full 32-bit multiplicative mix behind [[keyBucket]] — exposed
    * where an operator needs a deterministic ORDERING key rather than a
    * percentage bucket (per-domain caps, seeded shard shuffles): the
    * mix scatters adjacent ids across [0, 2³²) reproducibly at any
    * parallelism, so "order by mix" is a stable pseudo-random shuffle
    * with no RNG state to coordinate across executors. */
  private[engine] def keyMix(key: Column): Column = {
    val k = pmod(key, lit(4294967296L))
    val hi = pmod(shiftright(k, 16) * lit(2654435761L), lit(4294967296L))
    val lo = k.bitwiseAND(lit(65535L)) * lit(2654435761L)
    pmod(hi * lit(65536L) + lo, lit(4294967296L))
  }

  /** DuckDB replay of [[keyBucket]] — same two-step arithmetic, every
    * intermediate under 2⁴⁹ so DuckDB's overflow error can't fire.
    * Spark's `pmod` is replicated as `((x % m) + m) % m` on the first
    * reduction, the only one whose operand can be negative (DuckDB's
    * `%` is sign-preserving where pmod is nonnegative, so a negative
    * key would otherwise diverge); every later operand is already
    * nonnegative, where plain `%` equals pmod. */
  private[ops] def keyBucketSql(key: String): String =
    s"${keyMixSql(key)} % 100"

  /** DuckDB replay of [[keyMix]] (the pre-`% 100` value of
    * [[keyBucketSql]] — kept textually identical so existing oracle
    * hashes are unchanged). */
  private[ops] def keyMixSql(key: String): String = {
    val k = s"((($key % 4294967296) + 4294967296) % 4294967296)"
    s"(($k // 65536 * 2654435761 % 4294967296 * 65536 + " +
      s"$k % 65536 * 2654435761) % 4294967296)"
  }

  /** THE split rule (80/10/10 on [[keyBucket]]) — single definition
    * shared by [[assignSplits]], [[splitLeakage]], [[curationPipeline]]
    * and the streaming router, so the leakage audit can never silently
    * judge different splits than the router produces. */
  private[engine] def splitOf(key: Column): Column = {
    val b = keyBucket(key)
    when(b < 80, "train").when(b < 90, "val").otherwise("test")
  }

  /** DuckDB replay of [[splitOf]] — the oracle-side single definition. */
  private[ops] def splitCaseSql(key: String): String =
    s"""CASE WHEN ${keyBucketSql(key)} < 80 THEN 'train'
       |         WHEN ${keyBucketSql(key)} < 90 THEN 'val'
       |         ELSE 'test' END""".stripMargin

  // -------------------------------------------------------------- dedup
  /** Exact dedup over a text column: deterministic survivor = min(id). */
  def exactDedup(documents: DataFrame, idCol: String, textCol: String): DataFrame =
    documents.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_dups"))
      .select("doc_id", "n_dups", "text")
      .orderBy("doc_id")

  /** Key-dedup: latest row per key (ts desc, tiebreak desc). */
  def latestPerKey(df: DataFrame, keyCol: String, tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol).desc, col(tieCol).desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Deduplicated corpus: drop every document that near-duplicates a
    * smaller-id document (greedy keep-min survivor over the verified pair
    * set from [[Similarity.minhashNearDup]]). This is the operator a
    * training pipeline actually runs — pair detection is the mechanism,
    * corpus shrinkage is the product. One anti-join against the pair
    * list's greater-id side; no all-pairs stage anywhere. */
  def dedupCorpus(documents: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    documents.join(pairs.select(col("doc_id_2").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Near-dup CLUSTERS via iterative min-label propagation (connected
    * components over the verified pair graph) — the transitive closure
    * greedy pair-removal misses: if A~B and B~C but A≁C, all three belong
    * to one duplicate cluster represented by min(A,B,C).
    *
    * Scale shape: a handful of label-propagation rounds (iterations ≈
    * graph diameter, and near-dup clusters are dense so it converges
    * quickly), each one join + one min-aggregate, both hash-partitioned
    * on the id. The edge list is persisted once; the rounds run on
    * [[Lineage.fixpoint]] (each round materialized through
    * [[Lineage.truncate]], superseded rounds released). Convergence is
    * detected by the monotone-decreasing label sum, so termination
    * needs no fixed iteration cap. Returns (id, cluster) for EVERY
    * document.
    *
    * Fault tolerance is the deployment's choice, not a parameter: with
    * a context checkpoint dir set, every round is a reliable
    * checkpoint, so a lost executor mid-fixpoint recomputes one round.
    *
    * `pairs` is the verified `(doc_id_1, doc_id_2)` graph over
    * `documents`' ids (e.g. [[Similarity.minhashNearDup]]). Nothing the
    * call caches outlives it: the pair frame it persists for the gate
    * count is unpersisted once the labels are materialized, so a repeat
    * call on the same pairs recomputes instead of reading the first
    * call's blocks. */
  def dedupClusters(documents: DataFrame, idCol: String, pairs: DataFrame,
                    maxIters: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val edges = pairs.select(col("doc_id_1").as("a"), col("doc_id_2").as("b"))
    // the gated call reads the edges twice (the gate count and the
    // chosen path): cached for both, or an unmaterialized subtree (e.g.
    // semanticClusters' cell-blocked cosine verify) executes twice
    val gated = maxIters >= 20
    if (gated) edges.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ADAPTIVE PATH SELECTION (r13): the iteration's input is the
      // dup-graph edge list — graph-sized, ≪ corpus. When it fits one
      // task (2·|pairs| = the symmetric edge count, against
      // [[fusedMaxEdges]]), connected components run as ONE executor
      // task: union-find with min-id component labels, which is the
      // EXACT fixpoint the label-prop loop converges to (min id per
      // component — the loop's monotone decrease has no other stable
      // point), so the paths are result-identical whenever the loop
      // converges (it always has: convergence is observed, the cap has
      // never bound, and the DuckDB oracle's reachability walk pins the
      // true components regardless of path). At fixture scale the loop
      // is ~6 rounds of pure scheduler floor; the fused task removes it
      // from EVERY consumer (clusters artifact, fuzzy/entity clusters,
      // incremental CC, recall repair). The count runs on the raw pairs,
      // BEFORE the symmetric layout below, so the fused route never pays
      // the sym unionAll + repartition shuffle + cache (r18).
      //
      // The fused path is the EXACT fixpoint, so it only stands in when
      // the caller's cap cannot bind semantically: a deliberately small
      // maxIters asks for TRUNCATED propagation (partial labels), which
      // only the round-based loop can honor — every production call
      // site uses the default (20, ≥ the measured convergence depth).
      // RAISING the cap SCALES WITH maxIters: the distributed loop runs
      // ≤ maxIters pointer-jumping rounds — enough for any graph the
      // DEFAULT 2M cap admits (jump-composed chains shrink
      // geometrically), but a much larger cap on a pathological
      // high-diameter graph could admit a graph whose loop would
      // truncate where the fused path converges; raise maxIters with it
      // (the loop self-reports truncation under spark.graft.debug).
      if (gated && 2 * edges.count() <= fusedMaxEdges(documents.sparkSession))
        fusedUnionFind(documents, idCol, edges)
      else labelPropagation(documents, idCol, edges, maxIters)
    } finally if (gated) edges.unpersist()
  }

  /** The one size gate of the iterative graph operators
    * ([[dedupClusters]], [[pairGraphPagerankConverged]]): an edge list
    * of at most `spark.graft.localMaxEdges` rows (default 2M) runs its
    * fixpoint as ONE fused executor task, a larger one as the
    * distributed round loop. At 2M edges the fused tasks hold ~64 MB of
    * primitive arrays and compute in a few seconds, still far cheaper
    * than the distributed loops' scheduler floor at that size (measured
    * at the sf1 rung); a genuinely huge graph (a 100 TB dup graph)
    * falls through to the distributed path. */
  private def fusedMaxEdges(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.localMaxEdges").map(_.toLong).getOrElse(2000000L)

  /** [[dedupClusters]]' distributed route: min-label propagation with
    * one pointer jump per round over the symmetric edge list. */
  private def labelPropagation(documents: DataFrame, idCol: String,
                               pairs: DataFrame, maxIters: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // undirected edge list, materialized once, hash-partitioned on the
    // join key: every propagation round equi-joins edges on `b`, so the
    // cached partitioning is reused and only the (tiny) label table
    // shuffles per round — the edge list never moves again.
    // `repartition(col("b"))` deliberately omits a partition count:
    // with no user-pinned count AQE sizes the shuffle to the DATA
    // (few partitions for a few-thousand-row edge list, shuffle-
    // partition-bounded at 100 TB) — provided the session allows
    // adaptive output partitioning under `persist` (GraftSession sets
    // `canChangeCachedPlanOutputPartitioning`; without it a cached
    // plan pins the full session shuffle count and every loop round
    // schedules that many near-empty tasks per stage).
    val edges = pairs
      .unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
      .repartition(col("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // The loop iterates over GRAPH NODES ONLY — every node of the
      // symmetric edge list appears as a `b`, and a node with no
      // near-dup partner is its own cluster by definition, so the
      // (corpus − graph) singleton majority never enters a round. At
      // 100 TB this is the difference between re-materializing the
      // whole corpus every round and re-materializing just the dup
      // graph (≪ corpus); the singletons are union'd back once at the
      // end from one anti-join. Seed = min(id, min neighbor id): the
      // first hop folds into the seed materialization, riding the edge
      // list's existing (b)-partitioning (groupBy("b") reuses it, no
      // extra shuffle).
      val seed = edges.groupBy("b").agg(min(col("a")).as("mn"))
        .withColumnRenamed("b", "id")
        .select(col("id"), least(col("id"), col("mn")).as("cluster"))
      // ONE round per materialization: batching two hop-rounds per job
      // was measured WORSE (6.2 s vs 5.2 s at sf0.1) — the loop is
      // stage-bound, not driver-round-trip-bound, and batch granularity
      // wastes a full extra round at the fixpoint test. Labels are
      // monotone per node, so an equal exact sum means no node moved —
      // a hash fingerprint would be weaker, not stronger, here.
      val labels = Lineage.fixpoint(seed, maxIters, 1, "dedup_clusters",
          Seq(sum("cluster"))) { base =>
        // each node adopts the min of its own and its neighbors' labels
        val msgs = edges.join(base.withColumnRenamed("id", "b"), "b")
          .select(col("a").as("id"), col("cluster"))
        val hopped = base.select(col("id"), col("cluster"))
          .unionAll(msgs)
          .groupBy("id").agg(min("cluster").as("cluster"))
        // pointer jump through the round-start table: label(u) ←
        // min(label(u), base(label(u))). Every label IS a node id, so
        // each jump composes the previous-round lookup once more —
        // chains shrink geometrically, O(log diameter) rounds instead of
        // O(diameter). The jump table is the round-start labels —
        // already materialized — so each round pays exactly ONE
        // materialization, and jumping through the older table is a
        // pure decrease (labels_n(c) ≤ c), so the sum test is unchanged.
        // Jump-count tuning was measured flat at sf0.1 (1, 2 or 3
        // prev-table jumps all converge in 6 rounds — the binding
        // constraint is the graph's hop diameter), and jumping through
        // the FRESH hop result (textbook path-halving, 5 rounds) costs
        // ~2× wall clock because the hop subtree gets re-executed on the
        // ptr side — AQE does not reuse the exchange across the
        // self-join's two different-keyed sides.
        val ptr = base.select(col("id").as("pid"), col("cluster").as("pcluster"))
        hopped.join(ptr, hopped("cluster") === ptr("pid"), "left_outer")
          .select(hopped("id"),
            least(hopped("cluster"), coalesce(col("pcluster"), hopped("cluster"))).as("cluster"))
      }
      // singletons re-enter here: cluster = own id for every document
      // with no verified partner (one anti-join against the graph's
      // node set — the only stage that touches the full corpus)
      documents.select(col(idCol).as("id"))
        .join(labels.withColumnRenamed("cluster", "cl"), Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("cl"), col("id")).as("cluster"))
    } finally edges.unpersist()
  }

  /** Sorted distinct ids over `parts` and each id's index in that
    * order — the id compaction of the fused graph tasks, so their inner
    * loops sweep primitive arrays instead of hashing (measured ~10×
    * over a map-based round at the sf1 rung's ~1M edges). Sort +
    * in-place dedup, no boxing. */
  private def compactIds(parts: Array[Long]*): (Array[Long], scala.collection.mutable.LongMap[Int]) = {
    val s = new Array[Long](parts.map(_.length).sum)
    var off = 0
    parts.foreach { p => System.arraycopy(p, 0, s, off, p.length); off += p.length }
    java.util.Arrays.sort(s)
    var w = 0; var r = 0
    while (r < s.length) {
      if (w == 0 || s(r) != s(w - 1)) { s(w) = s(r); w += 1 }
      r += 1
    }
    val ids = java.util.Arrays.copyOf(s, w)
    val idx = new scala.collection.mutable.LongMap[Int](ids.length * 2)
    var k = 0
    while (k < ids.length) { idx.update(ids(k), k); k += 1 }
    (ids, idx)
  }

  /** The counted-gate FUSED connected-components task ([[dedupClusters]]'
    * adaptive path): union-find with min-id component labels over an
    * edge frame `(a, b)` — each undirected edge may appear once or
    * symmetrically, union-find is direction-free — run as ONE executor
    * task via the house-justified mapPartitions (at the gate's
    * admission size the distributed loop is pure DAGScheduler latency
    * over kilobytes). No driver collect: the labels stay a DataFrame
    * and join back to the corpus. */
  private def fusedUnionFind(documents: DataFrame, idCol: String,
                             e: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    val localLabels = Lineage.truncate(e.as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        // stream into primitive builders (boxed pairs never
        // retained: ~200 B/edge transient vs 16 B here), compact
        // ids, union-find with path halving, then map each component
        // to its min member id — the label-prop fixpoint
        val ab = scala.collection.mutable.ArrayBuilder.make[Long]
        val bb = scala.collection.mutable.ArrayBuilder.make[Long]
        it.foreach { e => ab += e._1; bb += e._2 }
        val ea = ab.result(); val eb = bb.result()
        val (ids, idx) = compactIds(ea, eb)
        val parent = Array.tabulate(ids.length)(identity)
        def find(x0: Int): Int = {
          var x = x0
          while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
          x
        }
        var j = 0
        while (j < ea.length) {
          val ra = find(idx(ea(j))); val rb = find(idx(eb(j)))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
          j += 1
        }
        // union kept the smaller compacted index as root, and ids
        // are sorted ascending, so the root's own id IS the
        // component minimum
        ids.iterator.zipWithIndex.map { case (id, k) => (id, ids(find(k))) }
      }
      .toDF("id", "cl")) // materialize while the caller's edge source is live
    documents.select(col(idCol).as("id"))
      .join(localLabels, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("cl"), col("id")).as("cluster"))
  }

  /** Policy-based canonical selection over the near-dup clusters — the
    * dedup rewrite MAP a production pipeline persists: every document
    * tagged with its cluster, the cluster's CANONICAL representative
    * under a caller-supplied priority, and whether it is that
    * representative. [[dedupCorpus]]'s smallest-id survivor rule is a
    * special case; real pipelines keep by provenance instead — highest
    * source trust, then longest, then smallest id — because which COPY
    * survives decides what the model trains on (a Wikipedia mirror
    * beats a spam scrape of the same text).
    *
    * `priority` is any integer Column over `documents` (higher wins;
    * ties break on smaller id). Integer so the argmax replays exactly
    * in the DuckDB oracle.
    *
    * `clusters` is the [[dedupClusters]] `(id, cluster)` table.
    *
    * Scale: one id-keyed join to attach priorities, one partial+final
    * struct-max per cluster, one cluster-keyed join back — every stage
    * keys on id or cluster (the partitioning the cluster op already
    * produced); the canonical table is cluster-count-sized (≈ corpus
    * with singletons), so it joins by key, never broadcasts. */
  def dedupCanonical(documents: DataFrame, idCol: String, clusters: DataFrame,
                     priority: Column): DataFrame = {
    val pri = clusters.join(
      documents.select(col(idCol).as("id"), priority.cast("long").as("prio")), "id")
    val canon = pri.groupBy("cluster")
      .agg(max(struct(col("prio"), (-col("id")).as("negid"))).as("m"))
      .select(col("cluster"), (-col("m.negid")).as("canonical_id"))
    pri.join(canon, "cluster")
      .select(col("id").as("doc_id"), col("cluster"), col("canonical_id"),
        (col("id") === col("canonical_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Upweighted dedup — the "keep one copy, keep the mass" alternative
    * to dropping duplicates: one survivor per near-dup cluster (the
    * [[dedupCorpus]] smallest-id rule) carrying `weight` = cluster
    * size, the sampling multiplicity a mixture planner feeds back in.
    * Dropping duplicates silently reweights the corpus toward
    * never-duplicated content; carrying the count preserves the
    * original distribution while still training on each text once —
    * both policies are legitimate, this operator makes the second one
    * available (and auditable: Σ weight = |corpus|, spec-pinned).
    *
    * Scale: ONE partial+final aggregate over the [[dedupClusters]]
    * table — strictly cheaper than the survivors anti-join. */
  def dedupWeights(clusters: DataFrame): DataFrame =
    clusters.groupBy("cluster")
      .agg(min("id").as("doc_id"), count(lit(1)).as("weight"))
      .select("doc_id", "cluster", "weight")
      .orderBy("doc_id")

  /** Near-dup CLUSTER QUALITY AUDIT (r17) — per cluster, the exact
    * member-to-REPRESENTATIVE token-set Jaccard, the transitive-chain
    * check a banding dedup needs: connected components merge A–B and
    * B–C into one cluster even when jaccard(A, C) is far below the
    * banding threshold, so "one survivor per cluster" silently drops
    * content that never resembled the survivor. A low
    * `min_rep_jaccard_ppm` is exactly that false merge surfacing; the
    * mean tracks overall cluster tightness. All-integer ppm (this
    * file's no-transcendentals rule).
    *
    * Scale shape: LINEAR in cluster membership — each member scores
    * against its representative only (the all-pairs within-cluster
    * audit is the [[dedupEval]] run-on-sample tier; this is the
    * audit you can afford on the full corpus). Two equi-joins attach
    * member and representative token sets to the cluster table (both
    * keyed joins over doc-count-sized frames; the representative side
    * is at most one row per cluster after the member join's
    * cluster-keyed shuffle), then ONE partial+final aggregate per
    * cluster. Singletons carry no member rows and drop out — the
    * output is non-singleton-cluster-sized. `clusters` is the
    * [[dedupClusters]] table over `documents`. */
  def dedupClusterAudit(documents: DataFrame, idCol: String, textCol: String,
                        clusters: DataFrame): DataFrame = {
    val sets = documents.select(col(idCol).as("id"),
      array_distinct(toks(col(textCol))).as("sh"))
    // members only: the representative's self-jaccard is 1 by identity
    // and would dilute both stats toward 10⁶
    val members = clusters.filter(col("id") =!= col("cluster"))
    val scored = members.join(sets, "id")
      .join(sets.select(col("id").as("cluster"), col("sh").as("rep_sh")), "cluster")
      .select(col("cluster"),
        size(array_intersect(col("sh"), col("rep_sh"))).cast("long").as("inter"),
        size(col("sh")).cast("long").as("na"),
        size(col("rep_sh")).cast("long").as("nb"))
      .withColumn("jac_ppm",
        expr("1000000 * inter DIV (na + nb - inter)"))
    scored.groupBy("cluster")
      .agg((count(lit(1)) + 1).as("cluster_size"),
        min("jac_ppm").as("min_rep_jaccard_ppm"),
        expr("sum(jac_ppm) DIV count(1)").as("mean_rep_jaccard_ppm"))
      .orderBy("cluster")
  }

  /** Incremental connected components — the maintenance half of the
    * cluster-table lifecycle (the dedup analogue of [[Similarity
    * .minhashIndexMerge]]'s index maintenance): given yesterday's
    * STANDING cluster assignment `prior` (id → min-id cluster label, the
    * [[dedupClusters]] output contract) and today's DELTA edges (the
    * new-vs-index pairs from [[Similarity.minhashNearDupIncremental]]
    * plus the within-delta pairs), produce the exact cluster table of
    * the union corpus WITHOUT re-running the fixpoint over history.
    *
    * Mechanism: contract every prior cluster to its representative (the
    * label itself — prior labels ARE min ids, so reps are nodes),
    * translate each delta edge endpoint to its quotient node (old id →
    * its prior label, new id → itself), and run the SHARED CC fixpoint
    * ([[dedupClusters]]) over that quotient
    * graph only. Contraction preserves connectivity, and because prior
    * labels are component-min ids, the quotient fixpoint's min-label
    * answer IS the union corpus' min-label answer — a new doc bridging
    * two old clusters merges them (the case greedy per-batch dedup can
    * never repair), and the result is bit-identical to a from-scratch
    * [[dedupClusters]] over the union (spec-pinned; the DuckDB oracle
    * replays the from-scratch walk).
    *
    * Scale: every stage is sized by the DELTA, not the corpus — the
    * quotient graph has ≤ 2·|delta edges| + |new docs| nodes, the
    * fixpoint loop runs over exactly those, and history is touched by
    * ONE broadcast-or-keyed join mapping prior labels through the
    * quotient result (old clusters never re-enter the loop). At 100 TB
    * `prior` is a persisted table and only this function's stages run
    * per delta batch. Emits (id, cluster, prior_cluster, changed) for
    * the union corpus: `prior_cluster` is the standing label (own id
    * for new docs), `changed` flags every row the writer must persist:
    * moved old rows plus ALL new rows (a new singleton is still an
    * insert) — the downstream writer upserts just those. */
  def ccIncremental(prior: DataFrame, deltaEdges: DataFrame,
                    newIds: DataFrame, maxIters: Int = 20): DataFrame = {
    val pr = prior.select(col("id").as("tid"), col("cluster").as("trep"))
    // endpoint translation: old → prior label, new → itself. Two keyed
    // left joins against the (id-cardinality) prior table — at scale
    // the delta side is small, so AQE broadcasts IT, and the standing
    // table streams; either way cost ∝ inputs, no fixpoint touched yet.
    // The quotient edge list is DELTA-sized and consumed by three
    // subplans (the CC gate count / fixpoint input and both unionAll
    // arms of the node set) — un-materialized, the translation joins
    // against the standing table re-spliced into each consumer and the
    // final plan carried ~187 Exchange nodes at sf0.1 (the
    // dedup_cascade plan-splice disease, guide §2.4). It is truncated
    // rather than persisted: a cache-manager entry outlives the query
    // (the cache manager holds it strongly, so the next call's
    // identical plan read it), while this checkpoint is released as
    // soon as the quotient labels are materialized.
    val qEdges = Lineage.truncate(deltaEdges
      .join(pr.withColumnRenamed("tid", "a"), Seq("a"), "left_outer")
      .withColumn("qa", coalesce(col("trep"), col("a"))).drop("trep")
      .join(pr.select(col("tid").as("b"), col("trep")), Seq("b"), "left_outer")
      .withColumn("qb", coalesce(col("trep"), col("b")))
      .filter(col("qa") =!= col("qb"))
      .select(least(col("qa"), col("qb")).as("doc_id_1"),
              greatest(col("qa"), col("qb")).as("doc_id_2"))
      .distinct())
    // quotient node set: the touched reps/new ids from the edges plus
    // every new doc (a delta doc with no edge is its own cluster and
    // must appear in the output) — NOT the full corpus
    val qNodes = qEdges.select(col("doc_id_1").as("id"))
      .unionAll(qEdges.select(col("doc_id_2").as("id")))
      .unionAll(newIds.select(col(newIds.columns.head).as("id")))
      .distinct()
    // quotient-sized, consumed by BOTH output arms below — materialized
    // once, so neither arm re-runs the quotient fixpoint subtree
    val qLabels = Lineage.truncate(dedupClusters(qNodes, "id", qEdges, maxIters)
      .select(col("id").as("qid"), col("cluster").as("qcluster")))
    Lineage.release(qEdges)
    // map back through the quotient: old rows ride their prior label
    // (untouched clusters miss the join and keep it), new rows read
    // their own quotient node
    // `changed` = rows the downstream writer must persist: every moved
    // OLD row, and EVERY new row — a new singleton's cluster equals its
    // own id, but it is still an INSERT the standing table lacks
    // (skipping it would drop the doc from the table permanently, and a
    // later delta bridging through it would find no prior entry)
    val oldRows = prior
      .join(qLabels, prior("cluster") === qLabels("qid"), "left_outer")
      .select(col("id"), coalesce(col("qcluster"), col("cluster")).as("cluster"),
              prior("cluster").as("prior_cluster"),
              coalesce(col("qcluster") =!= prior("cluster"), lit(false)).as("changed"))
    val newRows = newIds.select(col(newIds.columns.head).as("id"))
      .join(qLabels, col("id") === qLabels("qid"), "left_outer")
      .select(col("id"), coalesce(col("qcluster"), col("id")).as("cluster"),
              col("id").as("prior_cluster"), lit(true).as("changed"))
    oldRows.unionAll(newRows).orderBy("id")
  }

  /** Stratified deterministic sampling: per-stratum rates via the same
    * multiplicative key hash as q_sample_hash — the quality/domain-mixing
    * primitive of training-data curation (sample high-value strata at
    * higher rates), reproducible at any parallelism. */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
                       rates: Map[String, Int], defaultPct: Int): DataFrame = {
    val pct = rates.foldLeft(lit(defaultPct)) { case (acc, (k, p)) =>
      when(col(strataCol) === k, lit(p)).otherwise(acc)
    }
    df.filter(keyBucket(col(keyCol)) < pct)
  }

  /** Deterministic FIXED-SIZE sample: exactly `n` documents, chosen by
    * the [[keyMix]] seeded-shuffle order with id tie-break — the
    * fixed-budget carve ([[stratifiedSample]] and `q_sample_hash` keep
    * a RATE, so their output grows with the corpus; an eval set or a
    * labeling batch needs a count). Pure function of the key set:
    * stable under partitioning, re-runs, and parallelism, and any
    * corpus superset keeps the same relative order (a grown corpus
    * only displaces tail members).
    *
    * Scale: orderBy+limit compiles to TakeOrdered (per-partition top-n
    * + driver merge of n-row heaps) — no global sort, no full shuffle;
    * n rows cross the wire per partition at worst. */
  def fixedSample(documents: DataFrame, idCol: String, n: Int,
                  carryCols: Seq[String] = Seq.empty): DataFrame =
    documents
      .select(col(idCol).as("doc_id") +: carryCols.map(col): _*)
      .orderBy(keyMix(col("doc_id")).asc, col("doc_id").asc)
      .limit(n)
      .orderBy("doc_id")

  /** Per-domain document cap — the RefinedWeb/C4 anti-boilerplate
    * measure: no single domain may contribute more than `cap` documents
    * to the corpus, and WHICH documents survive is decided by the
    * deterministic [[keyMix]] order (a seeded shuffle), not file order,
    * so the kept set is reproducible at any parallelism. One window per
    * domain; the `row_number <= cap` predicate compiles to Spark's
    * WindowGroupLimit pushdown (pinned in PlanShapeSpec), so each map
    * task pre-trims its partition to `cap` rows per domain BEFORE the
    * shuffle — at 100 TB a flooding domain moves ~`cap` rows per input
    * partition, never its full row count, to the window task. */
  def domainCap(documents: DataFrame, idCol: String, domainCol: String,
                cap: Int): DataFrame = {
    val w = Window.partitionBy(col("domain"))
      .orderBy(keyMix(col("doc_id")).asc, col("doc_id").asc)
    documents
      .select(col(idCol).as("doc_id"), col(domainCol).as("domain"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= cap)
      .orderBy("doc_id")
  }

  /** Deterministic seeded global shuffle → shard assignment, manifested:
    * every document lands in shard `keyMix(id) % nShards`, and within a
    * shard the training-time read order is "sort by mix" — a
    * reproducible corpus-wide permutation with NO global sort and no
    * RNG coordination. The query emits the per-shard manifest a writer
    * would publish next to the files (doc count, char mass, min mix key,
    * additive checksum): one narrow projection + one `groupBy(shard)`
    * partial+final agg, so the plan holds at any scale — the real
    * writer is `repartition(col("shard_id")).sortWithinPartitions("h")`
    * on the same columns, one shuffle, zero driver state. */
  def shuffleShards(documents: DataFrame, idCol: String, charsCol: String,
                    nShards: Int): DataFrame =
    documents
      .select(col(idCol).as("doc_id"), col(charsCol).as("n_chars"),
        keyMix(col(idCol)).as("h"))
      .withColumn("shard_id", pmod(col("h"), lit(nShards.toLong)))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_chars").as("sum_chars"),
           min("h").as("min_h"),
           sum("h").as("checksum"))
      .orderBy("shard_id")

  /** Temperature-scaled domain rebalancing — the multilingual corpus
    * mixing rule (mT5 / XLM-R, α = 1/2): domain weight ∝ p_d^α, which at
    * α = 1/2 reduces to `sqrt(n_d) / Σ sqrt(n_d)` (the corpus size
    * cancels), so head languages are down-sampled and tail languages
    * up-weighted toward uniform. Per-domain keep rate
    * `r_d = min(1, targetN · w_d / n_d)` is quantized to parts-per-
    * million (`rate_ppm`) and a document survives iff
    * `keyMix(id) · 10⁶ < rate_ppm · 2³²` — the same seeded-hash
    * thresholding every sampler in this file uses: deterministic at any
    * parallelism, no RNG state, exactly replayable by the oracle.
    *
    * Float determinism: the only non-integer steps are sqrt / division /
    * the normalizer sum, all IEEE correctly-rounded, and the normalizer
    * is folded in DOMAIN-NAME ORDER on both engines (sorted array fold
    * here, ordered `list_reduce` in the oracle) so the addition sequence
    * — and therefore every last bit — is pinned before the ppm floor.
    *
    * Scale shape: one domain-keyed partial+final count agg, a 2-row-ish
    * rates table broadcast under the corpus, then a narrow filter — the
    * corpus itself is never shuffled. */
  def temperatureSample(documents: DataFrame, idCol: String, domainCol: String,
                        targetN: Long): DataFrame = {
    val docs = documents.select(col(idCol).as("doc_id"), col(domainCol).as("domain"))
    docs.join(broadcast(temperatureRates(documents, idCol, domainCol, targetN)), Seq("domain"))
      .filter(temperatureKeep(col("doc_id"), col("rate_ppm")))
      .select(col("doc_id"), col("domain"), col("rate_ppm"))
      .orderBy("doc_id")
  }

  /** The offline RATES MODEL behind [[temperatureSample]] — one
    * `(domain, rate_ppm)` row per domain, domain-cardinality-sized, so a
    * serving path (the streaming face included) broadcasts it and applies
    * [[temperatureKeep]] with zero per-query aggregation. */
  def temperatureRates(documents: DataFrame, idCol: String, domainCol: String,
                       targetN: Long): DataFrame = {
    val counts = documents.select(col(domainCol).as("domain"))
      .groupBy("domain").agg(count(lit(1)).as("n_d"))
    // normalizer folded in domain order => identical FP sequence in the oracle
    val z = counts.agg(
      aggregate(
        transform(array_sort(collect_list(struct(col("domain"), col("n_d")))),
          s => sqrt(s("n_d").cast("double"))),
        lit(0.0d), (acc, x) => acc + x).as("z"))
    counts.crossJoin(broadcast(z))
      .select(col("domain"),
        floor(
          least(lit(1.0d),
            lit(targetN.toDouble) * (sqrt(col("n_d").cast("double")) / col("z"))
              / col("n_d").cast("double"))
          * lit(1000000.0d)).cast("long").as("rate_ppm"))
  }

  /** The single keep rule shared by the batch sampler and its streaming
    * serve face: survivor iff `keyMix(id)·10⁶ < rate_ppm·2³²`. */
  private[engine] def temperatureKeep(id: Column, ratePpm: Column): Column =
    keyMix(id) * lit(1000000L) < ratePpm * lit(4294967296L)

  /** Static domain-MIXTURE plan (r15) — the recipe table every
    * pretraining data build commits to before sampling (the Pile /
    * DoReMi / Llama-style "X% web, Y% code, Z% books" sheet), computed
    * FROM the corpus instead of folklore: given declared target shares
    * (basis points, the editorial decision) and a global token budget
    * (pct of the corpus's total tokens), emit per domain its measured
    * token mass, its target token allocation, the DOWN-sampling rate
    * (ppm, capped at 10⁶) a sampler like [[temperatureSample]] would
    * apply, and the UP-sampling factor (`epochs_bp` — >10000 means the
    * domain must repeat to fill its share, the number an epoch
    * scheduler consumes) with a `deficit` flag. All-integer arithmetic
    * (DIV chains, no floats) so the plan hash-oracles exactly.
    *
    * The two directions matter at 100 TB: head domains (web crawl) are
    * cut by rate, tail domains (reference text) repeat for multiple
    * epochs — the plan is where both numbers come from, and disagreeing
    * implementations of it are a classic silent corpus bug.
    *
    * Scale shape: one domain-keyed partial+final agg (count + token
    * sum), a 1-row total broadcast back, pure column arithmetic —
    * output is domain-cardinality-sized, the corpus never shuffles. */
  def domainMixture(documents: DataFrame, domainCol: String, textCol: String,
                    targetBp: Map[String, Long], budgetPct: Int): DataFrame = {
    val toks = size(filter(split(col(textCol), " "), t => length(t) > 0)).cast("long")
    val perDomain = documents
      .select(col(domainCol).as("domain"), toks.as("n_toks"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
    val total = perDomain.agg(sum("n_tokens").as("total_tokens"))
    // declared shares fold into one CASE ladder (sorted for a stable plan)
    val tbp = targetBp.toSeq.sortBy(_._1).foldLeft(lit(0L)) { case (acc, (k, v)) =>
      when(col("domain") === k, lit(v)).otherwise(acc)
    }
    perDomain.crossJoin(broadcast(total))
      .withColumn("target_bp", tbp)
      .withColumn("target_tokens",
        expr(s"((total_tokens * $budgetPct) DIV 100) * target_bp DIV 10000"))
      .select(col("domain"), col("n_docs"), col("n_tokens"), col("target_bp"),
        col("target_tokens"),
        least(lit(1000000L),
          expr("(target_tokens * 1000000) DIV n_tokens")).as("sample_rate_ppm"),
        expr("(target_tokens * 10000) DIV n_tokens").as("epochs_bp"),
        (col("n_tokens") < col("target_tokens")).as("deficit"))
      .orderBy("domain")
  }

  /** URL-canonicalization exact dedup (r15) — the crawl-level dedup
    * stage that runs BEFORE any content pass (CCNet/C4 drop re-crawled
    * URLs first; it is the cheapest tier of the whole dedup cascade
    * because it never reads the body): canonicalize each document's
    * URL (lowercase; strip scheme and a leading `www.`; strip the query
    * string — the tracking-parameter junk that makes one page look like
    * forty; strip the trailing slash) and collapse to the minimum
    * doc_id per canonical URL.
    *
    * The fixture's `source` column is a flat label, so the URL is a
    * DERIVED fixture in the [[Lines.mlLines]] discipline — pure column
    * arithmetic on (doc_id, source) the oracle replays verbatim, with
    * every canonicalization target injected (three scheme spellings,
    * two tracking-query shapes, a trailing slash) and real collisions
    * (same source + same `doc_id % 7` path ⇒ one canonical URL across
    * different raw spellings).
    *
    * Scale shape: a narrow derive/canonicalize projection + ONE
    * url-keyed partial+final agg — no pairwise stage, no content read;
    * at 100 TB this is the op that cuts a crawl 20-40% for the cost of
    * a string pass. */
  def urlDedup(documents: DataFrame, idCol: String, sourceCol: String): DataFrame =
    documents
      .select(col(idCol).cast("long").as("doc_id"),
        deriveUrl(col(idCol).cast("long"), col(sourceCol)).as("url"))
      .withColumn("canonical_url", canonicalUrl(col("url")))
      .groupBy("canonical_url")
      .agg(min(col("doc_id")).as("survivor"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("url")).as("n_variants"))
      .orderBy("canonical_url")

  /** The derived URL fixture (see [[urlDedup]]) — shared by the batch
    * op and the streaming admission face so the derivation can never
    * drift between them. */
  private[engine] def deriveUrl(id: Column, source: Column): Column = {
    val scheme = when(pmod(id, lit(3L)) === 0, lit("https://"))
      .when(pmod(id, lit(3L)) === 1, lit("http://"))
      .otherwise(lit("HTTPS://www."))
    val tail = when(pmod(id, lit(4L)) === 0, lit("?utm_source=feed"))
      .when(pmod(id, lit(4L)) === 1, lit("?ref=home&utm_campaign=x"))
      .when(pmod(id, lit(4L)) === 2, lit("/"))
      .otherwise(lit(""))
    concat(scheme, source, lit(".example.com/page/"),
      pmod(id, lit(7L)).cast("string"), tail)
  }

  /** The ONE canonicalization rule (lowercase; strip scheme + leading
    * `www.`; strip the query string; strip the trailing slash) — shared
    * by [[urlDedup]] and the streaming face. */
  private[engine] def canonicalUrl(url: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(url), "^https?://", ""),
          "^www\\.", ""),
        "\\?.*$", ""),
      "/$", "")

  /** Mixture-plan EXECUTOR (r16, verdict item 3) — [[domainMixture]]
    * emits the recipe (`sample_rate_ppm` down, `epochs_bp` up); this
    * operator MATERIALIZES the planned corpus, because plan→execution
    * disagreement is exactly the silent corpus bug the plan table
    * exists to prevent. Per document the plan row decides:
    *
    *  - head domains (`epochs_bp ≤ 10000`): the doc survives its single
    *    epoch iff `keyMix(id)·10⁶ < sample_rate_ppm·2³²` — the same
    *    seeded-hash ppm thresholding every sampler in this file uses,
    *    at the plan's ppm precision ("en cut to its target ppm");
    *  - deficit domains (`epochs_bp > 10000`): the doc repeats once per
    *    FULL epoch (`epochs_bp DIV 10000` — an epoch spine via
    *    `sequence`/`explode`, never a driver loop), plus a FRACTIONAL
    *    tail epoch carved at `epochs_bp mod 10000` basis points with an
    *    epoch-SALTED key (`keyMix(id + 1000003·epoch)`), so each tail
    *    epoch selects its own deterministic survivor slice instead of
    *    re-reading the same docs (the "per-epoch survivor carve").
    *
    * Both directions are pure integer column arithmetic over the
    * broadcast plan, so the materialized (doc_id, domain, epoch) corpus
    * hash-oracles exactly and reconciles row-for-row against the plan.
    *
    * Scale shape: the plan is domain-cardinality-sized and broadcasts;
    * the corpus is touched once, inflated only by its own planned epoch
    * count, and never shuffles — output ∝ Σ_d n_d · epochs_d, the size
    * of the corpus a pretraining build actually writes. */
  def mixtureApply(documents: DataFrame, idCol: String, domainCol: String,
                   textCol: String, targetBp: Map[String, Long],
                   budgetPct: Int): DataFrame = {
    val plan = domainMixture(documents, domainCol, textCol, targetBp, budgetPct)
      .select(col("domain"), col("sample_rate_ppm"), col("epochs_bp"))
    val fullEpochs = expr("epochs_bp DIV 10000")
    val fracBp = pmod(col("epochs_bp"), lit(10000L))
    documents
      .select(col(idCol).cast("long").as("doc_id"), col(domainCol).as("domain"))
      .join(broadcast(plan), Seq("domain"))
      .withColumn("epoch", explode(sequence(lit(0L), fullEpochs)))
      .filter(col("epoch") < fullEpochs ||
        when(fullEpochs === 0L,
          keyMix(col("doc_id")) * lit(1000000L) <
            col("sample_rate_ppm") * lit(4294967296L))
        .otherwise(
          keyMix(col("doc_id") + lit(1000003L) * col("epoch")) * lit(10000L) <
            fracBp * lit(4294967296L)))
      .select(col("doc_id"), col("domain"), col("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** The composed dedup CASCADE (r16, verdict item 4) — the production
    * order every crawl-scale pipeline runs, cheapest tier first, each
    * tier only seeing the previous tier's survivors:
    *
    *   1. URL canonicalization ([[urlDedup]]'s rule): min-id survivor
    *      per canonical URL — a string pass, no content read;
    *   2. exact text ([[exactDedup]]'s rule): min-id survivor per
    *      verbatim text over the URL survivors — one text-keyed agg;
    *   3. MinHash near-dup ([[dedupCorpus]]'s rule): drop every
    *      remaining doc that appears as the greater id of a verified
    *      near-dup pair — the banded pair graph, the ONLY pairwise
    *      tier, and it runs over the smallest corpus.
    *
    * The product is the ATTRIBUTION table — per tier its input size,
    * drop count, output size and a survivor id-sum pinning the exact
    * survivor SET — because the attribution is what decides whether
    * the expensive tier runs at all (a crawl where tier 1 cuts 40%
    * sizes tier 3's cluster differently than one where it cuts 4%).
    * `pairs` is the caller's verified near-dup pair set over the BASE
    * corpus (the memoized shared graph), and tier 3 RESTRICTS it to
    * the tier-1/2 survivors before removing: banding depends only on
    * each doc's own signature and the verify only on the pair, so the
    * base graph restricted to pairs whose endpoints survive equals
    * re-running band+verify on the survivor corpus. The restriction is
    * a semi-join on the pair's min-id REPRESENTATIVE (`doc_id_1`) —
    * checking `doc_id_2` too would be output-neutral, since a doc
    * already dropped at tiers 1-2 is not in tier 3's input and the
    * removal is an anti-join (r17, ADVICE: the unrestricted graph
    * over-dropped docs whose representative died at tier 1/2, leaving
    * a content family with NO surviving member).
    *
    * Scale shape: each tier is one keyed aggregate plus an id-keyed
    * semi/anti join back — three linear passes and the already-banded
    * pair graph; nothing all-pairs, no driver loops, counts via
    * partial+final aggs. */
  def dedupCascade(documents: DataFrame, idCol: String, sourceCol: String,
                   textCol: String, pairs: DataFrame): DataFrame = {
    // ONE flagged corpus pass instead of materialized per-tier survivor
    // frames (r17): the r16 shape re-derived s1 inside s2's lineage and
    // s2 inside s3's, and the three attribution rows each re-spliced
    // their input subtrees — a 10.8k-line physical plan, 22 AQE stages
    // and ~3× recompute of every tier at sf0.1 (the formatted plan is
    // plans/r17/q_dedup_cascade_before.txt). Survivorship per tier is a
    // min-id comparison, so each tier is a WINDOW over its key instead
    // of a groupBy+semi-join (one exchange per tier, not two), flags
    // accumulate on the same corpus-shaped frame, and the attribution
    // table is ONE aggregate exploded to its three rows. Tier semantics
    // are unchanged and the oracle hash pins them:
    //  - url_surv  ⟺ doc_id = min(doc_id) over canonical url;
    //  - exact_surv⟺ url_surv ∧ doc_id = min(url-surviving doc_id) over
    //    verbatim text (the min-over-s1 rule, via min(when(url_surv)));
    //  - near_surv ⟺ exact_surv ∧ doc_id ∉ removed, where removed =
    //    doc_id_2 of pairs whose representative doc_id_1 survived
    //    tiers 1-2 (the r17-ADVICE restriction, unchanged).
    val docs0 = documents.select(col(idCol).cast("long").as("doc_id"),
      col(sourceCol).as("source"), col(textCol).as("text"))
    val wUrl = Window.partitionBy(
      canonicalUrl(deriveUrl(col("doc_id"), col("source"))))
    val wText = Window.partitionBy(col("text"))
    val flagged = docs0
      .withColumn("url_surv", min("doc_id").over(wUrl) === col("doc_id"))
      .withColumn("exact_surv", col("url_surv") &&
        min(when(col("url_surv"), col("doc_id"))).over(wText) === col("doc_id"))
      .select("doc_id", "url_surv", "exact_surv")
    val removed = pairs
      .join(flagged.filter(col("exact_surv")).select(col("doc_id").as("doc_id_1")),
        Seq("doc_id_1"), "left_semi")
      .select(col("doc_id_2").as("doc_id")).distinct()
    val full = flagged.join(removed.withColumn("hit", lit(true)), Seq("doc_id"), "left_outer")
      .withColumn("near_surv", col("exact_surv") && col("hit").isNull)
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    def idSum(c: Column) = coalesce(sum(when(c, col("doc_id"))), lit(0L))
    val agg = full.agg(
      count(lit(1)).as("n0"),
      cnt(col("url_surv")).as("n1"), idSum(col("url_surv")).as("s1"),
      cnt(col("exact_surv")).as("n2"), idSum(col("exact_surv")).as("s2"),
      cnt(col("near_surv")).as("n3"), idSum(col("near_surv")).as("s3"))
    agg.select(explode(array(
        struct(lit("1_url").as("tier"), col("n0").as("n_in"),
          (col("n0") - col("n1")).as("n_dropped"), col("n1").as("n_out"),
          col("s1").as("survivor_id_sum")),
        struct(lit("2_exact").as("tier"), col("n1").as("n_in"),
          (col("n1") - col("n2")).as("n_dropped"), col("n2").as("n_out"),
          col("s2").as("survivor_id_sum")),
        struct(lit("3_near").as("tier"), col("n2").as("n_in"),
          (col("n2") - col("n3")).as("n_dropped"), col("n3").as("n_out"),
          col("s3").as("survivor_id_sum")))).as("t"))
      .select("t.tier", "t.n_in", "t.n_dropped", "t.n_out", "t.survivor_id_sum")
      .orderBy("tier")
  }

  /** Bloom-prefiltered incremental exact dedup: is each delta document's
    * text already in the reference corpus? The EXACT answer, computed
    * the 100 TB way — a Bloom filter over the reference (built
    * distributed by Spark's own `BloomFilterAggregate`, per-partition
    * sketches merged, never an item loop on the driver) is broadcast as
    * a literal into a codegen'd probe, so the non-duplicate majority of
    * the delta is eliminated by a NARROW filter without shuffling
    * either side. Only the surviving candidates (true dups + the
    * fp-rate sliver) are confirmed against the reference — and because
    * the candidate set is tiny it broadcasts, so the confirm join is a
    * single broadcast-hash scan of the reference: zero shuffles end to
    * end, versus the full text-keyed shuffle of both sides that a naive
    * anti-join pays. False positives die in the confirm join and false
    * negatives are impossible, so the result is exact and fully
    * oracled; the Bloom only ever changes the PLAN, never the answer.
    *
    * The filter itself is the one driver-held value (like the k-means /
    * PQ codebook models): ~1.2 MB per million reference keys at the
    * default fpp, explicitly sized by `expectedItems` — at larger
    * reference cardinalities it grows linearly and stays broadcastable
    * far past 10⁹ keys. */
  def bloomDedup(reference: DataFrame, delta: DataFrame, idCol: String,
                 textCol: String, expectedItems: Long = 100000L): DataFrame = {
    graft.engine.functions.GraftFunctions.register(reference.sparkSession)
    val ref = reference.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val dlt = delta.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val bloomBytes = ref
      .agg(call_function("bloom_agg", xxhash64(col("text")), lit(expectedItems)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val confirmed =
      if (bloomBytes == null) dlt.select("text").limit(0) // empty reference
      else {
        val candidates = dlt
          .filter(call_function("bloom_contains", lit(bloomBytes), xxhash64(col("text"))))
          .select("text").distinct()
        ref.join(broadcast(candidates), Seq("text"), "left_semi")
          .select("text").distinct()
      }
    dlt.join(broadcast(confirmed.withColumn("is_dup", lit(true))), Seq("text"), "left_outer")
      .select(col("doc_id"), coalesce(col("is_dup"), lit(false)).as("is_dup"))
      .orderBy("doc_id")
  }

  /** Character-diversity gibberish gate — the entropy-filter shape with
    * an INTEGER-EXACT statistic: Gini–Simpson diversity
    * `1 − Σ c_i² / n²` over the per-document character distribution
    * (whitespace excluded) instead of Shannon entropy, because Simpson
    * needs no transcendentals — `simpson_ppm = ⌊10⁶·(n²−Σc²)/n²⌋` and
    * `maxfrac_bp = ⌊10⁴·max(c)/n⌋` are pure BIGINT arithmetic, so the
    * oracle hash can never drift by a ulp the way a log2-based entropy
    * could (this file bans transcendentals everywhere for that reason).
    * Low diversity or a single dominating character is the classic
    * mojibake / key-mash / padding-artifact signature.
    *
    * Scale shape: entirely narrow — per-row higher-order array folds
    * (distinct chars ≲ alphabet size, so the inner filter is O(Σ|c|·σ)
    * with tiny σ), no explode, no shuffle, stays in whole-stage codegen.
    * The classic explode(chars)+groupBy formulation (what the oracle
    * replays relationally) would shuffle n_chars rows per document. */
  def charDiversity(documents: DataFrame, idCol: String, textCol: String,
                    minSimpsonPpm: Long, maxMaxfracBp: Long): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    // one codegen'd byte walk per row (`char_diversity_stats`): the
    // higher-order-lambda composition of the same statistics evaluates
    // INTERPRETED at O(σ·len) per row and measured 7× superlinear on
    // the scale ladder — it survives as the spec-pinned reference form
    // in PropertySpec, not in the operator
    val st = call_function("char_diversity_stats", col(textCol))
    documents
      .select(col(idCol).as("doc_id"), st.as("st"))
      .select(col("doc_id"),
        col("st.n_chars_sig").as("n_chars_sig"),
        col("st.n_distinct").as("n_distinct"),
        col("st.sum_sq").as("sum_sq"), col("st.max_cnt").as("max_cnt"))
      .select(col("doc_id"), col("n_chars_sig"), col("n_distinct"),
        expr("1000000 * (n_chars_sig * n_chars_sig - sum_sq) DIV (n_chars_sig * n_chars_sig)")
          .as("simpson_ppm"),
        expr("10000 * max_cnt DIV n_chars_sig").as("maxfrac_bp"))
      .withColumn("keep",
        col("simpson_ppm") >= minSimpsonPpm && col("maxfrac_bp") <= maxMaxfracBp)
      .orderBy("doc_id")
  }

  /** Length-bucketed inference batch planner — the dynamic-batching
    * manifest a serving/embedding fleet reads: documents grouped into
    * token-length buckets (granularity `bucketGranularity`), then packed
    * into fixed-count batches in the deterministic seeded keyMix order,
    * with the padding bill quantified per batch
    * (`pad_waste = n_docs·max_toks − Σ toks` — the tokens a rectangular
    * batch tensor burns on padding). Batching by similar length is THE
    * standard trick to cut that waste; this operator both plans the
    * batches and audits the savings.
    *
    * Scale shape: the per-bucket assignment window is sharded by a
    * keyMix hash (`(bucket, shard)` partition key), so no single task
    * ever owns a whole popular length-bucket — batch ids only need to
    * be deterministic WITHIN a shard, not globally contiguous, which is
    * exactly what an embarrassingly-parallel inference fleet wants. */
  def lengthBatches(documents: DataFrame, idCol: String, textCol: String,
                    bucketGranularity: Int, batchSize: Int,
                    nShards: Int = 4): DataFrame = {
    val nt = size(filter(toks(col(textCol)), t => t =!= "")).cast("long")
    val base = documents
      .select(col(idCol).as("doc_id"), nt.as("n_toks"),
        keyMix(col(idCol)).as("mix"))
      .withColumn("bucket", expr(s"n_toks DIV $bucketGranularity"))
      .withColumn("shard", pmod(col("mix"), lit(nShards.toLong)))
    val w = Window.partitionBy("bucket", "shard")
      .orderBy(col("mix").asc, col("doc_id").asc)
    base
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .withColumn("batch_id", expr(s"pos DIV $batchSize"))
      .groupBy("bucket", "shard", "batch_id")
      .agg(count(lit(1)).as("n_docs"),
        max("n_toks").as("max_toks"),
        sum("n_toks").as("sum_toks"))
      .withColumn("pad_waste", col("n_docs") * col("max_toks") - col("sum_toks"))
      .orderBy("bucket", "shard", "batch_id")
  }

  // -------------------------------------------------------- text analysis
  /** Per-group doc count, avg chars, total whitespace tokens. */
  def textStats(documents: DataFrame, groupCol: String, textCol: String,
                charsCol: String): DataFrame =
    documents
      .select(col(groupCol).as("lang"), col(charsCol).as("n_chars"),
              size(toks(col(textCol))).cast("long").as("n_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           round(avg("n_chars"), 4).as("avg_chars"),
           sum("n_tokens").as("total_tokens"))
      .orderBy("lang")

  /** Corpus-derived stopword filtering: a token is a stopword iff its
    * document frequency exceeds `dfFracPct`% of the corpus — the
    * data-driven variant of a fixed stopword list (new domains and
    * languages get the right list for free). Emits per document the
    * non-empty token count, the post-filter count, and the filtered
    * text itself (order preserved).
    *
    * Scale shape: the stopword list is the HEAD of the vocabulary — by
    * Zipf a handful of rows no matter the corpus size — so it collapses
    * to a single-row array broadcast under every document via
    * crossJoin; the per-doc filter is then a narrow higher-order
    * function, no second shuffle of the corpus. The df aggregation is
    * the one shuffle (token-keyed, partial+final). */
  def stopwordFilter(documents: DataFrame, idCol: String, textCol: String,
                     dfFracPct: Int): DataFrame = {
    val tokens = documents
      .select(col(idCol).as("doc_id"), explode(toks(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val nDocs = documents.select(countDistinct(col(idCol)).as("n_docs"))
    val stops = tokens.groupBy("token").agg(countDistinct("doc_id").as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 100 > col("n_docs") * dfFracPct)
      .agg(sort_array(collect_list("token")).as("stops"))
    val tk = filter(toks(col(textCol)), t => length(t) > 0)
    val kept = filter(tk, t => !array_contains(col("stops"), t))
    documents.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .crossJoin(broadcast(stops))
      .select(col("doc_id"),
        size(tk).cast("long").as("n_toks"),
        size(kept).cast("long").as("n_kept"),
        array_join(kept, " ").as("kept_text"))
      .orderBy("doc_id")
  }

  /** Per-document token DIVERSITY via Rényi-2 (collision) entropy — the
    * information-density quality signal (low diversity ⇒ repetitive /
    * templated text; keyword stuffing scores far below natural prose).
    * Reported as the EFFECTIVE VOCABULARY `dl² / Σtf²` (the exponential
    * of Rényi-2 entropy −ln Σp²): "this document uses the equivalent of
    * N equally-likely tokens". Monotone-equivalent to the entropy
    * itself, but EXACT — counts, their squares, and one final floored
    * division, no transcendental anywhere. Shannon entropy would need a
    * per-term `ln` whose cross-engine libm divergence this codebase's
    * oracle discipline forbids (see [[tfidfTopTerms]]); Rényi-2 carries
    * the same signal in rational arithmetic.
    *
    * Scale shape: one (doc, token) count shuffle + one doc-keyed sum —
    * both partial-aggregated map-side. Nothing joins, nothing sorts
    * but the bounded output. */
  def tokenDiversity(documents: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = documents
      .select(col(idCol).as("doc_id"), explode(toks(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    tokens.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"), count(lit(1)).as("n_distinct"),
           sum(col("tf") * col("tf")).as("sum_tf2"))
      .withColumn("eff_vocab_x100",
        floor(lit(100.0) * col("n_tokens") * col("n_tokens") / col("sum_tf2"))
          .cast("long"))
      .orderBy("doc_id")
  }

  /** Per-source divergence of the source's unigram distribution from
    * the corpus distribution — the domain-drift statistic behind
    * mixture design: a source whose language diverges hard from the
    * corpus is a candidate for its own mixture bucket or a quality
    * look; divergence ≈ 0 means the source adds volume, not variety.
    * The measure is Pearson χ² divergence `Σ (p−q)²/q` — an
    * f-divergence like KL (same zero, same ordering on nearby
    * distributions) whose per-term contribution is pure +,−,×,÷ on
    * doubles: every op is a single correctly-rounded IEEE operation on
    * identical operands in any engine, where KL's per-term `ln(p/q)`
    * would hit cross-engine libm divergence. Contributions are floored
    * to 10⁹-scaled BIGINTs before the per-source sum (order-free).
    * q > 0 always: every source term is a corpus term by construction.
    *
    * Scale shape: two token-keyed count shuffles off one tokenization
    * (per-(source,term) and per-term), a vocabulary-keyed equi-join to
    * attach q under each source term, per-source totals as a tiny
    * window — the corpus shuffles on the token key only, exactly like
    * tf-idf. */
  def domainDivergence(documents: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val tokens = documents
      .select(col(srcCol).as("source"), explode(toks(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val perSrc = tokens.groupBy("source", "token").agg(count(lit(1)).as("cs"))
    val corpus = tokens.groupBy("token").agg(count(lit(1)).as("c"))
    val total = corpus.agg(sum("c").as("n")) // 1 row
    val ws = Window.partitionBy("source")
    perSrc.join(corpus, "token")
      .crossJoin(broadcast(total))
      .withColumn("ns", sum("cs").over(ws))
      .withColumn("p", col("cs").cast("double") / col("ns"))
      .withColumn("q", col("c").cast("double") / col("n"))
      .withColumn("contrib",
        floor(lit(1000000000.0) *
          (((col("p") - col("q")) * (col("p") - col("q"))) / col("q"))).cast("long"))
      .groupBy("source")
      .agg(max("ns").as("n_tokens"), count(lit(1)).as("n_terms"),
           sum("contrib").as("chi2_nano"))
      .orderBy("source")
  }

  /** Zipf-fit audit: the least-squares slope of log-frequency over
    * log-rank across the top `n` vocabulary — natural text sits near
    * slope −1 (Zipf's law); a corpus that bends far off it is
    * machine-generated, deduplicated into distortion, or template-heavy.
    * The regression runs over integer MILLI-scaled logs (⌊10³·ln x⌋) so
    * every sum in the closed-form slope is an exact order-free BIGINT
    * (max |Σ n·ΣXY| ≈ 5·10¹³ at n=1000 — far under 2⁶³); only the final
    * slope division is floating point, one exact IEEE op on identical
    * operands in any engine. Output is ONE row: the fitted slope plus
    * the integer sums that define it (self-auditing — any consumer can
    * recompute the division).
    *
    * Scale shape: a token-keyed count, a TakeOrderedAndProject for the
    * top-n, and a single-row aggregate over n rows. The corpus never
    * sorts. */
  def zipfFit(documents: DataFrame, textCol: String, n: Int): DataFrame = {
    val freq = documents
      .select(explode(toks(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("token").asc)
      .limit(n)
    // constant-valued but non-foldable partition key: the window ranks
    // the BOUNDED top-n only (a literal key would fold away and re-raise
    // the no-partition WindowExec warning — the q_vocab_build idiom)
    val ranked = freq
      .withColumn("rank", row_number().over(
        Window.partitionBy(pmod(hash(col("token")), lit(1)))
          .orderBy(col("f").desc, col("token").asc)))
    val pts = ranked.select(
      floor(lit(1000.0) * log(col("rank").cast("double"))).cast("long").as("x"),
      floor(lit(1000.0) * log(col("f").cast("double"))).cast("long").as("y"))
    pts.agg(count(lit(1)).as("n_points"),
            sum("x").as("sum_x"), sum("y").as("sum_y"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope",
        (col("n_points") * col("sxy") - col("sum_x") * col("sum_y")).cast("double") /
        (col("n_points") * col("sxx") - col("sum_x") * col("sum_x")).cast("double"))
  }

  /** Per-document n-gram NOVELTY: the fraction of a doc's distinct
    * trigrams whose corpus-wide FIRST occurrence (min doc_id) is this
    * doc — the marginal-contribution metric behind data valuation and
    * dedup-aware sampling (a doc whose every trigram already exists
    * earlier adds nothing a dedup pass wouldn't drop; high-novelty docs
    * carry the corpus's new content). The ratio is a floored
    * basis-point integer (exact cross-engine).
    *
    * Scale shape: distinct (doc, gram) pairs → a gram-keyed min
    * aggregate (partial map-side; the gram key is the shuffle), join
    * back on the gram — the same two-pass shape as exact dedup, over
    * grams instead of docs. No self-join, nothing quadratic. */
  def ngramNovelty(documents: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val docGrams = documents
      .select(col(idCol).as("doc_id"),
        explode(call_function("pos_grams", col(textCol), lit(n), lit(true))).as("gram"))
      .distinct()
    val owner = docGrams.groupBy("gram").agg(min("doc_id").as("first_doc"))
    docGrams.join(owner, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
           sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_bp",
        floor(lit(10000.0) * col("n_novel") / col("n_grams")).cast("long"))
      .orderBy("doc_id")
  }

  /** Corpus n-gram collocation stats: top-k bigrams by occurrence count
    * (ties broken on the bigram), the LM-style corpus statistic behind
    * vocabulary building and boilerplate detection. One narrow
    * generator (adjacent-pair transform + explode) feeding one
    * token-keyed partial+final count and a TakeOrderedAndProject —
    * never a corpus-wide sort. */
  def ngramStats(documents: DataFrame, textCol: String, k: Int): DataFrame = {
    // fused native gram pass (see PosGrams) — value-identical to the
    // zipped-slice transform∘arrays_zip form it replaced (pinned in
    // FunctionsSpec), whose lambdas evaluated interpreted per gram
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val grams = documents.select(
        call_function("pos_grams", col(textCol), lit(2), lit(true)).as("grams"))
      .select(explode(col("grams")).as("bigram"))
    grams.groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(k)
      .orderBy(col("n").desc, col("bigram").asc)
  }

  /** PMI-ranked collocations — the phrase-mining statistic behind
    * multi-word vocabulary entries and tokenizer merge candidates:
    * bigrams whose corpus probability exceeds what their parts predict.
    * Ranked by the PMI RATIO `p(xy)/(p(x)·p(y)) = n_xy·N²/(M·n_x·n_y)`
    * rather than its log — log is monotone, so the ranking is identical
    * and the score stays a short, identically-parenthesized IEEE
    * expression over exactly-representable counts (the cross-engine
    * float discipline BM25 uses; a transcendental log would diverge in
    * the last ulp). `minCount` kills the degenerate one-occurrence
    * bigrams that trivially maximize PMI.
    *
    * Scale shape: two narrow generators feeding token-keyed partial+
    * final counts, a bigram→unigram equi-join ×2 (vocabulary-keyed, the
    * Zipf head is where the mass is — at 100 TB salt the stop-token
    * keys like any hot aggregate), scalar totals as a 1-row broadcast,
    * and a TakeOrderedAndProject for the top-k — never a corpus-wide
    * sort. Count products stay < 2⁵³ for corpora to ~10⁸ bigram mass
    * per the doubled-out arithmetic; past that, rescale counts before
    * the ratio (ranking is scale-invariant). */
  def pmiCollocations(documents: DataFrame, textCol: String,
                      minCount: Long, k: Int): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val uni = documents.select(explode(
        call_function("pos_grams", col(textCol), lit(1), lit(true))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n_tok"))
    val bi = documents.select(explode(
        call_function("pos_grams", col(textCol), lit(2), lit(true))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_xy"))
    val totals = documents.agg(
      sum(size(call_function("pos_grams", col(textCol), lit(1), lit(true))))
        .cast("long").as("n_total"),
      sum(size(call_function("pos_grams", col(textCol), lit(2), lit(true))))
        .cast("long").as("m_total"))
    val ratio =
      (col("n_xy").cast("double") * col("n_total").cast("double") *
        col("n_total").cast("double")) /
      (col("m_total").cast("double") * col("n_x").cast("double") *
        col("n_y").cast("double"))
    bi.filter(col("n_xy") >= minCount)
      .withColumn("x", split(col("bigram"), " ").getItem(0))
      .withColumn("y", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("tok").as("x"), col("n_tok").as("n_x")), "x")
      .join(uni.select(col("tok").as("y"), col("n_tok").as("n_y")), "y")
      .crossJoin(broadcast(totals)) // deliberate 1-row broadcast
      .select(col("bigram"), col("n_xy"), col("n_x"), col("n_y"),
        round(ratio, 4).as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("bigram").asc)
      .limit(k)
      .orderBy(col("pmi_ratio").desc, col("bigram").asc)
  }

  /** Stopword-signature language ID (n-gram heuristic, SURVEY §2.2-I).
    * Deterministic: score per language = #tokens in that language's
    * signature set; argmax with alphabetical tiebreak. */
  private[engine] val langSigs: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "nicht"),
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de", "que"),
    "fr" -> Seq("le", "la", "et", "les"),
    "zh" -> Seq("de5", "shi4", "le5", "bu4"))

  private def sigScore(textCol: String, sig: Seq[String]): Column =
    size(filter(toks(col(textCol)), t => t.isin(sig.map(lit(_)): _*))).cast("long")

  /** Language ID over `textCol`; keeps `trueLangCol` for accuracy checks. */
  def langId(documents: DataFrame, idCol: String, textCol: String,
             trueLangCol: String): DataFrame = {
    val scored = documents.select(
      (col(idCol).as("doc_id") +: col(trueLangCol).as("true_lang") +:
        langSigs.map { case (l, sig) => sigScore(textCol, sig).as(s"score_$l") }): _*)
    val m = greatest(langSigs.map { case (l, _) => col(s"score_$l") }: _*)
    val pred = langSigs.foldRight(lit("und")) { case ((l, _), acc) =>
      when(col(s"score_$l") === m && m > 0, lit(l)).otherwise(acc)
    } // foldRight ⇒ first alphabetical winner takes the tie, matching the SQL CASE
    scored.withColumn("pred_lang", pred)
      .withColumn("is_match", col("pred_lang") === col("true_lang"))
      .orderBy("doc_id")
  }

  /** SEGMENT-level language ID (r17) — [[langId]] at paragraph
    * granularity: the document is cut into fixed `segTokens`-token
    * segments (the [[dedupParagraph]] segmentation — the fixture corpus
    * carries no newline structure), each segment votes through the same
    * signature scorer and tie rule, and the document reduces to its
    * majority language plus a MIXED fraction. Whole-doc language ID
    * mislabels code-switched and template-stitched pages (an English
    * boilerplate frame around a German article scores "en" overall);
    * the per-segment vote surfaces them: `mixed_ppm` is the ppm of
    * segments disagreeing with the doc majority — the filter threshold
    * a multilingual curation pass gates on. Majority ties break
    * alphabetical-first over {de, en, es, fr, und, zh}, the same CASE
    * cascade as the per-segment rule, so the whole query is
    * deterministic integer arithmetic.
    *
    * Scale shape: one narrow explode (`sequence` over the segment
    * count — segment text never materializes outside its own row's
    * `slice`), per-segment scoring is a codegen'd scalar projection,
    * and the reduce is ONE doc-keyed partial+final aggregate. The
    * 100 TB form is a map stage plus one aggregate — no join, no
    * pairwise stage. */
  def langIdSegments(documents: DataFrame, idCol: String, textCol: String,
                     trueLangCol: String, segTokens: Int = 30): DataFrame = {
    val t = toks(col(textCol))
    val nSeg = greatest(
      ceil(size(t).cast("double") / lit(segTokens.toDouble)).cast("int"), lit(1))
    val segs = documents.select(col(idCol).as("doc_id"),
        col(trueLangCol).as("true_lang"), t.as("tk"),
        explode(sequence(lit(0), nSeg - 1)).as("seg_id"))
      .select(col("doc_id"), col("true_lang"),
        slice(col("tk"), col("seg_id") * segTokens + 1, lit(segTokens)).as("seg"))
    val scored = segs.select(
      (col("doc_id") +: col("true_lang") +:
        langSigs.map { case (l, sig) =>
          size(filter(col("seg"), x => x.isin(sig.map(lit(_)): _*)))
            .cast("long").as(s"score_$l")
        }): _*)
    val m = greatest(langSigs.map { case (l, _) => col(s"score_$l") }: _*)
    val segPred = langSigs.foldRight(lit("und")) { case ((l, _), acc) =>
      when(col(s"score_$l") === m && m > 0, lit(l)).otherwise(acc)
    } // foldRight ⇒ first alphabetical winner takes the tie (the langId rule)
    val labels = langSigs.map(_._1).patch(4, Seq("und"), 0) // de,en,es,fr,und,zh
    val aggCols = count(lit(1)).as("n_segments") +:
      labels.map(l =>
        sum(when(col("pred") === l, 1L).otherwise(0L)).as(s"c_$l"))
    val counted = scored.withColumn("pred", segPred)
      .groupBy("doc_id", "true_lang")
      .agg(aggCols.head, aggCols.tail: _*)
    val mx = greatest(labels.map(l => col(s"c_$l")): _*)
    val majority = labels.foldRight(lit(labels.last)) { case (l, acc) =>
      when(col(s"c_$l") === mx, lit(l)).otherwise(acc)
    } // first alphabetical winner among tied majority counts
    counted
      .withColumn("majority_lang", majority)
      .withColumn("n_majority", mx)
      .withColumn("mixed_ppm",
        expr("1000000 * (n_segments - n_majority) DIV n_segments"))
      .withColumn("is_match", col("majority_lang") === col("true_lang"))
      .select("doc_id", "true_lang", "n_segments", "majority_lang",
        "n_majority", "mixed_ppm", "is_match")
      .orderBy("doc_id")
  }

  /** The diversity band [[qualityScore]] assigns, as a standalone
    * column — shared with the streaming curation chain so batch and
    * stream gate on the same verdict. */
  private[engine] def qualityBand(c: Column): Column = {
    val t = toks(c)
    val ratio = round(size(array_distinct(t)).cast("double") / size(t).cast("double"), 4)
    when(ratio >= 0.6, "high").when(ratio >= 0.3, "mid").otherwise("low")
  }

  /** Quality scoring: length / diversity / stopword ratios + band.
    * `ordered=false` keeps the projection fully narrow — the form that
    * runs unchanged on a streaming frame (global sort is unsupported
    * there), mirroring chunkDocuments' flag. */
  /** `round(|token set| / |token list|, 4)` — the quality_band
    * discriminant, shared by [[qualityScore]]'s banding and the
    * learned classifier's pseudo-labels so the two can never drift. */
  private def distinctRatio(c: Column): Column = {
    val t = toks(c)
    round(size(array_distinct(t)).cast("double") / size(t).cast("double"), 4)
  }

  def qualityScore(documents: DataFrame, idCol: String, textCol: String,
                   charsCol: String, ordered: Boolean = true): DataFrame = {
    val t = toks(col(textCol))
    val nTok = size(t).cast("double")
    val stop = Seq("the", "a", "of", "and", "is", "to")
    val scored = documents.select(
      col(idCol).as("doc_id"), col(charsCol).as("n_chars"),
      size(t).cast("long").as("n_tokens"),
      distinctRatio(col(textCol)).as("distinct_ratio"),
      round((col(charsCol) - (size(t) - lit(1))).cast("double") / nTok, 4).as("avg_token_len"),
      round(size(filter(t, x => x.isin(stop.map(lit(_)): _*))).cast("double") / nTok, 4).as("stopword_ratio"))
      .withColumn("quality_band",
        when(col("distinct_ratio") >= 0.6, "high")
          .when(col("distinct_ratio") >= 0.3, "mid")
          .otherwise("low"))
    if (ordered) scored.orderBy("doc_id") else scored
  }

  /** TRAIN the learned quality filter: a linear bag-of-tokens
    * classifier with closed-form, integer-scaled count-contrast
    * weights — the SQL-replicable cousin of the fastText-style quality
    * classifiers production pipelines train to EXTEND a curated signal
    * (label a slice with the rule-based gate, learn token weights,
    * score the whole corpus — the CCNet pattern). Each token of the
    * labeled slice gets the add-one-smoothed scaled frequency contrast
    *
    *   w(tok) = floor(S·(c⁺+1)/(t⁺+V)) − floor(S·(c⁻+1)/(t⁻+V))
    *
    * with S = 10⁶, V = labeled vocab size, counts WITH multiplicity —
    * every operand < 2⁵³ and the quotient floored, so the model
    * crosses engines exactly (the lmScore integer discipline). Output:
    * (tok, w), Zipf-bounded by the labeled slice's vocabulary — a
    * broadcastable artifact, trained once and served everywhere (the
    * BM25/BPE/LM/PQ train-offline split).
    *
    * `posCol` is a boolean label column on `labeled`. */
  def qualityClassifierTrain(labeled: DataFrame, textCol: String,
                             posCol: String): DataFrame = {
    val ex = labeled.select(col(posCol).as("pos"), explode(toks(col(textCol))).as("tok"))
    val counts = ex.groupBy("tok").agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("c1"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("c0"))
    val tot = counts.agg(sum("c1").as("t1"), sum("c0").as("t0"),
      count(lit(1)).as("v"))
    counts.crossJoin(broadcast(tot)).select(col("tok"),
      (floor(lit(1000000.0) * (col("c1") + 1L) / (col("t1") + col("v"))) -
       floor(lit(1000000.0) * (col("c0") + 1L) / (col("t0") + col("v"))))
        .cast("long").as("w"))
  }

  /** SCORE a corpus against a trained [[qualityClassifierTrain]] model:
    * doc score = Σ w(tok) over its whitespace tokens (multiplicity
    * kept; unseen tokens contribute 0 — the smoothing lives in the
    * weights), keep iff score ≥ 0. Scale shape: the model broadcasts
    * under the corpus explode (Zipf-bounded vocab), the per-doc sum is
    * one partial+final doc-keyed aggregate — the corpus shuffles token
    * rows once, history never re-reads. The streaming face
    * ([[graft.engine.stream.Streams.streamingQualityClassify]]) folds
    * the same weights as one broadcast map row with zero state. */
  def qualityClassifierScore(documents: DataFrame, idCol: String, textCol: String,
                             model: DataFrame, ordered: Boolean = true): DataFrame = {
    val ex = documents.select(col(idCol).as("doc_id"), explode(toks(col(textCol))).as("tok"))
    val scored = ex.join(broadcast(model), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(coalesce(sum("w"), lit(0L)).as("score"))
      .withColumn("pred_keep", col("score") >= 0L)
    if (ordered) scored.orderBy("doc_id") else scored
  }

  /** DSIR feature stream: every unigram AND bigram of the whitespace
    * token stream (empties skipped, multiplicity kept — the published
    * DSIR recipe's hashed n-gram features), each mapped to one of
    * `nBuckets` buckets by `poly_hash31(gram) % nBuckets`. Feature
    * HASHING is the scale move: the weight table is a fixed `nBuckets`
    * rows no matter the corpus vocabulary, so it broadcasts at any
    * corpus size. poly_hash31 (not xxhash) keeps the bucket assignment
    * replayable in the DuckDB oracle (the MinHash discipline). */
  private def dsirFeatures(documents: DataFrame, idCol: String, textCol: String,
                           nBuckets: Int): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val grams = concat(
      call_function("pos_grams", col(textCol), lit(1), lit(true)),
      call_function("pos_grams", col(textCol), lit(2), lit(true)))
    documents
      .select(col(idCol).as("doc_id"), explode(grams).as("f"))
      .select(col("doc_id"),
        pmod(call_function("poly_hash31", col("f")), lit(nBuckets.toLong)).as("bucket"))
  }

  /** TRAIN the DSIR importance-weight table (Data Selection via
    * Importance Resampling — hashed n-gram importance weights, public
    * recipe): per hash bucket, the centered integer-scaled ratio of
    * add-one-smoothed feature probabilities under the TARGET slice vs
    * the RAW corpus,
    *
    *   w(b) = (S·(c_t+1)·(T_r+B)) div ((c_r+1)·(T_t+B)) − S
    *
    * with S = 10⁴ and B = `nBuckets` (the smoothing vocabulary is the
    * fixed bucket space, not the corpus vocab — hashing bounds it by
    * construction). `w` is the exact-integer surrogate of DSIR's
    * per-feature log-ratio: S·(r−1) ≈ S·ln r near r = 1 and floor is
    * monotone in r, so ranking is preserved while every intermediate
    * stays a BIGINT product of bounded operands — the engine-exact
    * discipline qualityClassifierTrain / lmTable use (no
    * transcendentals, so the table hash-oracles). Numerator bound:
    * S·(c_t+1)·(T_r+B) < 10⁴·T² — fine to T ≈ 3·10⁷ features; past
    * that, run the same arithmetic in DECIMAL(38,0) (both engines
    * have 128-bit decimals) or shard T's scale down.
    *
    * `isTarget` is any boolean Column over `documents` naming the
    * target-domain slice (the fixture binds `lang = 'en'`: "select
    * raw-crawl docs that look like the English slice"). Output
    * `(bucket, w)`: ≤ `nBuckets` rows, trained once, broadcast
    * everywhere (the BM25/BPE/LM/PQ train-offline split). */
  def dsirTable(documents: DataFrame, idCol: String, textCol: String,
                isTarget: Column, nBuckets: Int = 1024,
                scale: Long = 10000L): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val grams = concat(
      call_function("pos_grams", col(textCol), lit(1), lit(true)),
      call_function("pos_grams", col(textCol), lit(2), lit(true)))
    val fb = documents.select(isTarget.as("tgt"), explode(grams).as("f"))
      .select(col("tgt"),
        pmod(call_function("poly_hash31", col("f")), lit(nBuckets.toLong)).as("bucket"))
    val counts = fb.groupBy("bucket").agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val tot = counts.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    counts.crossJoin(broadcast(tot)).select(col("bucket"),
      (expr(s"($scale * (ct + 1) * (tr + $nBuckets)) div ((cr + 1) * (tt + $nBuckets))")
        - scale).as("w"))
  }

  /** SCORE a corpus against a trained [[dsirTable]]: doc importance =
    * Σ count(b)·w(b) over the doc's hashed n-gram buckets — the
    * sum-of-centered-ratios surrogate of DSIR's log importance weight
    * (exact under the Taylor correspondence documented on the table).
    * Buckets the training corpus never saw contribute 0 (left join —
    * matters for the streaming face scoring unseen text). Scale shape:
    * the ≤B-row table broadcasts under the feature explode; the only
    * shuffle is the (doc, bucket) → doc partial+final aggregate pair,
    * both keyed by doc; history never re-reads. Streaming face:
    * [[graft.engine.stream.Streams.streamingDsirScore]] folds the same
    * table as one broadcast map row with zero state. */
  def dsirScore(documents: DataFrame, idCol: String, textCol: String,
                table: DataFrame, nBuckets: Int = 1024,
                ordered: Boolean = true): DataFrame = {
    val db = dsirFeatures(documents, idCol, textCol, nBuckets)
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
    val scored = db.join(broadcast(table), Seq("bucket"), "left")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_feats"),
        coalesce(sum(col("cnt") * col("w")), lit(0L)).as("dsir_score"))
    if (ordered) scored.orderBy("doc_id") else scored
  }

  /** Systematic importance RESAMPLING over [[dsirScore]] output — the
    * "R" of DSIR: draw `n` times proportional to per-doc mass
    * `score − min(score) + 1` (shifted positive so every doc keeps
    * nonzero probability) with the systematic (low-variance, stratified)
    * scheme: draw i hits the doc whose cumulative-mass interval
    * [lo, hi) contains p_i = ((2i+1)·T) div (2n). Deterministic and
    * all-integer, so the draw multiset hash-oracles — the published
    * alternative (Gumbel top-k) needs logs of uniforms, which no two
    * engines floor identically.
    *
    * The global cumulative sum is the classic two-phase prefix scan,
    * NOT a single-partition window (the q_pack_global discipline):
    * intra-block cumsum partitioned by `pkey = doc_id div pkeyWidth`
    * runs parallel per block; the per-block totals (≈ N/pkeyWidth rows,
    * bounded) take the only ordered window; block offsets broadcast
    * back. Draw counts then need NO join at all: with cnt(x) = #draws
    * strictly left of mass-coordinate x,
    *
    *   cnt(x) = min(n, (max(0, 2n·x − T) + 2T − 1) div (2T))
    *
    * (exact integer ceil of (2n·x − T)/(2T), clamped), and a doc's
    * draws = cnt(hi) − cnt(lo) — pure per-row arithmetic, verified
    * against brute-force enumeration in the spec. Output: the sampled
    * multiset `(doc_id, mass, n_draws)`, n_draws ≥ 1. */
  def dsirSample(scores: DataFrame, idCol: String, scoreCol: String,
                 n: Int = 64, pkeyWidth: Long = 1024L): DataFrame = {
    val mn = scores.agg(min(col(scoreCol)).as("mn"))
    // materialize the (doc_id, mass, pkey) projection ONCE: it feeds the
    // intra-block cumsum, the block totals AND the grand total, and
    // without a checkpoint Spark re-executes the whole upstream scoring
    // DAG per consumer. 3 longs/doc — the narrowest frame in the
    // pipeline. Truncated, NOT persisted (r18 measured flat at 11 jobs
    // either way, and PlanShapeSpec pins the truncated plan: the scoring
    // DAG must not re-print per window consumer).
    val m = Lineage.truncate(scores.crossJoin(broadcast(mn)).select(
      col(idCol).as("doc_id"),
      (col(scoreCol) - col("mn") + lit(1L)).as("mass"),
      expr(s"${idCol} div ${pkeyWidth}").as("pkey")))
    val intra = m.withColumn("intra",
      sum("mass").over(Window.partitionBy("pkey").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // per-block totals: ≈ N/pkeyWidth rows — the bounded ordered window,
    // single-partition move kept explicit (constWindowKey idiom)
    val blocks = m.groupBy("pkey").agg(sum("mass").as("bm"))
      .withColumn("off",
        sum("bm").over(Window
          .partitionBy(graft.engine.functions.GraftFunctions.constWindowKey(col("pkey")))
          .orderBy("pkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("bm"))
    val tot = blocks.agg(max(col("off") + col("bm")).as("t"))
    def cntSql(x: String): String =
      s"least(${n}L, (greatest(0L, ${2L * n} * ($x) - t) + 2 * t - 1) div (2 * t))"
    intra.join(broadcast(blocks.select("pkey", "off")), "pkey")
      .crossJoin(broadcast(tot))
      .withColumn("hi", col("off") + col("intra"))
      .withColumn("n_draws", expr(cntSql("hi")) - expr(cntSql("hi - mass")))
      .select(col("doc_id"), col("mass"), col("n_draws"))
      .where(col("n_draws") > 0L)
      .orderBy("doc_id")
  }

  /** Token counting: whitespace split vs a BPE-ish regex tokenizer. */
  def tokenCounts(documents: DataFrame, idCol: String, textCol: String): DataFrame =
    documents.select(
      col(idCol).as("doc_id"),
      size(toks(col(textCol))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col(textCol), lit("[a-z]+|[0-9]+"), lit(0))).cast("long").as("re_tokens"))
      .orderBy("doc_id")

  /** Position-weighted polynomial document fingerprint (rolling-hash
    * family; exactly reproducible in ANSI SQL — see object scaladoc). */
  def fingerprint(documents: DataFrame, idCol: String, textCol: String): DataFrame =
    documents
      .select(col(idCol).as("doc_id"), posexplode(toks(col(textCol))).as(Seq("pos", "tok")))
      .groupBy("doc_id")
      .agg(
        pmod(sum((col("pos").cast("long") + 1L) *
          pmod(length(col("tok")).cast("long") * 7L + ascii(col("tok")).cast("long"), lit(1000003L))),
          lit(1000000007L)).as("fp"),
        count(lit(1)).as("n_tokens"))
      .orderBy("doc_id")

  /** Gopher-style document quality rules in exact arithmetic — the
    * rule-based curation filter (word-count bounds, mean-word-length
    * band, max-token-repetition cap) every large text pipeline runs
    * before anything model-based. All metrics are integers or floored
    * integer-scaled ratios, so the verdict is bit-identical across
    * engines (numerator/denominator < 2⁵³, gap ≥ 1/denominator ≫ ulp).
    *
    * Zero-length tokens are dropped BEFORE any counting: consecutive /
    * leading / trailing spaces make `split` emit empty strings, and an
    * earlier formulation that derived mean word length from the
    * single-space-join identity `Σ len(w) = n_chars − (n_words − 1)`
    * silently skewed n_words, mean_len_x100, and rep_x10000 — flipping
    * keep verdicts — on any real-world text violating that contract.
    *
    * Scale: the statistics are a pure function of one document, so the
    * whole gate is ONE narrow native pass ([[graft.engine.functions
    * .GopherStats]] — term frequencies in a per-row hash map over
    * zero-copy token views) — no exchange at any corpus size. The
    * earlier composed form (token explode → (doc, token) count → doc
    * rollup → id-spine join) shuffled the corpus token stream twice to
    * compute the same three numbers; value identity between the two
    * forms is pinned in FunctionsSpec, and docs whose text tokenizes
    * to nothing keep their (n_words = 0, keep = false) row. */
  def gopherRules(documents: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    documents
      .select(col(idCol).as("doc_id"),
        call_function("gopher_stats", col(textCol)).as("gs"))
      .select(col("doc_id"),
        coalesce(col("gs.n_words"), lit(0L)).as("n_words"),
        col("gs.mean_len_x100").as("mean_len_x100"),
        col("gs.rep_x10000").as("rep_x10000"))
      .withColumn("keep",
        col("n_words").between(5, 1000) &&
        col("mean_len_x100").between(300, 1000) &&
        col("rep_x10000") < 2000)
      .orderBy("doc_id")
  }

  /** Exact-integer TF-IDF: top-k terms per document scored
    * `tf * ((1_000_000 * N) / df rounded down)` — every intermediate is
    * BIGINT (the division is one exact double op on values < 2^53, then
    * floored), so the score is bit-identical across engines where a
    * float `ln(N/df)` idf would hit cross-engine libm divergence.
    * Rank ties break on the token, making top-k deterministic.
    *
    * Scale: two hash aggregates (tf on (doc, token), df on token) that
    * AQE co-partitions on `token` for the join, plus a broadcast of the
    * N singleton. The df side is vocabulary-sized (Zipf: millions of
    * rows at 100 TB, not billions) — far smaller than the corpus but
    * too hot to broadcast blindly; the shuffle equi-join on token is
    * the safe default and skew on stopword tokens is bounded because
    * tf already collapsed per-doc repeats. */
  def tfidfTopTerms(documents: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val tokens = documents
      .select(col(idCol).as("doc_id"), explode(toks(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val tf = tokens.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfq = tokens.groupBy("token").agg(countDistinct("doc_id").as("df"))
    val nDocs = documents.agg(countDistinct(col(idCol)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token").asc)
    tf.join(dfq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf") * floor(lit(1000000L) * col("n_docs") / col("df")).cast("long"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("doc_id", "rk", "token", "tf", "df", "score")
      .orderBy("doc_id", "rk")
  }

  /** Fixed-size token chunking with overlap — the RAG / sequence-packing
    * primitive: each document becomes ⌈n/stride⌉ chunks of up to
    * `chunkSize` tokens starting every `chunkSize − overlap` tokens.
    * Pure generator shape (stepped `sequence` + `posexplode` + `slice`):
    * narrow, no shuffle, chunk text rebuilt executor-side. */
  def chunkDocuments(documents: DataFrame, idCol: String, textCol: String,
                     chunkSize: Int, overlap: Int,
                     ordered: Boolean = true): DataFrame = {
    require(overlap < chunkSize, "overlap must be smaller than the chunk")
    val stride = chunkSize - overlap
    val chunks = documents
      .select(col(idCol).as("doc_id"), toks(col(textCol)).as("t"))
      .select(col("doc_id"), col("t"),
        posexplode(sequence(lit(1), size(col("t")), lit(stride))).as(Seq("p", "start")))
      .select(
        col("doc_id"), (col("p") + 1).cast("long").as("chunk_idx"),
        size(slice(col("t"), col("start"), lit(chunkSize))).cast("long").as("n_toks"),
        concat_ws(" ", slice(col("t"), col("start"), lit(chunkSize))).as("chunk_text"))
    // ordered=false keeps the transform fully narrow — required for
    // streaming frames (global sort is unsupported there) and for
    // callers that feed another keyed stage anyway
    if (ordered) chunks.orderBy("doc_id", "chunk_idx") else chunks
  }

  /** Contrastive positive-pair generation (the ICT / Contriever
    * pretraining recipe): two DISJOINT `spanLen`-token spans per
    * document — one from each half, offsets a pure [[keyMix]] function
    * of the doc id — emitted as (anchor, positive) text pairs. Spans
    * from the same document are the standard self-supervised positive;
    * the deterministic offsets make the dataset reproducible under any
    * partitioning or re-run (the assignSplits discipline, vs seeded
    * random spans that depend on physical layout). Docs under
    * 2·spanLen tokens emit nothing.
    *
    * Scale: one narrow projection — token split, two integer offsets,
    * two slices; no shuffle, no state. */
  def spanPairs(documents: DataFrame, idCol: String, textCol: String,
                spanLen: Int = 8, ordered: Boolean = true): DataFrame = {
    val t = filter(toks(col(textCol)), x => length(x) > 0)
    val base = documents
      .select(col(idCol).as("doc_id"), t.as("t"))
      .withColumn("n", size(col("t")))
      .filter(col("n") >= 2 * spanLen)
      .withColumn("half", (col("n") / 2).cast("int"))
      .withColumn("offa",
        pmod(keyMix(col("doc_id")), (col("half") - spanLen + 1).cast("long")))
      .withColumn("offb",
        pmod(keyMix(col("doc_id") + 1000003L),
          (col("n") - col("half") - spanLen + 1).cast("long")))
    val out = base.select(
      col("doc_id"),
      col("n").cast("long").as("n_toks"),
      (col("offa") + 1L).as("a_start"),
      (col("half") + col("offb") + 1L).as("b_start"),
      concat_ws(" ", slice(col("t"), (col("offa") + 1).cast("int"), lit(spanLen))).as("span_a"),
      concat_ws(" ", slice(col("t"), (col("half") + col("offb") + 1).cast("int"), lit(spanLen))).as("span_b"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Deterministic train/val/test split by multiplicative key hash
    * (80/10/10): the split is a pure function of the key — stable under
    * any partitioning, repartitioning, or re-run, unlike seeded
    * `randomSplit` whose outcome depends on physical layout. Returns
    * per-(split, dims) doc and token counts — the split manifest. */
  def assignSplits(documents: DataFrame, idCol: String, textCol: String,
                   dims: Seq[String]): DataFrame = {
    documents
      .select(col(idCol) +: size(toks(col(textCol))).cast("long").as("n_toks") +:
        dims.map(col): _*)
      .withColumn("split", splitOf(col(idCol)))
      .groupBy(col("split") +: dims.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
      .orderBy(col("split") +: dims.map(col): _*)
  }

  /** Sequence packing: assign each chunk to a fixed-token-budget training
    * sequence, greedily in chunk order within its document. `seq_id` is
    * `(cumulative tokens before me) div budget` over a per-document
    * running sum — exact integer arithmetic, one window sorted the same
    * way the chunker emits. Packing is per-document on purpose: a global
    * packer is a single-partition window (a scale cliff), while per-doc
    * packing distributes by the same key as every other doc-wise stage
    * and wastes at most one partial sequence per document. */
  def packSequences(chunks: DataFrame, docCol: String, idxCol: String,
                    nToksCol: String, budget: Int): DataFrame = {
    val w = Window.partitionBy(docCol).orderBy(col(idxCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks
      .withColumn("cum", sum(col(nToksCol)).over(w))
      .select(col(docCol), col(idxCol), col(nToksCol),
        floor((col("cum") - col(nToksCol)).cast("double") / budget).cast("long").as("seq_id"))
      .orderBy(docCol, idxCol)
  }

  /** Cross-doc second-stage packing: [[packSequences]] is per-doc by
    * design, which strands one underfull sequence per document; this
    * stage bin-packs those tails ACROSS documents without ever going
    * through a global single-partition window.
    *
    * The trick is capacity classes: a tail of `t` tokens gets class
    * `c = ⌊budget/t⌋`, and within a class every member has `t ≤ budget/c`
    * — so bins of exactly `c` members NEVER overflow the budget, and
    * every full bin is > 50% full (`c·t > c·budget/(c+1) ≥ budget/2`).
    * Assignment is then embarrassingly parallel: rank within the class
    * (size desc — the first-fit-decreasing order — then ids for
    * determinism) and chop the rank into groups of `c`. A second
    * partition key, the engine-neutral [[keyBucket]] shard of the doc
    * id, keeps the window distributed even when one class dominates
    * (uniform tails put ~half of them in class 1): the per-bin
    * guarantee is per-class, so sharding costs nothing but a few more
    * partial bins. All-integer manifest → hash-oracles.
    *
    * Scale: one keyed agg to the per-seq totals, one (class, shard)
    * window over ROWS ≈ DOCS (tails only, never chunks), one keyed agg
    * out. No single-partition exchange anywhere (plan-pinned). */
  def packGlobal(chunks: DataFrame, docCol: String, idxCol: String,
                 nToksCol: String, budget: Int, nShards: Int = 4): DataFrame = {
    // the packer itself defines the sequences (ONE source of truth for
    // the seq_id rule); its fixture sort is eliminated by the optimizer
    // under this aggregation
    val perSeq = packSequences(chunks, docCol, idxCol, nToksCol, budget)
      .groupBy(col(docCol), col("seq_id")).agg(sum(col(nToksCol)).as("t"))
    val tails = perSeq.filter(col("t") < budget)
      .withColumn("pack_class", floor(lit(budget.toDouble) / col("t")).cast("long"))
      .withColumn("shard", pmod(keyBucket(col(docCol)), lit(nShards)).cast("long"))
    val w = Window.partitionBy("pack_class", "shard")
      .orderBy(col("t").desc, col(docCol).asc, col("seq_id").asc)
    tails.withColumn("rn", row_number().over(w))
      .withColumn("bin_id",
        floor((col("rn") - 1).cast("double") / col("pack_class")).cast("long"))
      .groupBy("pack_class", "shard", "bin_id")
      .agg(count(lit(1)).as("n_parts"), sum("t").as("bin_tokens"))
      .select(col("pack_class"), col("shard"), col("bin_id"),
        col("n_parts"), col("bin_tokens"),
        floor(col("bin_tokens").cast("double") * 10000.0 / budget)
          .cast("long").as("fill_bp"))
      .orderBy("pack_class", "shard", "bin_id")
  }

  /** Per-sequence pack manifest — what a training data-loader actually
    * consumes from packing: one row per (doc, seq) with its chunk
    * count, total tokens, fill ratio vs the budget in floored basis
    * points, and an order-sensitive hash of the chunk-length list (the
    * block-diagonal attention-mask boundaries; the list itself ships to
    * the loader at scale, the hash pins its exact content and order
    * cross-engine, same convention as the inverted-index postings).
    * One keyed aggregate over the packer's output — no new shuffle key:
    * (doc, seq) extends the packer's own doc partitioning. */
  def packManifest(packed: DataFrame, docCol: String, idxCol: String,
                   nToksCol: String, budget: Int): DataFrame =
    packed
      .groupBy(col(docCol), col("seq_id"))
      .agg(count(lit(1)).as("n_chunks"),
           sum(col(nToksCol)).as("seq_tokens"),
           aggregate(
             transform(
               array_sort(collect_list(struct(col(idxCol).as("i"), col(nToksCol).as("n")))),
               s => s("n")),
             lit(0L),
             (acc, x) => pmod(acc * 1000003L + x, lit(1000000007L))).as("lengths_hash"))
      .select(col(docCol), col("seq_id"), col("n_chunks"), col("seq_tokens"),
        floor(col("seq_tokens").cast("double") * 10000.0 / budget).cast("long").as("fill_bp"),
        col("lengths_hash"))
      .orderBy(col(docCol), col("seq_id"))

  /** Data-mixture report: per-(dims) document and token accounting with
    * corpus shares in exact parts-per-million — the mixture table a
    * training run is configured from. One hash aggregate plus a
    * broadcast of the two-value totals row; shares are floored
    * integer-scaled ratios (engine-stable like gopherRules). */
  def mixtureReport(documents: DataFrame, idCol: String, textCol: String,
                    dims: Seq[String]): DataFrame = {
    val base = documents.select(
      col(idCol).as("doc_id") +: size(toks(col(textCol))).cast("long").as("n_toks") +:
        dims.map(col): _*)
    val grouped = base.groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
    val totals = base.agg(count(lit(1)).as("t_docs"), sum("n_toks").as("t_tokens"))
    grouped.crossJoin(broadcast(totals))
      .select(dims.map(col) ++ Seq(
        col("n_docs"), col("n_tokens"),
        floor(lit(1000000.0) * col("n_docs") / col("t_docs")).cast("long").as("doc_ppm"),
        floor(lit(1000000.0) * col("n_tokens") / col("t_tokens")).cast("long").as("token_ppm")): _*)
      .orderBy(dims.map(col): _*)
  }

  /** Benchmark-contamination detection: flag corpus documents sharing at
    * least `minShared` distinct word n-gram shingles with any benchmark
    * document — the eval-decontamination pass a training corpus needs.
    * The benchmark shingle set is small by construction, so it
    * broadcasts and the corpus side never shuffles for the probe; the
    * per-(doc, bench) overlap count is an ordinary partial+final
    * aggregate. Exact (no hashing), hence oracle-checkable. */
  /** Distinct 3-token shingle set of a text column — the native
    * [[graft.engine.functions.PosGrams]] pass + array_distinct (r17).
    * The previous zipped-slice transform∘arrays_zip form (itself a fix
    * over the O(tokens²) element_at lambda) still evaluated its lambda
    * INTERPRETED and materialized every token twice; pos_grams is
    * pinned value-identical in FunctionsSpec and emits zero-copy gram
    * views in codegen. Null text coalesces to the empty array the old
    * `when` form produced (the streaming decontaminate consumer uses
    * this as an array VALUE, not only under a generator). */
  private[engine] def shingles3(c: Column): Column =
    coalesce(
      array_distinct(call_function("pos_grams", c, lit(3), lit(false))),
      array().cast("array<string>"))

  def contamination(corpus: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchIdCol: String, benchTextCol: String,
                    n: Int = 3, minShared: Int = 2): DataFrame = {
    require(n == 3, "fixture contract pins 3-token shingles")
    def shingles(c: Column): Column = shingles3(c)
    val cs = corpus.select(col(idCol).as("doc_id"), explode(shingles(col(textCol))).as("sh"))
    val bs = benchmark.select(col(benchIdCol).as("bench_id"),
      explode(shingles(col(benchTextCol))).as("sh"))
    cs.join(broadcast(bs), "sh")
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_id", "bench_id")
  }

  /** ROUGE-N overlap audit (r17) — CLIPPED-multiset n-gram
    * recall/precision/F1 between candidate and reference texts: the
    * canonical summarization/eval metric, and the decontamination
    * family's multiset-aware face. [[contamination]] counts DISTINCT
    * shared shingles, so a candidate repeating one leaked reference
    * gram 50× scores the same as one occurrence; ROUGE clips instead —
    * per gram the pair scores `min(c_cand(g), c_ref(g))`, the exact
    * n-gram co-occurrence credit. All-integer ppm arithmetic (this
    * file's no-transcendentals rule):
    *
    *   shared        = Σ_g min(c_cand(g), c_ref(g))
    *   recall_ppm    = ⌊10⁶·shared / ref_total⌋
    *   precision_ppm = ⌊10⁶·shared / cand_total⌋
    *   f1_ppm        = ⌊2·r·p / (r+p)⌋  (harmonic mean of the ppms)
    *
    * Scale shape: references are an EVAL SET — small by construction —
    * so their per-(ref, gram) count table broadcasts (the
    * [[contamination]] discipline) and the corpus side never shuffles
    * for the probe; the per-(cand, gram) count and the pair overlap are
    * partial+final aggs; pairs exist only where a gram matches, so the
    * output is overlap-sized, never cand × ref. The one non-broadcast
    * join attaches cand_total to the overlap rows — overlap-sized
    * against a doc-count-sized total table, both keyed by cand_id. */
  def rougeOverlap(candidates: DataFrame, candIdCol: String, candTextCol: String,
                   references: DataFrame, refIdCol: String, refTextCol: String,
                   n: Int = 2): DataFrame = {
    require(n == 2, "fixture contract pins bigrams")
    graft.engine.functions.GraftFunctions.register(candidates.sparkSession)
    // native pos_grams (r17): the transform∘arrays_zip bigram form ran
    // interpreted (pinned value-identical in FunctionsSpec); both
    // consumers are generators, where pos_grams' null and the old
    // form's empty array behave identically
    def grams(c: Column): Column = call_function("pos_grams", c, lit(2), lit(false))
    val cg = candidates.select(col(candIdCol).as("cand_id"),
        explode(grams(col(candTextCol))).as("g"))
      .groupBy("cand_id", "g").agg(count(lit(1)).as("c_cand"))
    val candTot = cg.groupBy("cand_id").agg(sum("c_cand").as("cand_total"))
    val rg = references.select(col(refIdCol).as("ref_id"),
        explode(grams(col(refTextCol))).as("g"))
      .groupBy("ref_id", "g").agg(count(lit(1)).as("c_ref"))
    val refTot = rg.groupBy("ref_id").agg(sum("c_ref").as("ref_total"))
    cg.join(broadcast(rg), "g")
      .groupBy("cand_id", "ref_id")
      .agg(sum(least(col("c_cand"), col("c_ref"))).as("shared"))
      .join(broadcast(refTot), "ref_id")
      .join(candTot, "cand_id")
      .select(col("cand_id"), col("ref_id"), col("shared"),
        expr("1000000 * shared DIV ref_total").as("recall_ppm"),
        expr("1000000 * shared DIV cand_total").as("precision_ppm"))
      .withColumn("f1_ppm",
        expr("2 * recall_ppm * precision_ppm DIV (recall_ppm + precision_ppm)"))
      .orderBy("cand_id", "ref_id")
  }

  /** Unicode NFC normalization pass — canonical composition of the text
    * column plus a changed flag, the "fix the text before you hash it"
    * curation step (decomposed accents, legacy encodings round-tripped
    * through NFD, etc. make byte-identical content hash differently and
    * silently defeat exact dedup downstream). Narrow scalar projection
    * via the native [[graft.engine.functions.NormalizeNfc]] expression
    * (ASCII fast-path, codegen'd); hash-oracled against DuckDB's
    * `nfc_normalize`, which the Unicode stability policy pins to the
    * same output. */
  def normalizeText(documents: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    documents.select(col(idCol).as("doc_id"),
        call_function("nfc_normalize", col(textCol)).as("text_nfc"),
        (call_function("nfc_normalize", col(textCol)) =!= col(textCol)).as("changed"))
      .orderBy("doc_id")
  }

  /** Corpus-contract tokenizer normalization: every text operator here
    * assumes SINGLE-SPACED token streams (the [[bpeStep]] scaladoc
    * contract); this is the pass that makes arbitrary text meet it —
    * NFC composition (the native `nfc_normalize`), optional punctuation
    * isolation (spaces around each ASCII-punct char, so `foo,bar`
    * tokenizes as three tokens), and whitespace collapse (any run of
    * space/tab/newline/CR/FF → one space, ends trimmed). One narrow
    * codegen'd projection — the 100 TB form is a pure map stage, and
    * `op ∘ tokenize(messy) ≡ op(clean)` is property-tested for the
    * downstream operators.
    *
    * The whitespace class is written EXPLICITLY (`[ \t\n\r\f]`), not as
    * `\s`, because Java and RE2 disagree on `\s` (vertical tab) — the
    * explicit class is identical in both engines, which the oracle
    * replay depends on. */
  def tokenize(documents: DataFrame, idCol: String, textCol: String,
               splitPunct: Boolean = false, ordered: Boolean = true): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val nfc = call_function("nfc_normalize", col(textCol))
    val punct = if (splitPunct) regexp_replace(nfc, "([\\p{Punct}])", " $1 ") else nfc
    val collapsed = trim(regexp_replace(punct, "[ \\t\\n\\r\\f]+", " "))
    val out = documents.select(col(idCol).as("doc_id"), collapsed.as("text_tok"),
      when(length(collapsed) === 0, lit(0L))
        .otherwise(size(split(collapsed, " ")).cast("long")).as("n_tokens"))
    // ordered=false is the streaming face: a narrow projection needs no
    // sort and runs append-mode on an unbounded frame unchanged
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Gopher-style repetition metrics: per document, the fraction of
    * duplicate 2-grams and 3-grams (a high duplicate-n-gram share is the
    * canonical boilerplate/spam signal the Gopher rules filter on, and
    * repetitious text also degrades training loss directly). Fractions
    * are floored basis points — exact integer arithmetic, so the query
    * hash-oracles with no float tolerance.
    *
    * Scale shape: everything is a NARROW scalar projection — the n-gram
    * arrays, their distinct counts, and the ratios compute per row with
    * no explode and no shuffle (only the output sort, a harness
    * artifact). The 100 TB form is a pure map stage. */
  def repetitionMetrics(documents: DataFrame, idCol: String, textCol: String,
                        ordered: Boolean = true): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val t = toks(col(textCol))
    // fused native pass per n (see DupNgramBp): n-grams are zero-copy
    // byte slices of the text, distinct-counted exactly — the composed
    // transform∘arrays_zip form ran its lambdas interpreted and
    // materialized every gram twice (value-identity pinned in spec)
    val out = documents.select(col(idCol).as("doc_id"),
      size(t).cast("long").as("n_toks"),
      call_function("dup_ngram_bp", col(textCol), lit(2)).as("dup_bigram_bp"),
      call_function("dup_ngram_bp", col(textCol), lit(3)).as("dup_trigram_bp"))
    // ordered=false keeps the projection fully narrow — required on
    // streaming frames (global sort is unsupported there)
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Positioned n-gram anchors (duplicates kept — positions matter),
    * one native zero-copy pass (see PosGrams; value-identity vs the
    * zipped-slice form pinned in FunctionsSpec). */
  private def posGrams(c: Column, n: Int): Column =
    call_function("pos_grams", c, lit(n), lit(false))

  /** Corpus-level duplicate-substring detection — the Lee-et-al. "dedup
    * the training set itself" pass ([[contaminationExact]] is the same
    * machinery pointed at a benchmark): for every UNORDERED pair of
    * corpus documents sharing an exact token run of ≥ `minRun`, the
    * exact maximal run length. Long verbatim boilerplate (licenses,
    * headers, templated spam) shows up here even between documents that
    * are NOT near-duplicates overall, which is why a pipeline runs this
    * alongside MinHash.
    *
    * 5-token anchors instead of 3: the anchor self-join's fan-out is
    * Σf² over anchor frequencies, and a rarer anchor keeps f at
    * genuine-repeat levels (random n-gram collisions die off as
    * vocab^n). Same diagonal gaps-and-islands recovery; the join keys
    * by gram, the islands by (pair, diag) — no all-pairs stage, no DP.
    *
    * `anchorFreqCap` bounds the fan-out OUTRIGHT: an anchor occurring
    * more than `cap` times corpus-wide is non-discriminative by
    * definition (a stop-gram like "of the and of the" fans out f² with
    * no run information a rarer neighbor doesn't carry), so it is
    * dropped before the self-join — the worst per-gram join output is
    * cap², whatever the corpus. A run detected through capped anchors
    * survives via any one sub-cap anchor on its diagonal; boilerplate
    * copied into more than ~cap documents is the paragraph-dedup
    * operator's job, not this one's. The frequency count rides the SAME
    * gram-keyed partitioning the self-join shuffles on (a window count,
    * not a second aggregate+join), so the cap costs no extra exchange. */
  def duplicateSubstrings(documents: DataFrame, idCol: String, textCol: String,
                          minRun: Int = 10, anchor: Int = 5,
                          anchorFreqCap: Int = 64): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val g0 = documents.select(col(idCol).as("doc_id"),
      posexplode(posGrams(col(textCol), anchor)).as(Seq("pos", "gram")))
    val g = g0
      .withColumn("f", count(lit(1)).over(Window.partitionBy("gram")))
      .filter(col("f") <= anchorFreqCap)
      .drop("f")
    val m = g.as("x").join(g.as("y"), Seq("gram"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id_1"), col("y.doc_id").as("doc_id_2"),
              (col("x.pos") - col("y.pos")).as("diag"), col("x.pos").as("cpos"))
    val w = Window.partitionBy("doc_id_1", "doc_id_2", "diag").orderBy("cpos")
    m.withColumn("island", col("cpos") - row_number().over(w))
      .groupBy("doc_id_1", "doc_id_2", "diag", "island")
      .agg((count(lit(1)) + lit((anchor - 1).toLong)).as("run_len"))
      .groupBy("doc_id_1", "doc_id_2")
      .agg(max("run_len").as("max_run"))
      .filter(col("max_run") >= minRun)
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** Winnowing fingerprints (Schleimer-Wilkerson-Aiken, the MOSS
    * algorithm): hash every k-token gram, slide a window of `w`
    * consecutive gram hashes, and select each window's RIGHTMOST
    * minimal hash — the selected (position, hash) set is the document
    * fingerprint. Guarantee: any shared token run of ≥ w + k − 1
    * tokens yields at least one shared fingerprint, while expected
    * density is 2/(w+1) — POSITIONAL copy detection that set-based
    * MinHash (whole-doc similarity) and duplicateSubstrings (exact-run
    * anchors at full density) don't give at this cost.
    *
    * Docs with fewer than w grams get one window over whatever grams
    * exist (≥ 1 fingerprint for any doc with ≥ k tokens); docs under k
    * tokens have no grams and emit nothing. Hashes are [[PolyHash31]]
    * so the whole selection replays in the DuckDB oracle.
    *
    * k = 5 for the same reason [[duplicateSubstrings]] anchors on 5:
    * the DOWNSTREAM pair join's fan-out is Σf² over fingerprint
    * frequencies, and on a small-vocabulary corpus 3-gram fingerprints
    * are non-discriminative (measured: the k=3 pair join ran a 7.6×
    * slope on the 10× ladder; k=5 holds ~1). The guarantee moves to
    * shared runs of ≥ w + k − 1 = 8 tokens — still far below any
    * meaningful copied passage.
    *
    * Scale: selection is per-document arithmetic over the gram-hash
    * array — one narrow native pass ([[graft.engine.functions
    * .WinnowFps]]: PosGrams zero-copy slicing + the shared poly fold +
    * an O(n) monotonic-deque sliding minimum; the composed lambda form
    * it replaces ran interpreted at O(n·w) copies — 23 s vs ~1 s at
    * sf0.1, value identity pinned in FunctionsSpec), explode only at
    * output, no exchange. */
  def winnowFingerprints(documents: DataFrame, idCol: String, textCol: String,
                         k: Int = 5, w: Int = 4,
                         ordered: Boolean = true): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val out = documents
      .select(col(idCol).as("doc_id"),
        explode(call_function("winnow_fps", col(textCol), lit(k), lit(w))).as("f"))
      .select(col("doc_id"), col("f.pos").as("pos"), col("f.fp").as("fp"))
    if (ordered) out.orderBy("doc_id", "pos") else out
  }

  /** Copy-detection pairs over [[winnowFingerprints]]: unordered doc
    * pairs sharing ≥ `minShared` DISTINCT fingerprint hashes, with the
    * shared count. The winnowing guarantee makes this the bounded-cost
    * screen for "document B contains a ≥ (w+k−1)-token run copied from
    * A" — the pair set a plagiarism / license-boilerplate audit reads.
    *
    * Scale shape: fingerprint-keyed equi-join (never all-pairs) with
    * the [[duplicateSubstrings]] frequency-cap discipline — a hash
    * occurring in more than `freqCap` docs is non-discriminative
    * boilerplate and is dropped before the self-join, bounding the
    * worst per-key fan-out at cap²; the cap count rides the same
    * fp-keyed partitioning the join shuffles on. */
  def winnowPairs(documents: DataFrame, idCol: String, textCol: String,
                  k: Int = 5, w: Int = 4, minShared: Long = 2,
                  freqCap: Int = 64): DataFrame = {
    val fps = winnowFingerprints(documents, idCol, textCol, k, w, ordered = false)
      .select("doc_id", "fp").distinct()
    val capped = fps
      .withColumn("n", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("n") <= freqCap)
      .drop("n")
    capped.as("x").join(capped.as("y"), Seq("fp"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_id_1"), col("y.doc_id").as("doc_id_2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** The STANDING winnow-fingerprint index a rolling copy-detection
    * pipeline persists — `(fp, doc_id_ref, fps_ref)`: one row per
    * (capped) fingerprint occurrence, carrying the owning document's
    * FULL sorted capped fingerprint set. The set column is what lets
    * the streaming probe ([[graft.engine.stream.Streams
    * .streamingWinnowProbe]]) re-derive the exact shared count — and
    * emit each qualifying pair exactly once — NARROWLY after a
    * single-fingerprint candidate join, with zero streaming state.
    * Same corpus-wide frequency cap as [[winnowPairs]] (an over-cap
    * fingerprint is boilerplate, not evidence). Index size: Σ
    * fingerprints per doc ≈ 2n/(w+1) rows per n-gram doc. */
  def winnowIndex(documents: DataFrame, idCol: String, textCol: String,
                  k: Int = 5, w: Int = 4, freqCap: Int = 64): DataFrame = {
    val fps = winnowFingerprints(documents, idCol, textCol, k, w, ordered = false)
      .select("doc_id", "fp").distinct()
    val capped = fps
      .withColumn("n", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("n") <= freqCap)
      .drop("n")
    val sets = capped.groupBy("doc_id")
      .agg(array_sort(collect_set("fp")).as("fps_ref"))
    capped.join(sets, Seq("doc_id"))
      .select(col("fp"), col("doc_id").as("doc_id_ref"), col("fps_ref"))
  }

  /** EXACT substring decontamination (the Lee-et-al.-style pass that
    * [[contamination]]'s unordered shingle count approximates): for every
    * (corpus doc, benchmark doc) pair, the length of their longest EXACT
    * common token run, kept when ≥ `minRun` tokens. A verbatim leaked
    * eval question scores here even if the doc shares no other
    * vocabulary, and a doc merely topically close to a benchmark (many
    * scattered shingles, no long run) does NOT — the distinction the
    * approximate pass can't make.
    *
    * Mechanism: anchor n-grams WITH POSITIONS. Any common run of length
    * L ≥ `anchor` contains exactly L−anchor+1 consecutive anchor matches
    * on one diagonal (diag = corpus pos − bench pos), so after the
    * anchor equi-join, a gaps-and-islands pass per (doc, bench, diag)
    * recovers every maximal run length exactly: island size + anchor − 1.
    * No quadratic alignment, no per-pair DP — one broadcast join on the
    * anchor gram (benchmark side is small by definition) plus one window
    * and two aggregations, all keyed by (doc, bench, diag), the same
    * partitioning every stage uses.
    *
    * At 100 TB the anchor join is the only wide stage and it is bounded
    * by true anchor collisions — rare for 3-token grams outside real
    * overlap; a pathological stop-gram ("of the and") fans out but the
    * island group-by collapses it before anything quadratic forms. */
  def contaminationExact(corpus: DataFrame, idCol: String, textCol: String,
                         benchmark: DataFrame, benchIdCol: String, benchTextCol: String,
                         minRun: Int = 5, anchor: Int = 3): DataFrame = {
    require(anchor == 3, "fixture contract pins 3-token anchors")
    // positioned 3-gram anchors; duplicates KEPT (positions matter here,
    // unlike contamination's distinct shingle sets); native zero-copy
    // pass shared with [[duplicateSubstrings]]
    graft.engine.functions.GraftFunctions.register(corpus.sparkSession)
    def grams(c: Column): Column = posGrams(c, anchor)
    val cs = corpus.select(col(idCol).as("doc_id"),
      posexplode(grams(col(textCol))).as(Seq("cpos", "gram")))
    val bs = benchmark.select(col(benchIdCol).as("bench_id"),
      posexplode(grams(col(benchTextCol))).as(Seq("bpos", "gram")))
    val m = cs.join(broadcast(bs), "gram")
      .select(col("doc_id"), col("bench_id"),
              (col("cpos") - col("bpos")).as("diag"), col("cpos"))
    val w = Window.partitionBy("doc_id", "bench_id", "diag").orderBy("cpos")
    m.withColumn("island", col("cpos") - row_number().over(w))
      .groupBy("doc_id", "bench_id", "diag", "island")
      .agg((count(lit(1)) + lit((anchor - 1).toLong)).as("run_len"))
      .groupBy("doc_id", "bench_id")
      .agg(max("run_len").as("max_run"))
      .filter(col("max_run") >= minRun)
      .orderBy("doc_id", "bench_id")
  }

  /** Near-dup detection: exact token-set Jaccard over candidate pairs
    * blocked on `blockCols`. n = 1 (token sets) in the fixture binding
    * because its near-dups are token-shuffles — order-sensitive shingles
    * max out at jaccard 0.011 on that corpus; the banded variant of the
    * same machinery backs Similarity.minhashNearDup.
    *
    * BLOCKING CAVEAT (r6 VERDICT): an EXACT-match block column like
    * `n_chars` is a recall trap — a near-dup differing by one character
    * lands in a different block and can never pair. Fine for the
    * token-shuffle fixture regime (shuffles preserve length exactly);
    * production blocking on a numeric column should BAND it instead:
    * pass it via `bandCol = Some((name, w))` and the column is blocked
    * on `floor(col / w)` with candidates admitted across ADJACENT
    * bands, guaranteeing any pair within `w` of each other meets
    * (|Δcol| ≤ w ⇒ |Δband| ≤ 1). Shape stays an equi-join: side b
    * explodes to its 3 neighboring band keys (3× one side, the
    * standard sorted-neighborhood trade), each qualifying pair meets
    * on exactly one key (no dedup pass), and the exact-Jaccard verify
    * is unchanged — banding only ever ADDS candidates. */
  def ngramJaccard(documents: DataFrame, idCol: String, textCol: String,
                   blockCols: Seq[String], threshold: Double,
                   bandCol: Option[(String, Int)] = None,
                   saltCap: Option[Int] = None,
                   ordered: Boolean = true): DataFrame = {
    require(bandCol.isEmpty || saltCap.isEmpty,
      "ngramJaccard: saltCap is implemented for the plain block join only")
    // token sets are carried as SORTED DISTINCT 62-bit hash arrays, not
    // string arrays: |hash set| = |token set| and |hash ∩| = |token ∩|
    // (equal tokens hash equally; the 62-bit space makes a collision
    // among a corpus vocabulary vanishingly unlikely and deterministic),
    // so every Jaccard value — and the oracle — is unchanged, while the
    // candidate join moves 8-byte longs instead of UTF-8 tokens and the
    // per-pair verify is the zero-allocation native merge walk instead
    // of a per-row hash set (`array_intersect`). The in-block candidate
    // volume is still population² — this stays the exact-verify tier
    // under MinHash-LSH — but the constant per candidate is ~an order
    // smaller, which is what the 100 TB fan-out pays per pair.
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val base = documents.select(
      col(idCol).as("doc_id") +: (blockCols ++ bandCol.map(_._1)).map(col) :+
        call_function("token_set_hashes62", col(textCol)).as("shingles"): _*)
    // persist under saltCap: the tiled join's group count and both join
    // sides otherwise each re-run the scan→tokenize→hash pipeline
    hashSetJaccard(
      if (saltCap.isDefined) base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else base,
      blockCols, threshold, bandCol, saltCap, ordered)
  }

  /** [[ngramJaccard]] over already-hashed sets: `base` carries `doc_id`,
    * the block (and band) columns and `shingles`, a sorted distinct
    * 62-bit token-hash array. [[Similarity.scoredEvalTable]]'s truth
    * pass hands it the identical-token-set collapse. */
  private[ops] def hashSetJaccard(base: DataFrame, blockCols: Seq[String], threshold: Double,
                                  bandCol: Option[(String, Int)], saltCap: Option[Int],
                                  ordered: Boolean): DataFrame = {
    graft.engine.functions.GraftFunctions.register(base.sparkSession)
    val (a, b) = bandCol match {
      case None =>
        (base.select(col("doc_id").as("doc_id_1") +: blockCols.map(col) :+
           col("shingles").as("sa"): _*),
         base.select(col("doc_id").as("doc_id_2") +: blockCols.map(col) :+
           col("shingles").as("sb"): _*))
      case Some((bc, w)) =>
        val blk = floor(col(bc) / w).cast("long")
        (base.select(col("doc_id").as("doc_id_1") +: blockCols.map(col) :+
           blk.as("blk") :+ col("shingles").as("sa"): _*),
         base.select(col("doc_id").as("doc_id_2") +: blockCols.map(col) :+
           explode(array(blk - 1, blk, blk + 1)).as("blk") :+
           col("shingles").as("sb"): _*))
    }
    val joinCols = blockCols ++ bandCol.map(_ => "blk")
    // Size-ratio prune BEFORE the merge walk (the one the minhash verify
    // uses, [[Similarity.sizeBound]]). On the all-pairs audit tier
    // (q_dedup_eval's truth side) this is the difference between
    // walking every pair and walking the few with compatible sizes.
    val sizeBound = Similarity.sizeBound(size(col("sa")), size(col("sb")), threshold)
    // optional hot-block TILING (r17): a block key holding a huge
    // population turns this equi-join into ONE straggler task computing
    // |block|² merge walks — on the all-pairs audit tier (`all_blk = 1`,
    // the q_dedup_eval truth side) that is the WHOLE corpus in one task
    // (AQE's skew splitting cannot divide a single key). Balanced 2-D
    // pair tiling: rows hash into `s = ⌈cnt/cap⌉` groups (the count
    // broadcast back under the table, the saltCells discipline — no
    // driver action, cap stays the scale knob), the LEFT side emits one
    // replica per cell (g, v) for v ≥ g and the RIGHT side per cell
    // (u, g) for u ≤ g, and the join keys on the cell. Every unordered
    // pair meets in EXACTLY ONE cell — cross-group pairs as
    // (min-group, max-group) with no duplicate and no wasted probe,
    // same-group pairs on the diagonal where the id< filter dedupes —
    // so total probes are ~n²/2 (HALF the unsalted join's n², which
    // probes both orderings) spread over s(s+1)/2 even cells instead
    // of one task. An earlier triangle-salt variant (the minhash
    // hot-BUCKET fallback, where hot buckets are small fractions of
    // the corpus) replicated BOTH sides into every cell and measured
    // ~3× the probe volume when the "bucket" was the whole corpus.
    // Ids are emitted least/greatest per pair (jaccard is symmetric),
    // so the output is byte-identical to the unsalted join.
    val joined = saltCap match {
      case None =>
        a.join(b, joinCols)
          .filter(col("doc_id_1") < col("doc_id_2") && sizeBound)
      case Some(cap) =>
        val cnts = base.groupBy(blockCols.map(col): _*).agg(count(lit(1)).as("cnt"))
        val grouped = base.join(broadcast(cnts), blockCols)
          .withColumn("ns",
            greatest(floor((col("cnt") + (cap - 1)) / lit(cap.toDouble)), lit(1L))
              .cast("int"))
          .withColumn("g", pmod(xxhash64(col("doc_id")), col("ns")).cast("int"))
        val lhs = grouped
          .withColumn("cv", explode(sequence(col("g"), col("ns") - 1)))
          .select(col("doc_id").as("id_x") +: col("shingles").as("sx") +:
            col("g").as("cu") +: col("cv") +: blockCols.map(col): _*)
        val rhs = grouped
          .withColumn("cu", explode(sequence(lit(0), col("g"))))
          .select(col("doc_id").as("id_y") +: col("shingles").as("sy") +:
            col("cu") +: col("g").as("cv") +: blockCols.map(col): _*)
        lhs.join(rhs, blockCols ++ Seq("cu", "cv"))
          // diagonal cells hold the same group on both sides: keep one
          // ordering; cross cells hold each unordered pair exactly once
          .filter(col("cu") =!= col("cv") || col("id_x") < col("id_y"))
          .select(
            least(col("id_x"), col("id_y")).as("doc_id_1"),
            greatest(col("id_x"), col("id_y")).as("doc_id_2"),
            when(col("id_x") < col("id_y"), col("sx")).otherwise(col("sy")).as("sa"),
            when(col("id_x") < col("id_y"), col("sy")).otherwise(col("sx")).as("sb"))
          .filter(sizeBound)
    }
    val out = joined
      .withColumn("jaccard", Similarity.setJaccard(col("sa"), col("sb")))
      .filter(col("jaccard") >= threshold)
      .select("doc_id_1", "doc_id_2", "jaccard")
    // ordered=false skips the presentation sort — set-shaped consumers
    // (the eval truth pass feeding a full-outer join) don't need it
    if (ordered) out.orderBy("doc_id_1", "doc_id_2") else out
  }

  /** Asymmetric CONTAINMENT near-dup: a pair qualifies when the smaller
    * token set is mostly inside the larger one — |A∩B| / min(|A|,|B|) ≥ t
    * (max-containment). Jaccard misses exactly this regime: a short doc
    * fully quoted inside a long one scores |A|/|B| ≈ 0 Jaccard but
    * containment 1.0, and it is the shape of boilerplate-wrapper pages,
    * quote-reposts and template expansions in a web corpus. Emitted
    * directionally: `contained_id` is the doc with the SMALLER set
    * (lower id on ties), so a consumer can drop the contained copy and
    * keep the superset document.
    *
    * Same machinery and scale tier as [[ngramJaccard]]: token sets ride
    * as sorted distinct 62-bit hash arrays, the per-pair verify is the
    * zero-allocation native merge walk, candidates block on `blockCols`
    * (an equi-join — never all-pairs). NOTE containment candidates must
    * NOT block on length (the interesting pairs differ in length by
    * construction), so the fixture binds (lang, source) — bounded
    * populations that length-agnostic blocking keys give. In-block
    * volume is population², the exact-verify regime; MinHash-LSH stays
    * the unbounded-scale screen above it. */
  def containmentPairs(documents: DataFrame, idCol: String, textCol: String,
                       blockCols: Seq[String], threshold: Double): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val base = documents.select(
      col(idCol).as("doc_id") +: blockCols.map(col) :+
        call_function("token_set_hashes62", col(textCol)).as("shingles"): _*)
    val a = base.select(col("doc_id").as("doc_id_1") +: blockCols.map(col) :+
      col("shingles").as("sa"): _*)
    val b = base.select(col("doc_id").as("doc_id_2") +: blockCols.map(col) :+
      col("shingles").as("sb"): _*)
    val inter = call_function("sorted_intersect_size",
      col("sa"), col("sb")).cast("double")
    a.join(b, blockCols)
      .filter(col("doc_id_1") < col("doc_id_2"))
      .withColumn("containment",
        round(inter / least(size(col("sa")), size(col("sb"))), 4))
      .filter(col("containment") >= threshold)
      .select(
        when(size(col("sa")) < size(col("sb")), col("doc_id_1"))
          .when(size(col("sb")) < size(col("sa")), col("doc_id_2"))
          .otherwise(least(col("doc_id_1"), col("doc_id_2"))).as("contained_id"),
        when(size(col("sa")) < size(col("sb")), col("doc_id_2"))
          .when(size(col("sb")) < size(col("sa")), col("doc_id_1"))
          .otherwise(greatest(col("doc_id_1"), col("doc_id_2"))).as("container_id"),
        col("containment"))
      .orderBy("contained_id", "container_id")
  }

  /** Paragraph-level exact dedup (the C4/RefinedWeb boilerplate pass):
    * documents are cut into fixed-size non-overlapping token paragraphs
    * (the [[chunkDocuments]] generator with overlap 0), each distinct
    * paragraph text survives only at its FIRST corpus occurrence
    * (min (doc_id, chunk_idx) — the deterministic survivor policy), and
    * every document is rebuilt from its surviving paragraphs in order.
    * Finer-grained than document dedup: a page that quotes a widely
    * copied footer loses just that paragraph, not the page.
    *
    * Scale shape: the chunker is a narrow generator; the survivor pick
    * is ONE shuffle of the chunk stream keyed on the paragraph text
    * (Spark hash-partitions the string key — at 100 TB you'd project
    * `xxhash64(chunk_text)` as the window key first to shrink shuffle
    * records; kept exact here so the oracle replays it); the rebuild is
    * a doc-keyed aggregate, the same key the chunker emitted, and the
    * per-doc totals ride the same aggregate. No driver action anywhere. */
  def dedupParagraphs(documents: DataFrame, idCol: String, textCol: String,
                      paraSize: Int): DataFrame = {
    val chunks = chunkDocuments(documents, idCol, textCol, paraSize, 0, ordered = false)
    val w = Window.partitionBy("chunk_text").orderBy(col("doc_id").asc, col("chunk_idx").asc)
    val marked = chunks.withColumn("rk", row_number().over(w))
    val perDoc = marked.groupBy("doc_id").agg(
      count(lit(1)).as("n_chunks"),
      count(when(col("rk") === 1, lit(1))).as("n_kept"),
      array_join(
        transform(
          sort_array(collect_list(when(col("rk") === 1,
            struct(col("chunk_idx"), col("chunk_text"))))),
          s => s("chunk_text")),
        " ").as("clean_text"))
    documents.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Regex denylist scrub — the PII-redaction shape: count matches and
    * replace every occurrence with a mask token, in one projection. The
    * fixture binds a word-denylist pattern; real email/phone/IP patterns
    * slot into the same `\b(...)\b` alternation unchanged (the fixture
    * corpus is a letters-only token vocabulary, so those patterns would
    * exercise nothing here). Purely narrow — no shuffle at any scale —
    * and the pattern compiles once per task, not per row. */
  def regexScrub(documents: DataFrame, idCol: String, textCol: String,
                 pattern: String, mask: String,
                 ordered: Boolean = true): DataFrame = {
    val scrubbed = documents.select(col(idCol).as("doc_id"),
      size(regexp_extract_all(col(textCol), lit(pattern), lit(0))).cast("long").as("n_hits"),
      regexp_replace(col(textCol), pattern, mask).as("clean_text"))
    // ordered=false keeps it fully narrow — the streaming form
    if (ordered) scrubbed.orderBy("doc_id") else scrubbed
  }

  /** Temperature-scaled mixture sampling weights: stratum weight
    * ∝ n_docs^(1/2) (temperature T = 2 up-weights small strata, the
    * standard multilingual-sampling move), normalized to ppm plus the
    * floored per-stratum document target under `budget`. `sqrt` is an
    * IEEE correctly-rounded op, so individual weights are engine-exact;
    * the only order-sensitive value — the normalizing sum — is computed
    * as a left-to-right fold over the stratum-sorted weight list
    * (`aggregate` ≡ DuckDB `list_reduce`), never a parallel double sum.
    *
    * Scale: runs on the ALREADY-AGGREGATED stratum table (thousands of
    * rows at most, after the one corpus-side count shuffle), so the
    * single-row collect_list is a deliberate small-data barrier, not a
    * corpus materialization. */
  def mixtureWeights(documents: DataFrame, strataCol: String, budget: Int): DataFrame = {
    val counts = documents.groupBy(col(strataCol).as("stratum"))
      .agg(count(lit(1)).as("n_docs"))
    val packed = counts
      .agg(sort_array(collect_list(struct(col("stratum"), col("n_docs")))).as("arr"))
      .select(col("arr"),
        aggregate(col("arr"), lit(0.0d),
          (acc, x) => acc + sqrt(x("n_docs").cast("double"))).as("total"))
    packed.select(explode(col("arr")).as("s"), col("total"))
      .select(col("s.stratum").as("stratum"), col("s.n_docs").as("n_docs"),
        floor(lit(1000000.0) * sqrt(col("s.n_docs").cast("double")) / col("total"))
          .cast("long").as("weight_ppm"),
        floor(lit(budget.toDouble) * sqrt(col("s.n_docs").cast("double")) / col("total"))
          .cast("long").as("target_docs"))
      .orderBy("stratum")
  }

  /** Inverted-index build: token → document-frequency + posting list
    * (sorted doc ids) — the index-construction operator behind keyword
    * retrieval and the df side of TF-IDF. The posting list itself is
    * projected to an order-sensitive polynomial hash (the driver
    * comparator can't hash array cells, and at 100 TB you'd ship the
    * list to the index store, not the comparator) — the hash pins the
    * EXACT sorted membership cross-engine. One token-keyed partial+final
    * aggregate; postings assemble per token, never corpus-wide. */
  def invertedIndex(documents: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = documents
      .select(col(idCol).as("doc_id"), explode(toks(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()
    tokens.groupBy("token")
      .agg(count(lit(1)).as("df"),
           min("doc_id").as("first_doc"),
           max("doc_id").as("last_doc"),
           aggregate(sort_array(collect_list("doc_id")), lit(0L),
             (acc, x) => pmod(acc * 1000003L + x, lit(1000000007L)))
             .as("postings_hash"))
      .orderBy("token")
  }

  /** BM25 (k1 = 1.2, b = 0.75) keyword retrieval: top-k docs per query
    * over the same token stream the inverted index / TF-IDF operators
    * aggregate — the keyword half of a retrieval stack whose vector
    * half is the ANN family in [[Similarity]].
    *
    * Engine-exact scoring (the q_tfidf trick, extended): the float
    * parts are each a short, identically-parenthesized IEEE double
    * expression — idf as one floored scaled ratio
    * `floor(10⁶·(N−df+0.5)/(df+0.5))` (the classic BM25 idf's ln is
    * libm-divergent cross-engine; a scaled ratio preserves the same
    * ordering for fixed N), tf saturation as
    * `tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl/avgdl)` with every operand
    * < 2⁵³ — and the per-term score is floored to BIGINT BEFORE the
    * per-doc sum, so the aggregate is integer (order-free) and the
    * whole ranking hash-oracles.
    *
    * Scale shape: the query-term set broadcasts under the token scan,
    * pruning the stream BEFORE the tf/df aggregates (postings for
    * non-query terms never shuffle); doc lengths are one doc-keyed agg
    * reused across queries; the scalar totals broadcast. Top-k is a
    * per-query window over the scored candidates — candidates, not the
    * corpus. `tokens` and `dl` are the corpus [[docTokens]] and
    * [[docLengths]]. */
  def bm25TopK(tokens: DataFrame, dl: DataFrame,
               queries: DataFrame, qIdCol: String, qTextCol: String,
               k: Int): DataFrame = {
    val qterms = queries
      .select(col(qIdCol).as("query_id"), explode(toks(col(qTextCol))).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_dl"))
    bm25RankPairs(bm25ScoredPairs(tokens, dl, totals, qterms), k, ordered = true)
  }

  /** The corpus `(doc_id, token)` stream under the house tokenization
    * rule (`toks` + empty-token filter) — the posting-list input of
    * every BM25-family operator; in production, the materialized
    * inverted-index input. */
  def docTokens(documents: DataFrame, idCol: String, textCol: String): DataFrame =
    documents
      .select(col(idCol).as("doc_id"), explode(toks(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)

  /** The `(doc_id, dl)` length table over a [[docTokens]] stream — a
    * full token-stream groupBy, the heaviest shuffle in the BM25 scorer
    * after the posting join itself. */
  def docLengths(tokens: DataFrame): DataFrame =
    tokens.groupBy("doc_id").agg(count(lit(1)).as("dl"))

  /** Per-(query, doc, term) BM25 partial scores — the ADDITIVE half of
    * the scorer. BM25 is a sum of independent per-term contributions
    * (each term's idf and saturation depend only on that term's df and
    * the doc length), so scored pairs for DISJOINT term sets compose by
    * plain union — the property [[queryExpansion]] exploits to score
    * its expansion terms without re-joining the original terms'
    * postings a second time. */
  private def bm25ScoredPairs(tokens: DataFrame, dl: DataFrame,
                              totals: DataFrame, qterms: DataFrame): DataFrame = {
    val qtok = tokens.join(broadcast(qterms.select("token").distinct()), "token")
    val tf = qtok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // df per term = #docs containing it = tf's row count per token,
    // attached as a WINDOW over the tf aggregate rather than a
    // groupBy+self-join: the tf rows are one-per-(doc,term) already, so
    // a per-token count window is countDistinct(doc) by definition, the
    // plan stays LINEAR (the posting join runs once — a joined df
    // lookup made Catalyst re-derive a second posting subtree), and the
    // window runs over the candidate rows, never the corpus
    val dfw = Window.partitionBy("token")
    tf.withColumn("df", count(lit(1)).over(dfw))
      .join(broadcast(qterms), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("idf",
        floor(lit(1000000.0) * (col("n_docs") - col("df") + lit(0.5)) /
              (col("df") + lit(0.5))).cast("long"))
      .withColumn("sat",
        (col("tf") * lit(2.2)) /
          (col("tf") + lit(0.3) + lit(0.9) * col("dl") * col("n_docs") / col("total_dl")))
      .withColumn("term_score", floor(col("idf") * col("sat")).cast("long"))
  }

  /** BM25 with a PHRASE-PROXIMITY boost — the first-order fix for BM25's
    * term-independence blindness: a doc containing the query's words
    * ADJACENTLY ("join hash" as a phrase) outranks one scattering them,
    * via a flat integer bonus per occurrence of a query BIGRAM in the
    * doc. The base score is [[bm25TopK]]'s exact arithmetic (same
    * helpers, same integer-floored term scores); the bonus is integer,
    * so the combined ranking still hash-oracles.
    *
    * Scale shape: the bigram postings prune under the broadcast
    * query-bigram set exactly like the unigram postings under the term
    * set — proximity costs one more narrow gram pass over the corpus,
    * not a positional index. */
  def bm25Proximity(documents: DataFrame, idCol: String, textCol: String,
                    tokens: DataFrame, dl: DataFrame,
                    queries: DataFrame, qIdCol: String, qTextCol: String,
                    k: Int, phraseBonus: Long = 500000L): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val qterms = queries
      .select(col(qIdCol).as("query_id"), explode(toks(col(qTextCol))).as("token"))
      .filter(length(col("token")) > 0).distinct()
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_dl"))
    val base = bm25ScoredPairs(tokens, dl, totals, qterms)
      .groupBy("query_id", "doc_id")
      .agg(sum("term_score").as("base_score"), count(lit(1)).as("n_terms"))
    val qgrams = queries.select(col(qIdCol).as("query_id"),
        explode(call_function("pos_grams", col(qTextCol), lit(2), lit(true))).as("g"))
      .distinct()
    val dgrams = documents.select(col(idCol).as("doc_id"),
        explode(call_function("pos_grams", col(textCol), lit(2), lit(true))).as("g"))
      .join(broadcast(qgrams.select("g").distinct()), "g")
      .groupBy("doc_id", "g").agg(count(lit(1)).as("n_occ"))
    val bonus = dgrams.join(broadcast(qgrams), "g")
      .groupBy("query_id", "doc_id")
      .agg(sum("n_occ").as("ph"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id").asc)
    base.join(bonus, Seq("query_id", "doc_id"), "left_outer")
      .withColumn("phrase_hits", coalesce(col("ph"), lit(0L)))
      .withColumn("score", col("base_score") + lit(phraseBonus) * col("phrase_hits"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("query_id", "rk", "doc_id", "score", "phrase_hits", "n_terms")
      .orderBy("query_id", "rk")
  }

  /** The rank half: sum term scores per (query, doc), per-query top-k
    * (a WindowGroupLimit), optional global order. */
  private def bm25RankPairs(scored: DataFrame, k: Int, ordered: Boolean): DataFrame = {
    val agg = scored.groupBy("query_id", "doc_id")
      .agg(sum("term_score").as("score"), count(lit(1)).as("n_terms"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id").asc)
    val out = agg.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("query_id", "rk", "doc_id", "score", "n_terms")
    // ordered=false skips the global range-sort (an extra sampling pass
    // + shuffle) — the PRF feedback stage consumes the set, not an order
    if (ordered) out.orderBy("query_id", "rk") else out
  }

  /** Pseudo-relevance-feedback query expansion (the RM1-style retrieval
    * loop as ONE operator): (1) retrieve `nFeedback` docs per query with
    * BM25; (2) mine expansion terms from that feedback set — per query,
    * the top `mExpand` non-query tokens by `tf_in_feedback × idf` (the
    * q_tfidf integer idf rule, so a term frequent in the feedback docs
    * but rare corpus-wide expands the query, and a stopword doesn't);
    * (3) re-retrieve with originals ∪ expansions under the IDENTICAL
    * BM25 arithmetic ([[bm25ScoredPairs]] — shared core, zero drift).
    * Recovers relevant docs that share no literal term with the query
    * (vocabulary-mismatch recall, the thing plain keyword search can't
    * do without embeddings).
    *
    * Scale shape: three passes of already-scale-shaped pieces. Stage 1
    * is [[bm25TopK]] (query-term-filtered posting join + per-query
    * WindowGroupLimit). Stage 2 touches only feedback-doc tokens
    * (|fb| ≤ queries × nFeedback — a broadcastable id set), the df
    * lookup is token-keyed over the candidate term set, and the
    * expansion cut is a per-query window over that bounded set. Stage 3
    * is stage 1 with a slightly wider term list. Nothing re-shuffles
    * the corpus outside the two posting joins. */
  def queryExpansion(tokens: DataFrame, dl: DataFrame,
                     queries: DataFrame, qIdCol: String, qTextCol: String,
                     nFeedback: Int, mExpand: Int, k: Int): DataFrame = {
    // ONE token stream ([[docTokens]]) feeds both retrieval stages, the
    // feedback tf and the corpus df, and ONE length table
    // ([[docLengths]]) both BM25 passes: the hottest shared frames in
    // the loop, so a caller passes them materialized (the bindings pass
    // the corpus_tokens / corpus_dl artifacts)
    val qterms = queries
      .select(col(qIdCol).as("query_id"), explode(toks(col(qTextCol))).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()
    // totals: 1 row over the cached dl — persist (lazy), not an eager
    // checkpoint job; each consumer's broadcast build materializes it
    // from the dl cache (r18, part of the eager-action job-floor cut:
    // this query ran 39 jobs for 2.4 s of executor work)
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // stage-1 scored pairs materialize ONCE and serve twice: the
    // feedback top-k here, and — because BM25 is additive per term and
    // the mined expansions are disjoint from the originals (left_anti
    // below) — the final retrieve, which then joins postings only for
    // the NEW terms instead of re-scoring the originals' posting lists
    val scored1 = bm25ScoredPairs(tokens, dl, totals, qterms)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fb = bm25RankPairs(scored1, nFeedback, ordered = false)
      .select("query_id", "doc_id")
    // materialized (it is ≤ |queries|·|vocab-of-feedback-docs| rows):
    // consumed twice below (term mining + its distinct-token df lookup),
    // and its subtree contains the ENTIRE stage-1 retrieval — without
    // the checkpoint that window pass executes once per reference
    val fbTf = tokens.join(broadcast(fb), "doc_id")
      .groupBy("query_id", "token").agg(count(lit(1)).as("n_fb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // n_docs rides the already-materialized totals row (r17) — the
    // former separate dl.agg re-ran a full aggregate for a count the
    // checkpointed totals frame already holds
    val nDocs = totals.select("n_docs")
    val dfAll = tokens
      .join(broadcast(fbTf.select("token").distinct()), "token")
      .groupBy("token").agg(countDistinct("doc_id").as("df"))
    val we = Window.partitionBy("query_id")
      .orderBy(col("exp_score").desc, col("token").asc)
    val expansions = fbTf
      .join(qterms, Seq("query_id", "token"), "left_anti")
      .join(dfAll, "token")
      .crossJoin(broadcast(nDocs)) // deliberate 1-row broadcast
      .withColumn("exp_score",
        col("n_fb") * floor(lit(1000000.0) * col("n_docs") / col("df")).cast("long"))
      .withColumn("rk", row_number().over(we))
      .filter(col("rk") <= mExpand)
      .select("query_id", "token")
    // materialize the expansion term set (|queries|·mExpand rows —
    // trivially small) before the re-retrieve: the scorer references
    // its term table TWICE (posting filter + per-term join), so an
    // unmaterialized expansion subtree would splice the whole stage-1
    // retrieval + mining DAG into the final plan 4× over. Expansions
    // are distinct-per-query by construction (fbTf is grouped on
    // (query_id, token)), and disjoint from qterms (left_anti), so the
    // scored-pair union below is duplicate-free. persist, not an eager
    // checkpoint (r18): the InMemoryRelation substitution stops the
    // plan splice just the same, without a separate action per frame.
    val expTerms = expansions
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scored2 = bm25ScoredPairs(tokens, dl, totals, expTerms)
    bm25RankPairs(scored1.unionByName(scored2), k, ordered = true)
  }

  /** One BPE-style pair-merge iteration over whitespace token streams —
    * the vocabulary-building step (the [[Similarity.kmeansStep]] pattern
    * applied to tokenizer training: one exactly-oracled iteration of the
    * loop a driver would run to a vocab budget). Counts adjacent token
    * pairs corpus-wide (the [[ngramStats]] generator reused), picks the
    * argmax merge (count desc, pair asc — deterministic), and rewrites
    * every document with the merged token (`a b` → `a@b`), greedy
    * left-to-right non-overlapping — exactly BPE's application order.
    *
    * The rewrite is pure text-space string work, no per-token lambda:
    * with every token boundary DOUBLED (`x y` → `x␣␣y`), consecutive
    * pair occurrences no longer share a boundary character, so one
    * built-in `replace` (greedy left-to-right non-overlapping in both
    * engines) IS the BPE merge — `a a a` merges once, not twice — and
    * boundaries then collapse back. Requires single-spaced token
    * streams (the corpus contract every text operator here shares).
    *
    * Scale shape: one gram-keyed count (the same shuffle ngramStats
    * pays), a 1-row argmax broadcast back under a second narrow scan.
    * No driver loop — the step composes with itself via the `new_text`
    * column. */
  def bpeStep(documents: DataFrame, idCol: String, textCol: String,
              ordered: Boolean = true): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val top = documents
      .select(explode(call_function("pos_grams", col(textCol), lit(2), lit(true))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(1)
    val sp = lit(" ")
    def rep(c: Column, from: Column, to: Column): Column =
      call_function("replace", c, from, to)
    val doubled = concat(sp, rep(col(textCol), sp, lit("  ")), sp)
    val pattern = concat(sp, rep(col("pair"), sp, lit("  ")), sp)
    val mergedTok = concat(sp, rep(col("pair"), sp, lit("@")), sp)
    val newText = trim(rep(rep(doubled, pattern, mergedTok), lit("  "), sp))
    val out = documents.crossJoin(broadcast(top))
      .select(col(idCol).as("doc_id"), col("pair"),
        size(split(col(textCol), " ")).cast("long").as("n_before"),
        (size(split(col(textCol), " ")) - size(split(newText, " ")))
          .cast("long").as("n_merges"),
        newText.as("new_text"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** BPE merge-LIST learning: `nMerges` chained [[bpeStep]] iterations
    * driven with the [[dedupClusters]] loop discipline — each round is
    * ONE materialization ([[Lineage.truncate]] cuts the rewrite lineage,
    * which otherwise grows a replace() tree per round, and the round it
    * superseded is released), and the round's merge accounting rides
    * that same job via `observe`. Emits
    * the ordered merge list `(step, pair, n, n_merges)` that
    * [[graft.engine.stream.Streams]]' BPE-apply stage consumes as its
    * trained vocabulary.
    *
    * r14 (verdict item 5): rounds were MEASURED ≳80% fixed cost
    * (sf0.01 ≈ sf0.1 per-step wall clock), so the chain fuses TWO
    * merges per materialization when that is provably exact — see the
    * safe-fusion condition in the loop (token-disjoint #2 whose count
    * strictly dominates every pair sharing a token with #1); ties or
    * overlaps fall back to the sequential single merge, so the output
    * is byte-identical to the chained-[[bpeStep]] fold either way
    * (spec-pinned, including the tie case where naive fusion would
    * diverge). On the fixture all 8 merges fuse: 8 → 4 rounds.
    *
    * Stops early if the corpus runs out of adjacent pairs (argmax
    * empty — the list so far is returned).
    *
    * Scale: per round, one gram-keyed count shuffle + a 1-row broadcast
    * rewrite — the [[bpeStep]] shape; the merge list itself is N rows on
    * the driver, parallelized at the end. At a real vocab budget (tens
    * of thousands of merges) the same loop runs over a SAMPLED corpus —
    * merge selection is a frequency argmax, robust to sampling — while
    * application stays full-corpus and streaming. */
  def bpeLearn(documents: DataFrame, idCol: String, textCol: String,
               nMerges: Int): DataFrame =
    bpeChain(documents, idCol, textCol, nMerges)._1

  /** APPLY the learned merges corpus-wide — the batch closure of the
    * BPE train→serve loop (the streaming face,
    * [[graft.engine.stream.Streams.streamingBpeApply]], folds a GIVEN
    * merge list statelessly; here learn-then-apply runs as one chained
    * operator so the whole loop sits under the hash oracle). Output is
    * the applied corpus with the before/after token counts — the
    * compression ledger a tokenizer-budget planner reads. Scale: the
    * rewrite chain is nMerges keyed full-corpus map passes (each one
    * truncated, argmax riding `observe`); the final raw-count
    * join is doc-keyed. */
  def bpeApply(documents: DataFrame, idCol: String, textCol: String,
               nMerges: Int): DataFrame = {
    val applied = bpeChain(documents, idCol, textCol, nMerges)._2
    documents
      .select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("n_tokens_raw"))
      .join(applied, "doc_id")
      .select(col("doc_id"), col("n_tokens_raw"),
        size(split(col("text"), " ")).cast("long").as("n_tokens_bpe"),
        col("text").as("bpe_text"))
      .orderBy("doc_id")
  }

  /** SAMPLE-TIER CONTRACT (r17, declaring the scale boundary every
    * other operator states): the learn loop below materializes the
    * corpus O(nMerges/2) times — inherent to BPE, whose merge i+1's
    * counts depend on merge i's rewrite. At 100 TB a tokenizer is
    * trained on a BOUNDED SAMPLE (reservoir / hash-carve, the
    * `q_sample_*` operators) with identical arithmetic, then APPLIED
    * at full scale via [[bpeApply]]'s single linear pass — train-on-
    * sample, apply-everywhere, the kmeansTrain/ivfCodebook loop. */
  private[ops] def bpeChain(documents: DataFrame, idCol: String, textCol: String,
                       nMerges: Int): (DataFrame, DataFrame) = {
    val spark = documents.sparkSession
    graft.engine.functions.GraftFunctions.register(spark)
    val sp = lit(" ")
    def rep(c: Column, from: Column, to: Column): Column =
      call_function("replace", c, from, to)
    var corpus = documents.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    val dbg = spark.conf.getOption("spark.graft.debug").contains("true")
    // one sequential merge-step rewrite as a composable expression (the
    // bpeStep doubled-boundary replace trick, pair inlined as a literal)
    def stepExpr(text: Column, pair: String): Column = {
      val doubled = concat(sp, rep(text, sp, lit("  ")), sp)
      val pattern = concat(sp, rep(lit(pair), sp, lit("  ")), sp)
      val mergedTok = concat(sp, rep(lit(pair), sp, lit("@")), sp)
      trim(rep(rep(doubled, pattern, mergedTok), lit("  "), sp))
    }
    def toksOf(pair: String): Set[String] = pair.split(' ').toSet
    // each round's rewrite replaces the corpus; once the next round is
    // materialized the one it read is released (the input is the
    // caller's, so the first round releases nothing)
    var owned = false
    def truncate(next: DataFrame): DataFrame = {
      val materialized = Lineage.truncate(next)
      if (owned) Lineage.release(corpus)
      owned = true
      materialized
    }
    val topK = 64
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val t0 = System.nanoTime()
      // MEASURED (r13 verdict item 5, the §7.3 discipline): at sf0.1
      // the steady-state chain ran 8 × ~0.30 s/step, and the same chain
      // at sf0.01 ran ~0.24 s/step — ≳80% of each round is scale-
      // invariant fixed cost (scheduler + materialization floor), not
      // data work. So rounds are FUSED two merges per materialization
      // whenever that is provably exact. The argmax now collects the
      // top-K pair counts (K=64 rows — the same bounded driver
      // round-trip class as the observe it replaces) instead of
      // broadcasting a 1-row frame, because the fusion decision is
      // inherently driver-side.
      val tk = corpus
        .select(explode(call_function("pos_grams", col("text"), lit(2), lit(true))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(topK)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      if (tk.isEmpty) {
        // no adjacent pair anywhere (or empty corpus): stop, preserving
        // the pre-r14 contract (the chain's corpus output empties)
        corpus = corpus.limit(0)
        exhausted = true
      } else {
        val (p1, n1) = tk.head
        // SAFE-FUSION condition — merge 2 rides merge 1's
        // materialization iff the post-merge-1 argmax is PROVABLY the
        // pre-merge #2 pair p2:
        //  (a) p2 shares no token with p1, so merge 1 neither creates
        //      nor destroys a p2 occurrence (its count is invariant);
        //  (b) every OTHER pair sharing a token with p1 counts
        //      STRICTLY below n2: each bigram merge 1 creates
        //      ((x, p1@), (p1@, y)) is a sub-pattern of such a sharing
        //      pair, so its count stays < n2 — ties are NOT fused
        //      because the string tie-break would compare against the
        //      unknowable merged-token name;
        //  (c) when the collected K rows are full, the K-th count is
        //      < n2, so (b) extends to pairs outside the sample;
        //  (d) p1's two tokens are DISTINCT: when p1 = "t t" a run of
        //      t's yields consecutive merged tokens, creating the pair
        //      (p1@, p1@) whose count is bounded only by n1 itself —
        //      it is a sub-pattern of p1, not of any sharer (b) sees,
        //      so it can overtake p2 (corpus of "t"×10 repeated: after
        //      merging "t t", ("t@t","t@t") counts 4 > any n2 ≤ 2).
        //      Only with distinct tokens is every merge-1-created pair
        //      a sub-pattern of a (b)/(c)-covered sharer.
        // Otherwise the round falls back to the sequential single
        // merge — semantics are byte-identical either way, and the
        // oracle replays the sequential chain.
        val t1 = toksOf(p1)
        val fusable = tk.drop(1).headOption.filter { case (p2, n2) =>
          val sharersBelow = tk.drop(1).forall { case (p, n) =>
            p == p2 || toksOf(p).intersect(t1).isEmpty || n < n2
          }
          t1.size == 2 &&
            toksOf(p2).intersect(t1).isEmpty && sharersBelow &&
            (tk.size < topK || tk.last._2 < n2)
        }
        val remaining = nMerges - step + 1
        val obs = new org.apache.spark.sql.Observation(s"bpe_learn_$step")
        fusable match {
          case Some((p2, n2)) if remaining >= 2 =>
            corpus = truncate(corpus
              .select(col("doc_id"), col("text").as("t0"), stepExpr(col("text"), p1).as("t1"))
              .select(col("doc_id"), col("t0"), col("t1"), stepExpr(col("t1"), p2).as("t2"))
              .select(col("doc_id"),
                (size(split(col("t0"), " ")) - size(split(col("t1"), " ")))
                  .cast("long").as("m1"),
                (size(split(col("t1"), " ")) - size(split(col("t2"), " ")))
                  .cast("long").as("m2"),
                col("t2").as("text"))
              .observe(obs, sum(col("m1")).as("m1"), sum(col("m2")).as("m2"))
              .select("doc_id", "text"))
            merges += ((step.toLong, p1, n1, obs.get("m1").asInstanceOf[Long]))
            merges += ((step.toLong + 1, p2, n2, obs.get("m2").asInstanceOf[Long]))
            if (dbg) System.err.println(
              f"[bpe_chain] steps $step+${step + 1} (fused): ${(System.nanoTime() - t0) / 1e9}%.2f s")
            step += 2
          case _ =>
            corpus = truncate(corpus
              .select(col("doc_id"), col("text").as("t0"), stepExpr(col("text"), p1).as("t1"))
              .select(col("doc_id"),
                (size(split(col("t0"), " ")) - size(split(col("t1"), " ")))
                  .cast("long").as("m1"),
                col("t1").as("text"))
              .observe(obs, sum(col("m1")).as("m"))
              .select("doc_id", "text"))
            merges += ((step.toLong, p1, n1, obs.get("m").asInstanceOf[Long]))
            if (dbg) System.err.println(
              f"[bpe_chain] step $step: ${(System.nanoTime() - t0) / 1e9}%.2f s")
            step += 1
        }
      }
    }
    import spark.implicits._
    (merges.toSeq.toDF("step", "pair", "n", "n_merges").orderBy("step"), corpus)
  }

  /** Corpus-LM fluency score — the exact-arithmetic analogue of the
    * KenLM-perplexity quality filter a web-corpus pipeline runs: a
    * bigram LM is "trained" on the corpus itself (count tables), and
    * each document is scored by its mean scaled conditional
    * probability `floor(10⁶·c(w₁w₂)/c(w₁))` over its bigrams —
    * formulaic in-domain text scores high, out-of-domain or shuffled
    * text low. All-integer scoring (counts, one floored scaled ratio
    * per bigram, integer mean), so the signal hash-oracles exactly
    * where a log-prob would diverge cross-engine.
    *
    * Scale shape: the LM side is the corpus's bigram/unigram vocabulary
    * — Zipf-bounded, far smaller than the corpus — so the score join is
    * a token-keyed shuffle equi-join against aggregate tables, then one
    * doc-keyed mean. At 100 TB you'd train the counts on a sample and
    * broadcast the head; exact here so the oracle replays it. */
  /** The offline "training" half of [[lmScore]]: per-bigram scaled
    * conditional probability table `(bigram, cond)` — split out (the
    * quantizeStats/quantizeCodes pattern) so a streaming path can
    * apply an offline-trained LM online. */
  def lmTable(documents: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val bg = documents.select(
      explode(call_function("pos_grams", col(textCol), lit(2), lit(true))).as("bigram"))
    val bgCounts = bg.groupBy("bigram").agg(count(lit(1)).as("c2"))
    val ugCounts = documents
      .select(explode(filter(toks(col(textCol)), t => length(t) > 0)).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    bgCounts
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .join(ugCounts, "w1")
      .select(col("bigram"),
        floor(lit(1000000.0) * col("c2") / col("c1")).cast("long").as("cond"))
  }

  def lmScore(documents: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val bg = documents.select(col(idCol).as("doc_id"),
      explode(call_function("pos_grams", col(textCol), lit(2), lit(true))).as("bigram"))
    bg.join(lmTable(documents, idCol, textCol), "bigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("cond")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        floor(col("s") / col("n_bigrams")).cast("long").as("lm_score"))
      .orderBy("doc_id")
  }

  /** Trigram back-off LM table — the Katz-style upgrade of [[lmTable]]:
    * three levels in one frame `(ngram, level, cond)`, all-integer conds
    * so scoring hash-oracles:
    *  - level 3: `floor(10⁶·c(w₁w₂w₃)/c(w₁w₂))` keyed by the trigram;
    *  - level 2: `floor(4·10⁵·c(w₂w₃)/c(w₂))` keyed by the back-off
    *    bigram (the 0.4 discount, pre-scaled into the constant);
    *  - level 1: `floor(1.6·10⁵·c(w₃)/T)` keyed by the unigram (0.4²).
    * A scorer takes the highest level whose key it has seen, else 0 —
    * the realistic shape of the KenLM-style quality filter: train on a
    * SAMPLE, score everything, unseen n-grams degrade gracefully
    * instead of vanishing.
    *
    * Scale: the tables are the training corpus's n-gram vocabulary
    * (Zipf-bounded); each level is one gram-keyed count + one keyed
    * equi-join against the next level down — no corpus-sized shuffle. */
  def lmTableBackoff(documents: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val c3 = documents.select(
        explode(call_function("pos_grams", col(textCol), lit(3), lit(true))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c3"))
    val c2 = documents.select(
        explode(call_function("pos_grams", col(textCol), lit(2), lit(true))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c2"))
    val c1 = documents.select(
        explode(filter(toks(col(textCol)), t => length(t) > 0)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c1"))
    val total = c1.agg(sum("c1").as("t"))
    val tri = c3
      .withColumn("ctx", concat_ws(" ", slice(split(col("g"), " "), 1, 2)))
      .join(c2.select(col("g").as("ctx"), col("c2").as("cctx")), "ctx")
      .select(col("g").as("ngram"), lit(3L).as("level"),
        floor(lit(1000000.0) * col("c3") / col("cctx")).cast("long").as("cond"))
    val bi = c2
      .withColumn("w1", element_at(split(col("g"), " "), 1))
      .join(c1.select(col("g").as("w1"), col("c1").as("cw1")), "w1")
      .select(col("g").as("ngram"), lit(2L).as("level"),
        floor(lit(400000.0) * col("c2") / col("cw1")).cast("long").as("cond"))
    val un = c1.crossJoin(broadcast(total))
      .select(col("g").as("ngram"), lit(1L).as("level"),
        floor(lit(160000.0) * col("c1") / col("t")).cast("long").as("cond"))
    tri.unionAll(bi).unionAll(un)
  }

  /** Score every document against an OFFLINE-trained back-off table
    * ([[lmTableBackoff]]): each trigram takes the deepest level whose
    * key the training corpus saw (trigram → back-off bigram `w₂w₃` →
    * unigram `w₃` → 0), and the doc score is the floored integer mean —
    * exactly the [[lmScore]] arithmetic with graceful degradation.
    * Three token-keyed left equi-joins against Zipf-bounded tables +
    * one doc-keyed mean; docs with <3 tokens have no trigrams and drop
    * (the [[lmScore]] discipline). */
  def lmScoreBackoff(documents: DataFrame, idCol: String, textCol: String,
                     lm: DataFrame, ordered: Boolean = true): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val tg = documents.select(col(idCol).as("doc_id"),
      explode(call_function("pos_grams", col(textCol), lit(3), lit(true))).as("g"))
    val parts = tg
      .withColumn("bg", concat_ws(" ", slice(split(col("g"), " "), 2, 2)))
      .withColumn("w3", element_at(split(col("g"), " "), 3))
    val l3 = lm.filter(col("level") === 3).select(col("ngram").as("g"), col("cond").as("cond3"))
    val l2 = lm.filter(col("level") === 2).select(col("ngram").as("bg"), col("cond").as("cond2"))
    val l1 = lm.filter(col("level") === 1).select(col("ngram").as("w3"), col("cond").as("cond1"))
    val out = parts
      .join(l3, Seq("g"), "left_outer")
      .join(l2, Seq("bg"), "left_outer")
      .join(l1, Seq("w3"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cond3"), col("cond2"), col("cond1"), lit(0L)).as("sc"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"), sum("sc").as("s"))
      .select(col("doc_id"), col("n_trigrams"),
        floor(col("s") / col("n_trigrams")).cast("long").as("lm_score"))
    // ordered=false skips the presentation sort — composed consumers
    // (the curation pipeline's gate semi-join) don't need a total order
    if (ordered) out.orderBy("doc_id") else out
  }

  /** CCNet-style perplexity bucketing: every document lands in the
    * head / middle / tail TERCILE of its stratum's (language's) LM
    * fluency distribution — the published CCNet recipe's quality
    * partition, whose head+middle slice is the conventional keep set.
    * Scores come from [[lmScoreBackoff]] against an offline table `lm`
    * ([[lmTableBackoff]], e.g. trained on the even-id half — the
    * [[curationPipeline]] sampling discipline); docs without trigrams
    * have no score and drop (the lmScore discipline).
    *
    * Exact-rank thresholds WITHOUT a global sort: lm_score is a
    * bounded-range integer, so per stratum the score HISTOGRAM is
    * dimension-sized (distinct score values, not docs). The tercile
    * cut t_head = the ⌈n/3⌉-th largest score = max score whose
    * descending cumulative count reaches ⌈n/3⌉ — one windowed prefix
    * sum over the histogram, then a 2-value-per-stratum broadcast back
    * under the scored corpus. The corpus itself never sorts and never
    * re-shuffles beyond the one doc-keyed score aggregate — the shape
    * that survives a single 100 TB 'en' stratum, where an ntile window
    * would be a one-reducer cliff. */
  def perplexityBuckets(documents: DataFrame, idCol: String, textCol: String,
                        strataCol: String, lm: DataFrame): DataFrame = {
    val scored = lmScoreBackoff(documents, idCol, textCol, lm, ordered = false)
      .select("doc_id", "lm_score")
    // materialize the scored frame once (r17): it feeds BOTH the
    // tercile-threshold aggregate and the final bucket join — without
    // this the whole backoff-scoring chain executes twice
    val wl = documents.select(col(idCol).as("doc_id"), col(strataCol).as("stratum"))
      .join(scored, Seq("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // r18: lazy cache replaces the eager checkpoint job
    wl.join(broadcast(pplThresholdsFrom(wl)), Seq("stratum"))
      .select(col("doc_id"), col("stratum").as(strataCol), col("lm_score"),
        when(col("lm_score") >= col("t_head"), "head")
          .when(col("lm_score") >= col("t_mid"), "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy("doc_id")
  }

  /** The tercile cuts over a `(doc_id, stratum, lm_score)` frame —
    * shared by [[perplexityBuckets]] and [[perplexityThresholds]] so
    * batch bucketing and the exported artifact can never drift. */
  private def pplThresholdsFrom(wl: DataFrame): DataFrame = {
    val hist = wl.groupBy("stratum", "lm_score").agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum("c").over(Window.partitionBy("stratum")
        .orderBy(col("lm_score").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(Window.partitionBy("stratum")))
    cum.groupBy("stratum").agg(
      max(when(col("cum") >= expr("(n + 2) div 3"), col("lm_score"))).as("t_head"),
      max(when(col("cum") >= expr("(2 * n + 2) div 3"), col("lm_score"))).as("t_mid"))
  }

  /** The OFFLINE threshold artifact for the streaming tercile tagger
    * ([[graft.engine.stream.Streams.streamingPplBucket]]): per-stratum
    * `(strataCol, t_head, t_mid)` — 2 integers per stratum, trained
    * once over a corpus and broadcast at serve time (the BM25/BPE/LM
    * train-offline split). Same arithmetic as [[perplexityBuckets]]'s
    * internal cuts by construction. */
  def perplexityThresholds(documents: DataFrame, idCol: String, textCol: String,
                           strataCol: String, lm: DataFrame): DataFrame = {
    val scored = lmScoreBackoff(documents, idCol, textCol, lm, ordered = false)
      .select("doc_id", "lm_score")
    val wl = documents.select(col(idCol).as("doc_id"), col(strataCol).as("stratum"))
      .join(scored, Seq("doc_id"))
    pplThresholdsFrom(wl).select(col("stratum").as(strataCol), col("t_head"), col("t_mid"))
  }

  /** Tokenizer-vocabulary coverage: per-document out-of-vocabulary
    * rate in floored basis points against a top-`vocabSize` frequency
    * vocabulary trained on a corpus SAMPLE (default the even-id half —
    * the train-offline split every model table here uses). The audit a
    * pipeline runs before committing to a tokenizer: a domain slice
    * with a fat OOV tail will shatter into bytes/UNKs at training
    * time. Ties in the vocabulary cut break on the token string, so
    * the vocab — and every verdict downstream of it — is
    * deterministic.
    *
    * Scale: the vocab is a global top-k (TakeOrdered, no full sort)
    * over the Zipf-bounded token-frequency table and broadcasts under
    * the corpus explode; the only corpus-wide shuffle is the one
    * doc-keyed partial+final aggregate. Docs whose text tokenizes to
    * nothing have no token rows and drop. */
  def vocabCoverage(documents: DataFrame, idCol: String, textCol: String,
                    vocabSize: Int = 256,
                    ordered: Boolean = true): DataFrame = {
    val tokens = documents
      .select(col(idCol).as("doc_id"), explode(toks(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
    val vocab = vocabTable(documents, idCol, textCol, vocabSize)
      .select(col("tok"), lit(1L).as("in_vocab"))
    val out = tokens.join(broadcast(vocab), Seq("tok"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
           sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_toks"), col("n_oov"),
        floor(lit(10000.0) * col("n_oov") / col("n_toks")).cast("long").as("oov_bp"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** The OFFLINE vocabulary artifact behind [[vocabCoverage]] and the
    * streaming audit face ([[graft.engine.stream.Streams
    * .streamingVocabCoverage]]): the top-`vocabSize` tokens by
    * frequency over the even-id sample, ties broken on the token
    * string — one `tok` column, deterministic, TakeOrdered-planned. */
  def vocabTable(documents: DataFrame, idCol: String, textCol: String,
                 vocabSize: Int = 256): DataFrame =
    documents
      .select(col(idCol).as("doc_id"), explode(toks(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0 && col("doc_id") % 2 === 0)
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc).limit(vocabSize)
      .select("tok")

  /** Frequency-ranked vocabulary builder with its coverage curve — the
    * artifact [[vocabTable]] consumes, surfaced as an operator: top-k
    * tokens by corpus count with rank, cumulative mass and corpus
    * coverage in ppm, so the vocab-size decision ("how many entries
    * until 95% of running text is in-vocabulary") reads off one table.
    * Complementary to [[vocabCoverage]], which audits documents against
    * a FIXED vocab; this builds the vocab and prices each size.
    *
    * Scale shape: one token-keyed partial+final count, a
    * TakeOrderedAndProject for the top-k, and ONLY THEN the ordered
    * cumulative window — over k rows by construction, so the
    * single-partition move is bounded (the constWindowKey idiom keeps
    * the planner from folding the literal partition key away). The
    * corpus-wide total rides a 1-row broadcast. Nothing unbounded ever
    * sorts globally. */
  def vocabBuild(documents: DataFrame, textCol: String, vocabSize: Int): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val counts = documents.select(explode(
        call_function("pos_grams", col(textCol), lit(1), lit(true))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").as("n_total"))
    val top = counts.orderBy(col("n").desc, col("tok").asc).limit(vocabSize)
    val spec = Window
      .partitionBy(graft.engine.functions.GraftFunctions.constWindowKey(col("tok")))
      .orderBy(col("n").desc, col("tok").asc)
    top
      .withColumn("rank", row_number().over(spec).cast("long"))
      .withColumn("cum_n", sum("n").over(
        spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total)) // deliberate 1-row broadcast
      .select(col("rank"), col("tok"), col("n"), col("cum_n"),
        floor(lit(1000000.0) * col("cum_n") / col("n_total")).cast("long")
          .as("coverage_ppm"))
      .orderBy("rank")
  }

  /** Cross-split leakage detection — the eval-hygiene audit
    * [[contamination]] can't do: CONTENT-level (near-duplicate) overlap
    * across train/val/test boundaries. A doc whose near-copy sits in a
    * different split leaks evaluation signal even though no verbatim
    * substring crosses (paraphrase/boilerplate leakage). Consumes the
    * shared verified pair graph and the SAME deterministic keyBucket
    * split rule as [[assignSplits]], so the audit judges exactly the
    * splits the router would produce. One narrow projection + filter
    * over the pair graph — free on top of the dedup pipeline. */
  def splitLeakage(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_id_1"), col("doc_id_2"), col("jaccard"),
        splitOf(col("doc_id_1")).as("split_1"),
        splitOf(col("doc_id_2")).as("split_2"))
      .filter(col("split_1") =!= col("split_2"))
      .orderBy("doc_id_1", "doc_id_2")

  /** Near-dup graph degree histogram: how many documents have k verified
    * near-duplicate partners — the corpus-health statistic that decides
    * dedup aggressiveness (a fat tail = boilerplate flood). Consumes the
    * verified pair graph (shared with survivors/clusters); two id-keyed
    * aggregates. */
  def dedupDegreeHistogram(pairs: DataFrame): DataFrame = {
    val touched = pairs.select(col("doc_id_1").as("doc_id"))
      .unionAll(pairs.select(col("doc_id_2").as("doc_id")))
    touched.groupBy("doc_id").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }

  /** PageRank-style centrality over the verified near-dup pair graph —
    * the canonical-selection signal a degree count can't give: a doc
    * tied to OTHER well-connected docs (the true center of a template
    * family) outranks a doc with the same degree hanging off the
    * cluster's edge, so "keep the highest-scoring member" picks the
    * most representative copy rather than an arbitrary one.
    *
    * All arithmetic is scaled-integer so the oracle replays it exactly:
    * scores start at 10⁶ per node, each round every node emits
    * `(score·85) DIV (deg·100)` to each neighbor (integer floor on both
    * engines) and collects `150000 + Σ contributions` — per-edge floors
    * then an INTEGER sum, so no float summation order exists anywhere.
    * Fixed `iters` rounds (power iteration on a dedup cluster's
    * diameter needs few; convergence-to-ε is [[connectedComponents]]'
    * observe pattern if wanted).
    *
    * Scale shape: nodes/degrees are one aggregate over the edge list;
    * each round is one doc_id-keyed join + one doc_id-keyed aggregate —
    * the same partitioning every round, no driver action, plan depth
    * linear in `iters` (cap it or localCheckpoint between rounds at
    * 100 TB; at 3 rounds lineage is shallow enough to leave pure). */
  def pairGraphPagerank(pairs: DataFrame, iters: Int = 3): DataFrame = {
    val edges = pairs.select(col("doc_id_1").as("src"), col("doc_id_2").as("dst"))
      .unionAll(pairs.select(col("doc_id_2").as("src"), col("doc_id_1").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val e = edges.join(deg, "src")
    var scores = deg.select(col("src").as("doc_id"), lit(1000000L).as("score"))
    for (_ <- 1 to iters) {
      val contrib = e.join(scores, e("src") === scores("doc_id"))
        .select(col("dst").as("doc_id"), expr("(score * 85) DIV (deg * 100)").as("c"))
      // every node has deg ≥ 1 (nodes come from edges), so the inner
      // aggregate covers the whole node set each round
      scores = contrib.groupBy("doc_id")
        .agg((lit(150000L) + sum(col("c"))).as("score"))
    }
    scores.orderBy("doc_id")
  }

  /** Convergence-gated [[pairGraphPagerank]] (r10 verdict #8): instead
    * of a fixed iteration constant silently deciding rank quality, run
    * the same scaled-integer power iteration to its EXACT integer
    * fixpoint — stop when the score vector repeats across consecutive
    * rounds (the integer map is a 0.85-contraction, so movement decays
    * geometrically and the floor arithmetic pins it to an exact
    * fixpoint — MEASURED snap at round 77 on the sf0.1 dup graph,
    * matching the ⌈log₀.₈₅(1/L∞₁)⌉ ≈ 85 contraction bound; `maxIters`
    * 120 leaves headroom above that bound, so real graphs genuinely
    * converge and the cap backstops only the theoretical floor-induced
    * limit cycle — where both engines hold the SAME capped-round
    * vector, so the oracle agrees there too). The fixpoint has no
    * tunable left: any iteration budget ≥ the convergence round
    * returns bit-identical scores (spec-pinned).
    *
    * Same loop driver as [[dedupClusters]]: the size/degree-annotated
    * QUOTIENT edge list (see the twin-collapse note in the body) is
    * persisted hash-partitioned on its join key so only the class-sized
    * score table moves per round. A quotient within [[fusedMaxEdges]]
    * runs the walk as one fused task; a larger one runs on
    * [[Lineage.fixpoint]], six rounds per materialization (lineage
    * would otherwise grow linearly in rounds) with every round's
    * (count, xor-of-hashes) fingerprint riding the batch's ONE job via
    * `observe` — no per-round jobs, no second aggregation, superseded
    * batches released. Dup-graph families are
    * near-cliques, and the uniform 10⁶ start IS the exact fixpoint of
    * any regular component, so typical corpora converge in a handful
    * of rounds — only irregular template stars pay the 60-round tail,
    * and they pay it on the quotient. `twins` is the
    * [[twinDecomposition]] of the pair graph. */
  def pairGraphPagerankConverged(twins: (DataFrame, DataFrame, DataFrame),
      maxIters: Int = 120): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // The iteration runs on the TWIN QUOTIENT (the pairGraphTriangles
    // collapse): nodes with equal closed neighborhoods are swapped by a
    // graph automorphism, so from the uniform start their scores are
    // equal at EVERY round — the member-level iteration is the quotient
    // iteration with multiplicities, exactly (not approximately):
    // closed-twin classes are cliques, cross-class adjacency is
    // all-or-nothing (u ∈ A adjacent to v ∈ B ⇒ A ⊆ cnb(v) and
    // B ⊆ cnb(u), so every A–B pair is an edge), every member of a
    // class therefore has the same degree, and a class-B neighbor
    // contributes the SAME floored value b times — multiplying the
    // floor by the class size is the member-level sum verbatim. A dup
    // graph is mostly template families (= big twin classes), so the
    // per-round join shrinks from the member edge list to the quotient
    // edge list — the same collapse that took the triangle count from
    // 25.6 s to 0.85 s; measured here 22.9 s → ~1 s at sf0.1. The
    // class's internal (csize−1)-clique contribution rides the SAME
    // join as a quotient self-edge.
    val (member, csz, cedges) = twins
    val csym = cedges.unionAll(cedges.select(col("y").as("x"), col("x").as("y")))
    val nbrSz = csym.join(csz.withColumnRenamed("cls", "y"), "y")
      .groupBy("x").agg(sum("csize").as("nbr_sz"))
      .withColumnRenamed("x", "cls")
    // member degree, uniform within the class: clique part + full
    // bipartite cross parts
    val cls = csz.join(nbrSz, Seq("cls"), "left_outer")
      .select(col("cls"), col("csize"),
        (col("csize") - 1 + coalesce(col("nbr_sz"), lit(0L))).as("deg"))
    val e = csym
      .join(cls.select(col("cls").as("x"), col("csize").as("src_sz"),
        col("deg").as("src_deg")), "x")
      .select(col("x"), col("y"), col("src_sz"), col("src_deg"))
      // the (csize−1)-strong clique contribution as a self-edge, so the
      // round stays ONE join + ONE aggregate (csize=1 ⇒ weight 0, row
      // kept so isolated classes still emit their base-rate row). The
      // divisor is floored at 1: a deg-0 class cannot arise from
      // twinDecomposition (every graph node has a neighbor), but twin
      // tables built some other way and containing one would turn
      // 0·(score·85 DIV 0) into NULL and poison the sum — with the
      // floor, weight 0 × anything = 0 and the base-rate row survives
      .unionAll(cls.select(col("cls").as("x"), col("cls").as("y"),
        (col("csize") - 1).as("src_sz"),
        greatest(col("deg"), lit(1L)).as("src_deg")))
      .repartition(col("x"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ADAPTIVE PATH SELECTION (r13, the BroadcastHashJoin discipline
      // applied to the fixpoint): the iteration's input is the QUOTIENT
      // edge list — counted here, not assumed. When it fits one task
      // ([[fusedMaxEdges]]; the edges stream straight into primitive
      // arrays, 32 B/edge), the ~78-round walk runs as ONE executor task
      // via mapPartitions (the repo's third justified mapPartitions):
      // the distributed loop's cost at that size is pure scheduler
      // floor — 2 stages × ~78 rounds × ~45 ms ≈ 7 s of DAGScheduler
      // latency over kilobytes of data — which the fused task
      // eliminates (measured 7.9 → ~1 s at sf0.1). The arithmetic is
      // the SAME integer walk line-for-line (seed 10⁶, c = src_sz·(score
      // ·85 DIV (src_deg·100)), next = 150000 + Σc per y, stop at
      // consecutive equality or maxIters), so both paths are
      // bit-identical — the spec forces the distributed path on the same
      // graph and compares maps, and the oracle pins the values either
      // way. No driver collect on either path.
      val scores =
        if (e.count() <= fusedMaxEdges(e.sparkSession)) { // also materializes the persisted list
          import e.sparkSession.implicits._
          val cap = maxIters
          // materialized while the persisted edge list is live: the
          // finally-block unpersist below runs before the CALLER's first
          // action, so an un-checkpointed plan would re-derive the
          // quotient AND re-run the whole walk per action
          Lineage.truncate(e
            .select(col("x"), col("y"), col("src_sz"), col("src_deg"))
            .as[(Long, Long, Long, Long)]
            .coalesce(1)
            .mapPartitions { rows =>
              // stream the edges straight into primitive builders — the
              // boxed tuples are never retained (at the threshold the
              // boxed form would be ~300 B/edge transient vs 32 B here)
              val xb = scala.collection.mutable.ArrayBuilder.make[Long]
              val yb = scala.collection.mutable.ArrayBuilder.make[Long]
              val szb = scala.collection.mutable.ArrayBuilder.make[Long]
              val degb = scala.collection.mutable.ArrayBuilder.make[Long]
              rows.foreach { r => xb += r._1; yb += r._2; szb += r._3; degb += r._4 }
              val xa = xb.result(); val ya = yb.result()
              val esz = szb.result(); val edeg = degb.result()
              val m = xa.length
              // every class appears as x (and as y) via its self-edge,
              // so the node set and the per-round key set are both
              // `distinct x`
              val (ids, idx) = compactIds(xa)
              val ex = new Array[Int](m); val ey = new Array[Int](m)
              var i = 0
              while (i < m) { ex(i) = idx(xa(i)); ey(i) = idx(ya(i)); i += 1 }
              val n = ids.length
              var cur = Array.fill(n)(1000000L)
              var it = 0
              var done = n == 0
              while (!done && it < cap) {
                // every class receives its self-edge row, so seeding the
                // base rate for all n nodes matches the distributed
                // groupBy(y) exactly
                val next = Array.fill(n)(150000L)
                var j = 0
                while (j < m) {
                  next(ey(j)) += esz(j) * (cur(ex(j)) * 85L / (edeg(j) * 100L))
                  j += 1
                }
                done = java.util.Arrays.equals(cur, next)
                cur = next
                it += 1
              }
              ids.iterator.zipWithIndex.map { case (id, k) => (id, cur(k)) }
            }
            .toDF("cls", "score"))
        } else {
          // Fixpoint detection is a (count, xor of xxhash64(cls, score))
          // vector fingerprint, NOT a prev-vs-next delta join: the join
          // added a second keyed join + a wider materialization to EVERY
          // round, and a 0.85-contraction needs ~70 rounds to snap the
          // 10⁶-scale integers to their exact fixpoint, so the round
          // constant dominates end-to-end cost (measured 23 s at sf0.1
          // with the delta join vs ~3× less batched). XOR is order-free
          // and overflow-free over a key-distinct vector.
          // 6 rounds/materialization MEASURED optimum at sf0.1 — in both
          // directions. 3 rounds: 8.8 s (r10); GEOMETRIC GROWTH 6→12→24
          // (the hypothesis that wall clock ∝ materialization count, so
          // fewer+deeper jobs must win) measured WORSE: 11.7 s at 12,
          // 21.5 s at 24 vs ~7 s at fixed 6 (r13, steady DevTime). Each
          // round still schedules its own join+agg stages inside the
          // batched job, while per-stage cost GROWS with lineage depth
          // (whole-stage codegen compiles the k-round chain per stage and
          // the serialized task binary — already 3-4 MiB — is
          // rebroadcast per stage), so deeper batches pay more per round
          // than they save in job launches.
          Lineage.fixpoint(cls.select(col("cls"), lit(1000000L).as("score")),
              maxIters, 6, "pagerank",
              Seq(count(lit(1)), bit_xor(xxhash64(col("cls"), col("score"))))) { cur =>
            val contrib = e.join(cur, e("x") === cur("cls"))
              .select(col("y").as("cls"),
                (col("src_sz") * expr("(score * 85) DIV (src_deg * 100)")).as("c"))
            contrib.groupBy("cls").agg((lit(150000L) + sum(col("c"))).as("score"))
          }
        }
      // expand the class scores back to members: every graph node reads
      // its class's score — one keyed join against the member table
      member.join(scores.withColumnRenamed("cls", "c2"),
          member("cls") === col("c2"))
        .select(col("u").as("doc_id"), col("score"))
        .orderBy("doc_id")
    } finally { e.unpersist(false); () }
  }

  /** Snapshot diff — the dataset-versioning primitive behind every
    * reproducibility audit ("what changed between the corpus we trained
    * on and today's?"): a full-outer compare of two corpus versions on
    * the id, classifying every id as `added` / `removed` / `changed`
    * (content hash differs) / `kept`. Content identity is the
    * engine-neutral poly62 hash of the text, so the diff — unlike a
    * bytes-compare — replays in the oracle and never moves document
    * BODIES through the join: both sides reduce to (id, hash) first,
    * and at 100 TB the compare shuffles 16 bytes per row. */
  def snapshotDiff(v1: DataFrame, v2: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    graft.engine.functions.GraftFunctions.register(v1.sparkSession)
    def keyed(df: DataFrame, tag: String): DataFrame =
      df.select(col(idCol).as("doc_id"),
        call_function("poly_hash62", col(textCol)).as(s"h_$tag"))
    keyed(v1, "a").join(keyed(v2, "b"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h_a").isNull, lit("added"))
          .when(col("h_b").isNull, lit("removed"))
          .when(col("h_a") =!= col("h_b"), lit("changed"))
          .otherwise(lit("kept")).as("status"))
      .orderBy("doc_id")
  }

  /** Order-free corpus fingerprint — the reproducibility STAMP a
    * pipeline logs beside every artifact: `(n_docs, xor of per-row
    * content hashes, sum of hashes mod 2³¹−1)`. XOR and the reduced sum
    * are commutative/associative, so the stamp is identical at any
    * parallelism and any row order, and two corpora agreeing on all
    * three fields differ only by (at least) a simultaneous collision in
    * two independent folds — the cheap equality check before anyone
    * runs a full [[snapshotDiff]]. One partial+final aggregate; nothing
    * shuffles but 24 bytes per partition. (The 31-bit summand keeps the
    * long sum exact to ~4×10¹² rows; past that, promote the sum leg to
    * DECIMAL — the xor leg never overflows.) */
  def corpusFingerprint(documents: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    documents
      .select(call_function("poly_hash62",
        concat_ws("|", col(idCol), col(textCol))).as("h"))
      .agg(count(lit(1)).as("n_docs"),
        expr("CAST(bit_xor(h) AS BIGINT)").as("xor_hash"),
        expr("pmod(CAST(sum(pmod(h, 2147483647L)) AS BIGINT), 2147483647L)").as("sum_hash"))
  }

  /** The TRUE-TWIN decomposition of a pair graph — shared by
    * [[pairGraphTriangles]] and [[missingLinks]]: nodes with equal
    * closed neighborhoods collapse into classes (each internally a
    * clique, members interchangeable); returns `(member(u → cls),
    * csz(cls → size), cedges(x < y))`, each materialized or cached once
    * (every table feeds 3–4 consumers, and re-execution would redo the
    * collect_set neighborhood aggregation — measured 3× the cost).
    *
    * `nbhd` and `cedges` are EAGER [[Lineage.truncate]]s, deliberately: the
    * checkpoints truncate LINEAGE, and here the lineage is what kills —
    * every consumer splices `cedges` 4–5× (csym = 2×, wedge self-join =
    * 4×) and each cedges copy contains member twice, each member nbhd
    * twice, each nbhd the whole symmetrized pair-graph subtree, so with
    * lazy persists the consumers' LOGICAL plans grow ~20 copies of the
    * full LSH lineage and driver-side analysis dominates wall time
    * (measured r18: q_graph_triangles 0.9 s → 33 s WALL on 0.8 s of
    * executor work when all four checkpoints became lazy persists).
    * `member` and `csz` stay LAZY persists — their plans are shallow
    * once nbhd is truncated (member rides the cedges checkpoint action
    * for free, csz's first consumer pays one tiny agg over the nbhd
    * blocks) — which cuts the construction from 4 eager scheduler-floor
    * actions to 2. */
  private[engine] def twinDecomposition(pairs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.storage.StorageLevel
    val und = pairs.select(col("doc_id_1").as("u"), col("doc_id_2").as("v"))
      .filter(col("u") =!= col("v"))
    val sym = und.unionAll(und.select(col("v").as("u"), col("u").as("v"))).distinct()
    val nbhd = Lineage.truncate(sym.groupBy("u")
      .agg(array_sort(collect_set(col("v"))).as("nb"))
      .select(col("u"), array_sort(array_union(col("nb"), array(col("u")))).as("cnb")))
    val classes = nbhd.groupBy("cnb")
      .agg(min("u").as("cls"), count(lit(1)).as("csize"))
    val member = nbhd.join(classes, "cnb").select(col("u"), col("cls"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val csz = classes.select(col("cls"), col("csize"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cedges = Lineage.truncate(sym
      .join(member.withColumnRenamed("u", "uu").withColumnRenamed("cls", "ca"),
        col("u") === col("uu"))
      .join(member.withColumnRenamed("u", "vv").withColumnRenamed("cls", "cb"),
        col("v") === col("vv"))
      .filter(col("ca") =!= col("cb"))
      .select(least(col("ca"), col("cb")).as("x"), greatest(col("ca"), col("cb")).as("y"))
      .distinct())
    (member, csz, cedges)
  }

  /** Per-node triangle counts over the verified near-dup pair graph —
    * the third graph-structure audit next to degree ([[dedupDegreeHistogram]])
    * and centrality ([[pairGraphPagerank]]): triangles separate TEMPLATE
    * FAMILIES (cliquish — every copy near-dups every other, triangle
    * count ~ degree²) from DRIFT CHAINS (A~B~C but A≁C — zero
    * triangles), and the two need different canonicalization (families:
    * keep one representative; chains: re-verify endpoints before
    * collapsing a whole component through transitivity).
    *
    * NEVER enumerates triangle instances. A dup graph's triangle count
    * is Θ(Σ family³) — the naive oriented wedge join measured 25.6 s at
    * sf0.1 and was SCALECHECK-flagged (slope 31). Instead this applies
    * the house identical-content-collapse discipline to graph
    * structure: nodes with equal CLOSED neighborhoods ("true twins" —
    * exactly what identical docs, and whole mutually-similar families,
    * are) collapse into classes; every class is internally a clique and
    * its members are interchangeable, so per-node counts follow in
    * closed form from class sizes:
    *
    *   tri(u ∈ A) = C(a−1, 2)            (both others in A)
    *              + (a−1) · Σ_{B~A} b    (one in A, one in a neighbor)
    *              + Σ_{B~A} C(b, 2)      (both in the same neighbor)
    *              + Σ_{A,B,C class-tri} b·c  (two distinct neighbors)
    *
    * Only the last term enumerates anything — class-graph triangles on
    * the QUOTIENT graph, which the collapse shrinks to ~#families.
    * Output is n rows either way; property-tested equal to the naive
    * enumeration on random graphs, and the DuckDB oracle still
    * enumerates naively (fixture scale), so the closed form is
    * value-verified end to end. `twins` is the [[twinDecomposition]] of
    * the pair graph. */
  def pairGraphTriangles(twins: (DataFrame, DataFrame, DataFrame)): DataFrame = {
    val (member, csz, cedges) = twins
    // size-annotate the quotient edges ONCE (r18): the neighbor
    // aggregate and all three corners of the triangle enumeration need
    // class sizes, and annotating the edge list up front replaces the
    // csym⋈csz join plus the three per-corner csz joins the old form
    // paid AFTER enumeration — per-wedge rows ≫ per-edge rows at scale,
    // so this also moves the size attach from the largest intermediate
    // to the smallest
    // lazy persist: eS feeds four consumers below (both unionAll arms
    // of the neighbor aggregate and both enumeration sides), and each
    // splice would otherwise rebuild its two size-attach joins; the
    // frame is quotient-edge-sized and its plan is shallow (memoized
    // twins inputs), so the cache is cheap and analysis stays flat
    val eS = cedges
      .join(csz.select(col("cls").as("x"), col("csize").as("sx")), "x")
      .join(csz.select(col("cls").as("y"), col("csize").as("sy")), "y")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-class neighbor aggregates: S1 = Σ b, S2 = Σ C(b,2)
    val nbAgg = eS.select(col("x"), col("sy").as("csize"))
      .unionAll(eS.select(col("y").as("x"), col("sx").as("csize")))
      .groupBy("x").agg(sum("csize").as("s1"),
        sum(expr("csize * (csize - 1) DIV 2")).as("s2"))
      .withColumnRenamed("x", "cls")
    // class-graph triangles on the quotient: per corner, Σ (b·c) of the
    // other two corners' sizes — e1 carries the sizes of corners a and
    // b, e2 the size of corner c, e3 is only the closing-edge check
    val t3 = eS.as("e1")
      .join(eS.select(col("x"), col("y"), col("sy")).as("e2"),
        col("e1.y") === col("e2.x"))
      .join(cedges.as("e3"), col("e3.x") === col("e1.x") && col("e3.y") === col("e2.y"))
      .select(col("e1.x").as("ta"), col("e1.y").as("tb"), col("e2.y").as("tc"),
        col("e1.sx").as("sa"), col("e1.sy").as("sb"), col("e2.sy").as("sc"))
      .select(explode(array(
        struct(col("ta").as("cls"), (col("sb") * col("sc")).as("bc")),
        struct(col("tb").as("cls"), (col("sa") * col("sc")).as("bc")),
        struct(col("tc").as("cls"), (col("sa") * col("sb")).as("bc")))).as("e"))
      .select(col("e.cls").as("cls"), col("e.bc").as("bc"))
      .groupBy("cls").agg(sum("bc").as("t3"))
    val perClass = csz
      .join(nbAgg, Seq("cls"), "left_outer")
      .join(t3, Seq("cls"), "left_outer")
      .select(col("cls"),
        (expr("(csize - 1) * (csize - 2) DIV 2") +
         (col("csize") - 1) * coalesce(col("s1"), lit(0L)) +
         coalesce(col("s2"), lit(0L)) +
         coalesce(col("t3"), lit(0L))).as("n_triangles"))
    member.join(perClass, "cls")
      .select(col("u").as("doc_id"), col("n_triangles"))
      .orderBy("doc_id")
  }

  /** Missing-link audit over the near-dup graph — the RE-VERIFY QUEUE
    * transitivity suggests: two FAMILIES (twin classes) that are both
    * similar to the same third family but carry NO edge between them
    * are exactly where LSH banding most plausibly missed a true pair
    * (B drifted from A and from C in different bands). Emitted at
    * family level on the twin-collapsed quotient — (class pair, how
    * many distinct common neighbor classes, how many doc pairs a
    * verification pass would cost) — because that is the unit a
    * re-verify scheduler budgets by; doc-level expansion is the
    * consumer's explode. Ranked by evidence (common neighbors) first.
    *
    * Scale shape: wedges enumerate on the QUOTIENT graph only (the
    * twin collapse shrinks it to ~#families); the closing-edge
    * anti-join is class-keyed; nothing touches documents. `twins` is the
    * [[twinDecomposition]] of the pair graph. */
  def missingLinks(twins: (DataFrame, DataFrame, DataFrame), minCommon: Int = 2): DataFrame = {
    val (_, csz, cedges) = twins
    val csym = cedges.unionAll(cedges.select(col("y").as("x"), col("x").as("y")))
    // open wedges x–m–z (x < z), closing edge absent
    val wedges = csym.as("e1")
      .join(csym.as("e2"),
        col("e1.y") === col("e2.x") && col("e1.x") < col("e2.y"))
      .select(col("e1.x").as("a"), col("e2.y").as("c"), col("e1.y").as("m"))
    // n_common = count, not countDistinct (r18): csym is a SET (cedges
    // is distinct with x<y, so the reversal cannot collide), hence each
    // wedge (a,m,c) is produced exactly once by the self-join and the
    // distinct-m count equals the plain row count — dropping the
    // Expand + second exchange of the distinct aggregate over the
    // wedge table, the query's largest intermediate. Same value.
    val open = wedges.join(cedges,
        wedges("a") === cedges("x") && wedges("c") === cedges("y"), "left_anti")
      .groupBy("a", "c").agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    open
      .join(csz.select(col("cls").as("a"), col("csize").as("sa")), "a")
      .join(csz.select(col("cls").as("c"), col("csize").as("sc")), "c")
      .select(col("a").as("cls_1"), col("c").as("cls_2"), col("n_common"),
        (col("sa") * col("sc")).as("verify_pairs"))
      .orderBy(col("n_common").desc, col("cls_1").asc, col("cls_2").asc)
  }

  /** Consumer of the [[missingLinks]] re-verify queue — the RECALL-
    * REPAIR loop a production dedup actually runs (r10 verdict #3):
    * expand each queued family pair (twin classes) to its doc pairs,
    * verify each by the exact sorted-merge Jaccard walk over the SAME
    * token-hash sets the graph's own verification used, and emit every
    * audited pair with its exact jaccard and the confirmed verdict.
    * Confirmed rows are banding-missed TRUE pairs — union them into the
    * pair graph and the cluster fixpoint repairs
    * ([[missingLinksRepair]]).
    *
    * Scale shape: the queue bounds the work by construction — a
    * re-verify scheduler budgets by `verify_pairs`, expansion is
    * class-size × class-size per queued entry (fixture: 6.4k
    * verifications off a 4.4k-entry queue), never corpus-shaped; token
    * sets are joined candidate-side, and the verify is the native
    * zero-allocation merge walk.
    *
    * `sets` holds every document's `(doc_id, hsh)` token-hash set
    * ([[Similarity.tokenSets]], or the members of the
    * [[Similarity.tokenSetGroups]] collapse exploded), `twins` the
    * [[twinDecomposition]] of the pair graph. */
  def missingLinksVerify(sets: DataFrame, twins: (DataFrame, DataFrame, DataFrame),
      threshold: Double, minCommon: Int = 2,
      excludePairs: Option[DataFrame] = None): DataFrame = {
    graft.engine.functions.GraftFunctions.register(sets.sparkSession)
    val (member, csz, _) = twins
    val queue = missingLinks(twins, minCommon)
    // PRE-EXPANSION family prune over the refuted ledger (r14, the
    // ADVICE finding that refuted pairs re-paid the member expansion
    // every batch): map the DISTINCT refuted doc pairs through the
    // CURRENT membership and drop any queue family whose refuted count
    // equals its full expansion size (csize_1 × csize_2) — no
    // unaudited pair left, nothing to expand. This is exact, not
    // heuristic: classes are disjoint, so the family expands to
    // exactly sz1·sz2 distinct pairs. It is also the steady state —
    // the verify audits EVERY pair of a family in one pass, so the
    // whole family lands in the ledger together and the next batch
    // prunes it pre-expansion. A family whose membership re-formed
    // since the audit fails the count equality and re-expands safely
    // (twin classes share neighborhoods, NOT token sets, so a
    // one-refutation-kills-the-family shortcut would be unsound).
    val prunedQueue = excludePairs.fold(queue.select("cls_1", "cls_2")) { x =>
      val mcA = member.select(col("u").as("doc_id_1"), col("cls").as("ca"))
      val mcB = member.select(col("u").as("doc_id_2"), col("cls").as("cb"))
      val refutedPerFam = x.select(col("doc_id_1"), col("doc_id_2")).distinct()
        .join(mcA, "doc_id_1").join(mcB, "doc_id_2")
        .select(least(col("ca"), col("cb")).as("cls_1"),
                greatest(col("ca"), col("cb")).as("cls_2"))
        .groupBy("cls_1", "cls_2").agg(count(lit(1)).as("n_refuted"))
      queue.select("cls_1", "cls_2")
        .join(csz.select(col("cls").as("cls_1"), col("csize").as("sz1")), "cls_1")
        .join(csz.select(col("cls").as("cls_2"), col("csize").as("sz2")), "cls_2")
        .join(refutedPerFam, Seq("cls_1", "cls_2"), "left_outer")
        .filter(coalesce(col("n_refuted"), lit(0L)) < col("sz1") * col("sz2"))
        .select("cls_1", "cls_2")
    }
    val m1 = member.select(col("cls").as("cls_1"), col("u").as("d1"))
    val m2 = member.select(col("cls").as("cls_2"), col("u").as("d2"))
    // classes are disjoint and the queue is (cls_1 < cls_2)-unique, so
    // the expansion emits each doc pair exactly once
    val expanded = prunedQueue
      .join(m1, "cls_1").join(m2, "cls_2")
      .select(least(col("d1"), col("d2")).as("doc_id_1"),
              greatest(col("d1"), col("d2")).as("doc_id_2"))
    // residual doc-pair anti-join for PARTIALLY re-formed families
    // (some but not all of the expansion already refuted): the exact
    // verify below is the expensive stage and never re-audits a
    // ledgered pair (the ledger is audited-pairs-sized, far under the
    // graph; a confirmed edge closes its wedge structurally instead)
    val cand = excludePairs.fold(expanded)(x =>
      expanded.join(x.select(col("doc_id_1"), col("doc_id_2")),
        Seq("doc_id_1", "doc_id_2"), "left_anti"))
    val sa = sets.select(col("doc_id").as("doc_id_1"), col("hsh").as("sa"))
    val sb = sets.select(col("doc_id").as("doc_id_2"), col("hsh").as("sb"))
    cand.join(sa, "doc_id_1").join(sb, "doc_id_2")
      .withColumn("jaccard", Similarity.setJaccard(col("sa"), col("sb")))
      .select(col("doc_id_1"), col("doc_id_2"), col("jaccard"),
        (col("jaccard") >= threshold).as("confirmed"))
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** The repaired cluster assignment after the recall-repair pass:
    * [[missingLinksVerify]]'s confirmed edges join the pair graph and
    * the shared CC fixpoint re-runs over the widened edge list — a
    * banding-missed bridge between two families now collapses them
    * into one cluster, which greedy banding alone could never do.
    *
    * `verified` is the audited queue over `pairs`: in production a
    * PERSISTED artifact the re-verify scheduler writes, so the repair
    * owns only the CC re-run. */
  def missingLinksRepair(documents: DataFrame, idCol: String,
      pairs: DataFrame, verified: DataFrame): DataFrame = {
    val confirmed = verified.filter(col("confirmed"))
      .select(col("doc_id_1"), col("doc_id_2"))
    dedupClusters(documents, idCol,
      pairs.select(col("doc_id_1"), col("doc_id_2")).unionAll(confirmed))
  }

  /** The naive oriented wedge enumeration — retained as the reference
    * implementation the twin-collapse form is property-tested against
    * (tests only; Θ(Σ family³) triangle instances make it the wrong
    * shape for a dup graph at scale). */
  private[engine] def pairGraphTrianglesNaive(pairs: DataFrame): DataFrame = {
    val e = pairs.select(least(col("doc_id_1"), col("doc_id_2")).as("a"),
                         greatest(col("doc_id_1"), col("doc_id_2")).as("b"))
      .filter(col("a") < col("b")).distinct()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val perNode = tri.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
    val nodes = pairs.select(col("doc_id_1").as("doc_id"))
      .unionAll(pairs.select(col("doc_id_2").as("doc_id"))).distinct()
    nodes.join(perNode, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .orderBy("doc_id")
  }

  /** Interpolated Kneser-Ney bigram LM table — the standard n-gram
    * smoothing next to [[lmTableBackoff]]'s Stupid Backoff: instead of
    * falling through to raw unigram frequency, the lower-order model is
    * the CONTINUATION probability (in how many distinct contexts does
    * w2 appear), which is what makes KN the default for fluency
    * filtering ("francisco" is frequent but only ever follows "san" —
    * backoff overrates it, continuation does not).
    *
    *   p(w2|w1) = max(c12 − D, 0)/c1 + D·N1+(w1,·)/c1 · N1+(·,w2)/T
    *
    * with discount D = 3/4. Every probability is the exact rational
    *   [(4·c12 − 3)·T + 3·n1p·ncont] / (4·c1·T)
    * and ships as `floor(10⁶·p)` computed in exact fixed-point
    * arithmetic (`(10⁶·num) DIV den` over DECIMAL(38,0)) — zero floats
    * anywhere, so the oracle replays bit-exactly. DECIMAL promotion
    * (r10 verdict #4) moves the magnitude ceiling from the old Long
    * bound (c12·T < 2.3e12 — within reach of a real corpus) to
    * 10⁶·4·c12·T < 10³⁸, i.e. c12·T < 2.5e31 — past any physical
    * corpus (10¹⁴ bigram tokens × 10¹⁴ types is 10²⁸). The absurd
    * regime FAILS LOUDLY instead of wrapping: a decimal overflow
    * yields NULL under non-ANSI semantics, and the expression guards
    * every computed probability with `raise_error` on NULL
    * ([[KnFixedPointSql]], property-tested at adversarial magnitudes).
    *
    * Table rows (uniform integer schema `(ngram, level, a, b)`):
    *  - level 2: seen bigram "w1 w2", a = floor(10⁶·p_kn), b = 0
    *  - level 1: context w1, a = c1 (context count), b = n1p (distinct
    *    followers) — the backoff-weight ingredients
    *  - level 0: word w2, a = ncont (distinct predecessors), b = T
    *    (bigram types) — the continuation ingredients
    * [[lmScoreKn]] composes unseen-pair probabilities from levels 1+0
    * at score time, so no product-of-floors error ever enters.
    *
    * Scale shape: one bigram count pass + three Zipf-bounded aggregates;
    * the table is vocab-sized and broadcasts at score time (the
    * train-on-sample / score-everything discipline the backoff LM and
    * classifier already follow). */
  /** The seen-bigram KN fixed point `floor(10⁶·p_kn)` over columns
    * (c12, c1, n1p, ncont, t), in DECIMAL(38,0) with a raise_error
    * guard on overflow-NULL (the inner joins make every input non-null,
    * so NULL here can ONLY mean the 10³⁸ ceiling was breached).
    * Factored out so the overflow property test evaluates the exact
    * production expression against BigInt reference arithmetic. */
  private[engine] val KnFixedPointSql: String = {
    val p = "(1000000 * ((4 * CAST(c12 AS DECIMAL(20,0)) - 3) * t + " +
      "3 * CAST(n1p AS DECIMAL(20,0)) * ncont)) DIV (4 * CAST(c1 AS DECIMAL(20,0)) * t)"
    s"""CASE WHEN ($p) IS NULL
       |  THEN CAST(raise_error('lmTableKn: KN fixed point overflowed DECIMAL(38,0) — c12*T breached 2.5e31; rescale T') AS BIGINT)
       |  ELSE ($p) END""".stripMargin
  }

  /** Score-time twin of [[KnFixedPointSql]]: the unseen-bigram backoff
    * composition (discount weight × continuation), written ONCE and
    * spliced into both the NULL probe and the value branch of the
    * overflow guard — the THEN arms are non-null by construction, so a
    * NULL result can only be DECIMAL(38,0) overflow. */
  private[engine] val KnScoreSql: String = {
    val backoff =
      """coalesce(cond2,
        |  CASE
        |    WHEN c1 IS NOT NULL AND ncont IS NOT NULL
        |      THEN (1000000 * 3 * CAST(n1p AS DECIMAL(20,0)) * ncont) DIV (4 * CAST(c1 AS DECIMAL(20,0)) * t)
        |    WHEN c1 IS NOT NULL THEN 0L
        |    WHEN ncont IS NOT NULL THEN (1000000 * CAST(ncont AS DECIMAL(20,0))) DIV t
        |    ELSE 0L
        |  END)""".stripMargin
    s"""CASE WHEN ($backoff) IS NULL
       |  THEN CAST(raise_error('lmScoreKn: KN fixed point overflowed DECIMAL(38,0) — rescale T') AS BIGINT)
       |  ELSE ($backoff) END""".stripMargin
  }

  def lmTableKn(documents: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val big = documents.select(
        explode(call_function("pos_grams", col(textCol), lit(2), lit(true))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c12"))
      .withColumn("w1", element_at(split(col("g"), " "), 1))
      .withColumn("w2", element_at(split(col("g"), " "), 2))
    val ctx = big.groupBy("w1").agg(sum("c12").as("c1"), count(lit(1)).as("n1p"))
    val cont = big.groupBy("w2").agg(count(lit(1)).as("ncont"))
    val tot = big.agg(count(lit(1)).as("t"))
    val seen = big.join(ctx, "w1").join(cont, "w2").crossJoin(broadcast(tot))
      .select(col("g").as("ngram"), lit(2L).as("level"),
        expr(KnFixedPointSql).as("a"),
        lit(0L).as("b"))
    val lvl1 = ctx.select(col("w1").as("ngram"), lit(1L).as("level"),
      col("c1").as("a"), col("n1p").as("b"))
    val lvl0 = cont.crossJoin(broadcast(tot))
      .select(col("w2").as("ngram"), lit(0L).as("level"),
        col("ncont").as("a"), col("t").as("b"))
    seen.unionAll(lvl1).unionAll(lvl0)
  }

  /** Score documents against a [[lmTableKn]] table: per-bigram
    * `floor(10⁶·p_kn)` — seen bigrams read the precomputed level-2
    * entry; unseen bigrams compose the discount-weight (level 1) and
    * continuation (level 0) ingredients into the exact rational at
    * score time; an unseen context degrades to the continuation
    * probability alone; a wholly unknown word scores 0. Doc score =
    * floored mean, the [[lmScoreBackoff]] contract. */
  def lmScoreKn(documents: DataFrame, idCol: String, textCol: String,
                lm: DataFrame, ordered: Boolean = true): DataFrame = {
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val parts = documents.select(col(idCol).as("doc_id"),
        explode(call_function("pos_grams", col(textCol), lit(2), lit(true))).as("bg"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
    val l2 = lm.filter(col("level") === 2).select(col("ngram").as("bg"), col("a").as("cond2"))
    val l1 = lm.filter(col("level") === 1)
      .select(col("ngram").as("w1"), col("a").as("c1"), col("b").as("n1p"))
    val l0 = lm.filter(col("level") === 0)
      .select(col("ngram").as("w2"), col("a").as("ncont"), col("b").as("t"))
    // the table is vocab-bounded by construction (Zipf) — broadcast all
    // three levels so the corpus-sized gram stream never shuffles
    val out = parts
      .join(broadcast(l2), Seq("bg"), "left_outer")
      .join(broadcast(l1), Seq("w1"), "left_outer")
      .join(broadcast(l0), Seq("w2"), "left_outer")
      .select(col("doc_id"),
        // same DECIMAL(38,0) promotion + loud-overflow guard as the
        // table build ([[KnFixedPointSql]]): each THEN arm is non-null
        // by construction, so a NULL sc can only be decimal overflow.
        // The backoff expression is FACTORED (one source of truth inside
        // the guard) for the same reason KnFixedPointSql is a constant:
        // a probe/value copy pair edited apart would silently change
        // which rows error vs what they return
        expr(KnScoreSql).as("sc"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("sc").as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("s DIV n_bigrams").as("lm_score"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Exact set-similarity self-join via PREFIX FILTERING (the
    * AllPairs/PPJoin family) — the exact near-dup discipline that needs
    * NO blocking key and nothing probabilistic. Every distinct token
    * set (identical sets collapse to a min-id representative first —
    * the house discipline every minhash operator shares) is ordered by
    * ascending global document frequency, rarest token first (ties on
    * the hash), and only its PREFIX — the first `n − ⌈t·n⌉ + 1` tokens —
    * is indexed. Completeness theorem: under ANY common total order,
    * two sets with `J(a,b) ≥ t` overlap in `≥ ⌈t·max(na,nb)⌉` tokens,
    * so a set disjoint from another's prefix can share at most
    * `n − p = ⌈t·n⌉ − 1` of its tokens — below the required overlap —
    * hence every qualifying pair MEETS on some prefix token
    * (property-tested against a driver-side all-pairs truth).
    *
    * Frequency ordering is what makes the filter sharp: prefixes hold
    * each set's RAREST tokens, so candidate volume tracks Σ df² over
    * rare tokens ≈ true-pair volume, not block population². The prefix
    * length is computed in INTEGER arithmetic (`⌈t·n⌉` as
    * `(tNum·n + tDen−1) DIV tDen`) so the oracle replays it exactly —
    * a float `ceil(0.9·n)` diverges between engines at n = 10.
    *
    * Scale shape: the df table is vocab-sized (Zipf-bounded) and
    * broadcast; the prefix explode inflates each set by ~(1−t)·n rows;
    * candidates meet on an 8-byte token-hash equi-join; the verify is
    * the native sorted merge walk under the same size-ratio prune
    * [[ngramJaccard]] uses. At 100 TB this is the exact tier that
    * stays correct with no lang/n_chars blocking assumption;
    * MinHash-LSH remains the probabilistic fast path. */
  def jaccardPrefixJoin(documents: DataFrame, idCol: String, textCol: String,
                        tNum: Int, tDen: Int, shingleK: Int = 3): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, s"threshold $tNum/$tDen outside (0,1]")
    graft.engine.functions.GraftFunctions.register(documents.sparkSession)
    val threshold = tNum.toDouble / tDen
    // shingleK > 1 is the INTENDED regime: prefix filtering's power is
    // the Zipf tail (rare elements make sharp prefixes), and shingles
    // manufacture one even from a tiny token vocabulary (the fixture's
    // 31 tokens → 27k distinct 3-shingles; token-level prefixes on the
    // same corpus admitted 230× more candidates — measured, the
    // q_ngram_jaccard small-vocab caveat in join form). shingleK = 1
    // degrades to token sets for direct comparability with the
    // minhash/banded operators.
    val base = documents.select(col(idCol).as("doc_id"),
      (if (shingleK <= 1)
        call_function("token_set_hashes62", col(textCol))
      else // native fused pass (value-identical to the interpreted
           // transform∘pos_grams∘poly_hash62 chain, pinned in FunctionsSpec)
        call_function("gram_set_hashes62", col(textCol), lit(shingleK))).as("hsh"))
    val grps = Similarity.hashSetGroups(base).select(col("rep"), col("hsh"))
    val toks = grps.select(col("rep"), explode(col("hsh")).as("h"))
    val dfTab = toks.groupBy("h").agg(count(lit(1)).as("df"))
    val ordered = toks.join(broadcast(dfTab), "h")
      .groupBy("rep")
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("ohs"),
           count(lit(1)).as("n"))
      .select(col("rep"), expr("transform(ohs, x -> x.h)").as("oh"), col("n"),
        expr(s"n - (($tNum * n + ${tDen - 1}) DIV $tDen) + 1").as("p"))
    // size rides along so the LENGTH filter (PPJoin's second filter:
    // J ≥ t forces min(na,nb) ≥ t·max(na,nb)) kills incompatible pairs
    // INSIDE the join probe, BEFORE the distinct — the dominant stage
    // on a small-vocabulary corpus where prefix tokens alone stay
    // common (measured 14.2 s → the sizeBound join at sf0.1; the prune
    // is output-neutral, same slack argument as ngramJaccard)
    val pref = ordered.select(col("rep"), col("n"),
      explode(slice(col("oh"), lit(1), col("p"))).as("h"))
    val cand = pref.as("x").join(pref.as("y"), Seq("h"))
      .filter(col("x.rep") < col("y.rep") &&
        Similarity.sizeBound(col("x.n"), col("y.n"), threshold))
      .select(col("x.rep").as("r1"), col("y.rep").as("r2")).distinct()
    cand
      .join(grps.select(col("rep").as("r1"), col("hsh").as("sa")), "r1")
      .join(grps.select(col("rep").as("r2"), col("hsh").as("sb")), "r2")
      .filter(Similarity.sizeBound(size(col("sa")), size(col("sb")), threshold))
      .withColumn("jaccard", Similarity.setJaccard(col("sa"), col("sb")))
      .filter(col("jaccard") >= threshold)
      .select(col("r1").as("doc_id_1"), col("r2").as("doc_id_2"), col("jaccard"))
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** The INCREMENTAL face of [[jaccardPrefixJoin]] — the AllPairs R-S
    * join: an arriving batch checks against the STANDING corpus without
    * the corpus ever joining itself (the `q_dedup_incremental`
    * discipline applied to the exact tier). The standing side keeps its
    * identical-set collapse and its rare-first prefix index built from
    * ITS OWN shingle dfs; batch docs order their shingles under the
    * SAME df table (unseen shingles rank rarest at df = 0 — any common
    * total order preserves the completeness theorem, and the standing
    * index's statistics are exactly what a deployed index has).
    * Candidates = batch-prefix × corpus-prefix equi-join under the
    * length filter; verify exact. Output: every (new doc, standing rep)
    * pair with J ≥ t — the admission gate's evidence rows.
    *
    * Scale: the batch side is small by definition; the corpus-side
    * prefix index is the standing artifact, rebuilt only by
    * [[minhashIndexMerge]]-style maintenance, never per batch. */
  def jaccardPrefixIncremental(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, tNum: Int, tDen: Int,
      shingleK: Int = 3): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, s"threshold $tNum/$tDen outside (0,1]")
    graft.engine.functions.GraftFunctions.register(corpus.sparkSession)
    val threshold = tNum.toDouble / tDen
    def sets(df: DataFrame) = df.select(col(idCol).as("doc_id"),
      call_function("gram_set_hashes62", col(textCol), lit(shingleK)).as("hsh"))
    val refGrps = Similarity.hashSetGroups(sets(corpus)).select(col("rep"), col("hsh"))
    val refToks = refGrps.select(col("rep"), explode(col("hsh")).as("h"))
    val dfTab = refToks.groupBy("h").agg(count(lit(1)).as("df"))
    def orderedPref(toks: DataFrame, keyCol: String): DataFrame =
      toks.join(broadcast(dfTab), Seq("h"), "left_outer")
        .withColumn("dfx", coalesce(col("df"), lit(0L)))
        .groupBy(keyCol)
        .agg(array_sort(collect_list(struct(col("dfx"), col("h")))).as("ohs"),
             count(lit(1)).as("n"))
        .select(col(keyCol), col("n"),
          explode(slice(expr("transform(ohs, x -> x.h)"), lit(1),
            expr(s"n - (($tNum * n + ${tDen - 1}) DIV $tDen) + 1"))).as("h"))
    val refPref = orderedPref(refToks, "rep")
    val newSets = sets(batch)
    val newPref = orderedPref(
      newSets.select(col("doc_id"), explode(col("hsh")).as("h")), "doc_id")
    val cand = newPref.as("x").join(refPref.as("y"), Seq("h"))
      .filter(Similarity.sizeBound(col("x.n"), col("y.n"), threshold))
      .select(col("x.doc_id").as("doc_id_new"), col("y.rep").as("doc_id_ref"))
      .distinct()
    cand
      .join(newSets.select(col("doc_id").as("doc_id_new"), col("hsh").as("sa")), "doc_id_new")
      .join(refGrps.select(col("rep").as("doc_id_ref"), col("hsh").as("sb")), "doc_id_ref")
      .withColumn("jaccard", Similarity.setJaccard(col("sa"), col("sb")))
      .filter(col("jaccard") >= threshold)
      .select("doc_id_new", "doc_id_ref", "jaccard")
      .orderBy("doc_id_new", "doc_id_ref")
  }

  /** Fuzzy record-linkage: candidate pairs blocked on caller-chosen
    * columns, verified by exact Levenshtein distance ≤ `maxDist` — the
    * typo-tolerant entity-matching primitive (dedup of user-entered
    * names, near-identical titles). Output is identical under either
    * internal strategy (property-tested):
    *
    *  - `maxDist == 1` (the common linkage setting): DELETION-
    *    NEIGHBORHOOD blocking (the FastSS/SymSpell family). Each string
    *    emits `len+1` variants — itself plus every one-char deletion —
    *    and candidates are pairs sharing (block, variant). This is a
    *    PROVABLE superset of the answer: dist(a,b) ≤ 1 means a = b
    *    (share the identity variant), a = b minus one char (a is a
    *    deletion variant of b), or a substitution at position i
    *    (deleting i from both yields the same string). The in-block
    *    all-pairs stage disappears — candidate volume tracks true-pair
    *    volume plus rare variant collisions, not block population², so
    *    the operator stays near-linear as blocks grow with the corpus
    *    (the r9 SCALECHECK finding: the blocked join bent superlinear
    *    at 4.99×/3× data; this path removes the quadratic stage rather
    *    than capping it). Cost: ~(len+1)× row inflation through one
    *    shuffle — meant for short attribute strings, not documents.
    *  - `maxDist == 2` with short strings (r16): the SAME deletion-
    *    neighborhood family one level up — each string emits its
    *    ≤2-deletion neighborhood (identity + single + ordered double
    *    deletions, ~len²/2 variants). dist(a,b) ≤ 2 guarantees a shared
    *    member (the FastSS superset property: align the ≤2 edit
    *    positions and delete them from both sides), and the exact
    *    thresholded verify discards the excess, so the output is
    *    identical to the block join (property-tested). Candidate volume
    *    tracks true-pair volume, not block population² — the r15 ladder
    *    showed the blocked join's norm_last at 1.90; this path removes
    *    the quadratic stage. The len²-fold row inflation is the cost,
    *    so the strategy is GATED on the corpus's measured max string
    *    length (≤ [[Del2MaxLen]] — attribute strings, not documents);
    *    the gate is one max() aggregate, the counted-gate discipline
    *    the CC union-find fuse already uses.
    *  - `maxDist ≥ 3`, or d = 2 past the length gate: the blocked
    *    self-join with length-band guard (deletion neighborhoods grow
    *    combinatorially in d, so the block-local quadratic verify is
    *    the honest long-string/high-d fallback; compose a tighter key
    *    into `blockCols` to bound blocks).
    *
    * NOTE (r17, ADVICE): with `maxDist == 2` this function is NOT pure
    * plan construction — the strategy gate runs one EAGER `max(length)`
    * aggregate over `records` at call time (the counted-gate
    * discipline, like the CC union-find fuse), i.e. one narrow scan of
    * the input before the returned frame executes. Callers
    * constructing plans speculatively pay that scan per construction;
    * construct once and reuse the frame.
    */
  def fuzzyMatch(records: DataFrame, idCol: String, strCol: String,
                 blockCols: Seq[String], maxDist: Int): DataFrame =
    if (maxDist == 1) fuzzyMatchDel1(records, idCol, strCol, blockCols)
    else if (maxDist == 2 && maxStrLen(records, strCol) <= Del2MaxLen)
      fuzzyMatchDel2(records, idCol, strCol, blockCols)
    else fuzzyMatchBlockJoin(records, idCol, strCol, blockCols, maxDist)

  /** Length gate for the d=2 deletion strategy: past this the ~len²/2
    * variant inflation outweighs removing the block-quadratic verify
    * (48² / 2 ≈ 1.1k variant rows per string is the accepted ceiling —
    * name/title attributes sit far under it, documents far over). */
  private val Del2MaxLen = 48

  /** The one driver-held scalar behind the d=2 strategy gate — a max()
    * aggregate, not data (the counted-gate discipline). */
  private def maxStrLen(records: DataFrame, strCol: String): Int = {
    val r = records.agg(max(length(col(strCol)))).head()
    if (r.isNullAt(0)) 0 else r.getInt(0)
  }

  /** [[fuzzyMatch]]'s deletion-neighborhood strategy (maxDist = 1).
    * Variant keys come from the native [[graft.engine.functions.DelVariantHashes]]
    * pass (r17): one codegen'd expression emits the sorted distinct
    * 64-bit hashes of the run-canonical ≤1-deletion neighborhood with
    * O(len) splice arithmetic per variant and no variant-string
    * materialization. Joining the hash instead of the variant text keeps
    * the shuffled candidate key 8 bytes; a hash collision only adds a
    * false CANDIDATE, which the exact verify below discards. The
    * candidate join runs NARROW — (id, vk, block) only — and strings
    * re-attach to the collapsed pair set from the corpus-sized base
    * (the [[fuzzyMatchDel2]] discipline). */
  private def fuzzyMatchDel1(records: DataFrame, idCol: String, strCol: String,
                             blockCols: Seq[String]): DataFrame =
    delVariantMatch(records, idCol, strCol, blockCols, 1)

  /** [[fuzzyMatch]]'s deletion-neighborhood strategy at maxDist = 2
    * (r16, verdict item 6). Each string emits one row per member of its
    * ≤2-deletion neighborhood, encoded as an ordered position pair
    * (i, j): (0, 0) = the string itself, (0, j ≥ 1) = char j deleted,
    * (1 ≤ i < j) = chars i and j deleted — each member exactly once, no
    * (len+1)²-shaped duplicate emission. Candidates are pairs sharing
    * (block, variant-hash); sharing any member bounds the distance by
    * the two sides' deletion counts (≤ 4), and the FastSS superset
    * property guarantees every true dist-≤2 pair shares one, so the
    * exact thresholded verify below returns precisely the block join's
    * answer. Joining the 64-bit variant hash instead of the variant
    * text keeps the shuffled candidate key 8 bytes; a hash collision
    * only adds a false candidate the verify discards. */
  private[engine] def fuzzyMatchDel2(records: DataFrame, idCol: String, strCol: String,
                                     blockCols: Seq[String]): DataFrame =
    delVariantMatch(records, idCol, strCol, blockCols, 2)

  /** Shared body of the d = 1 / d = 2 deletion-neighborhood strategies.
    *
    * Variant keys come from the native
    * [[graft.engine.functions.DelVariantHashes]] expression (r17): one
    * codegen'd pass computes the sorted distinct 64-bit hashes of the
    * RUN-CANONICAL ≤d-deletion neighborhood via prefix polynomial
    * splicing — O(1) arithmetic per variant, no variant-string
    * materialization. The r16 explode-chain formulation built every
    * variant as substr+concat UTF8Strings feeding xxhash64; at sf0.1
    * that allocation traffic measured ~84 s of summed task time (~5 s
    * GC) for q_fuzzy_match2 alone, vs ~1 s for the whole hash pass
    * here. The RUN-CANONICAL rule (keep only the leftmost deletion
    * position of any same-char run — lossless for the variant SET,
    * kills the run-squared candidate multiplicity zero-padded ids pay)
    * and the per-record hash dedupe both live inside the expression.
    *
    * The candidate stage runs NARROW — (id, vk, block) only, no
    * strings — and as ONE shuffle (r18): the variant stream groups by
    * (block, vk) and each bucket's id list explodes to its i<j pairs.
    * The previous self-join shuffled the variant stream TWICE (the two
    * exchanges never canonicalize equal under the id_1/id_2 aliasing,
    * so nothing was reused and del_variant_hashes ran over the corpus
    * twice) and built a variant-count-sized hash relation per
    * partition; the groupBy pays none of that, and the bucket fan-out
    * (n² pairs per n-member bucket) is exactly the old join's output
    * volume. Bucket population is bounded by the run-canonical rule the
    * expression applies (a pathological hot variant key concentrates
    * its bucket in one row here, where the join spread it — at the
    * fixture's name-key profile buckets are 1–3 ids; a corpus with
    * giant fuzzy-duplicate families would salt the bucket key first,
    * the saltCells discipline). The distinct that collapses
    * shared-variant multiplicity (a true pair shares up to ~|s|
    * variants) still shuffles 16-byte pairs with map-side partial
    * aggregation. Strings re-attach to the collapsed pair set from the
    * UNREPARTITIONED base (the re-attach sides broadcast here /
    * key-shuffle at scale, either way sized by PAIRS — the old code
    * pointlessly round-robin-shuffled each side before broadcasting
    * it) and the exact thresholded verify runs once per distinct
    * pair. */
  private def delVariantMatch(records: DataFrame, idCol: String, strCol: String,
                              blockCols: Seq[String], d: Int): DataFrame = {
    graft.engine.functions.GraftFunctions.register(records.sparkSession)
    // the ~len²/2 (d = 2) variant expansion happens per INPUT row, so
    // the input must be spread across the cluster even when it arrives
    // as one small file — a single-partition input serializes the whole
    // variant-emission map side (the same finding fuzzyMatchBlockJoin
    // records). Layout-only: the pair set and output order are
    // unchanged.
    val par = records.sparkSession.sparkContext.defaultParallelism
    val base = records.select(
      col(idCol).as("id") +: col(strCol).as("s") +: blockCols.map(col): _*)
    val variants = base.repartition(par).select(
      (col("id") +: blockCols.map(col)) :+
        explode(call_function("del_variant_hashes", col("s"), lit(d))).as("vk"): _*)
    val buckets = variants
      .groupBy(blockCols.map(col) :+ col("vk"): _*)
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) > 1)
    val cand = buckets
      .select(explode(col("ids")).as("id_1"), col("ids"))
      .select(col("id_1"), explode(col("ids")).as("id_2"))
      .filter(col("id_1") < col("id_2"))
      .distinct()
    cand
      .join(base.select(col("id").as("id_1"), col("s").as("sa")), "id_1")
      .join(base.select(col("id").as("id_2"), col("s").as("sb")), "id_2")
      .withColumn("dist", levenshtein(col("sa"), col("sb"), d).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= d)
      .select("id_1", "id_2", "sa", "sb", "dist")
      .orderBy("id_1", "id_2")
  }

  /** [[fuzzyMatch]]'s blocked-self-join strategy (general maxDist) —
    * also the reference implementation the deletion path is
    * property-tested against. */
  private[engine] def fuzzyMatchBlockJoin(records: DataFrame, idCol: String,
      strCol: String, blockCols: Seq[String], maxDist: Int): DataFrame = {
    val base = records.select(
      col(idCol).as("id") +: col(strCol).as("s") +: blockCols.map(col): _*)
    // The quadratic work (|block|² distance calls) happens per PROBE row,
    // so the probe side must be spread across the cluster even when the
    // input is one small file — a single-partition probe serializes the
    // whole pair stage under a broadcast build (measured 24 s → 1.7 s at
    // sf0.1). Round-robin repartition is layout-only: the pair set and
    // the output order are unchanged.
    val par = records.sparkSession.sparkContext.defaultParallelism
    val a = base.repartition(par)
      .select(col("id").as("id_1") +: col("s").as("sa") +: blockCols.map(col): _*)
    val b = base.select(col("id").as("id_2") +: col("s").as("sb") +: blockCols.map(col): _*)
    a.join(b, blockCols)
      // length-band guard BEFORE the distance: |len(a)−len(b)| is a
      // Levenshtein lower bound, so the prefilter is result-identical
      // and prunes pairs before the O(n·m) verify; the thresholded
      // levenshtein then early-exits its band at maxDist (returns −1
      // past it — excluded by the >= 0 filter, never a kept value)
      .filter(col("id_1") < col("id_2") &&
        abs(length(col("sa")) - length(col("sb"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("sa"), col("sb"), maxDist).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select("id_1", "id_2", "sa", "sb", "dist")
      .orderBy("id_1", "id_2")
  }

  /** The composed corpus build — the end-to-end operator a training
    * pipeline actually runs, chaining the individually-oracled stages:
    *
    *   0. LINE CURATION (head stage, supplied by the CALLER as the
    *      corpus frame — [[Lines.lineCuratedCorpus]], i.e.
    *      [[Lines.docReflow]] verbatim): real C4/RefinedWeb pipelines
    *      run line filters + corpus line dedup + reflow BEFORE any
    *      document-level gate, so every stage below sees the reflowed
    *      text (q_curation_pipeline feeds exactly that);
    *   1. RULE FILTER: Gopher-style quality verdict (keep = true);
    *   2. REPETITION GATE (optional, `repCaps`): drop docs whose
    *      duplicate-bigram/trigram basis points exceed the caps — the
    *      Rae-et-al. repetition thresholds that catch boilerplate loops
    *      the aggregate Gopher stats miss;
    *   3. LM-FLUENCY GATE (optional, `lmFloor`): drop docs whose
    *      back-off LM score ([[lmScoreBackoff]] against a table trained
    *      on a corpus SAMPLE — the even-id half) falls below
    *      the floor — the KenLM-style perplexity filter, run after the
    *      cheap rule gates and before the expensive cross-doc stages
    *      (the production C4/Gopher → KenLM order);
    *   3b. LEARNED-CLASSIFIER GATE (optional, `classifier`): drop docs
    *      an offline-trained [[qualityClassifierTrain]] weight table
    *      scores negative — the curated-signal-extension layer
    *      (CCNet-style) in the same slot as the LM gate;
    *   4. DECONTAMINATION: drop docs sharing ≥ 2 distinct 3-token
    *      shingles with any benchmark doc;
    *   5. NEAR-DUP DEDUP: drop every doc near-duplicating a smaller-id
    *      doc (`pairs`: the MinHash-LSH pair graph over the SAME corpus
    *      slice — pairs over a superset would remove docs whose
    *      duplicate lies outside the slice);
    *   6. SPLIT MANIFEST: deterministic 80/10/10 assignment, reported
    *      per (split, dims) with doc/token counts.
    *
    * This is the text-side analogue of the annRerank composition: each
    * stage is already a first-class oracled operator; the pipeline query
    * proves they compose — ids flow through semi/anti joins only, no
    * stage rereads the corpus, and the benchmark side stays broadcast.
    * At 100 TB the filters are id-keyed semi/anti-joins over the doc-id
    * partitioning every stage already uses; the repetition gate is one
    * narrow native pass, and the LM gate's tables are Zipf-bounded
    * (train on a sample, score everything). */
  def curationPipeline(corpus: DataFrame, idCol: String, textCol: String,
                       benchmark: DataFrame, dims: Seq[String],
                       pairs: DataFrame,
                       repCaps: Option[(Long, Long)] = None,
                       lmFloor: Option[Long] = None,
                       classifier: Option[DataFrame] = None): DataFrame = {
    // API contract: the benchmark frame exposes the SAME idCol/textCol
    // names as the corpus (the decon stage addresses both sides by them)
    graft.engine.functions.GraftFunctions.register(corpus.sparkSession)
    // FUSED per-doc rule gates (r17): gopher_stats and dup_ngram_bp are
    // narrow native projections, so their keep verdicts ride the SAME
    // corpus pass that projects n_toks/dims below — the previous shape
    // re-scanned the corpus once per gate and semi-joined each id set
    // back (two scans + two joins for verdicts computable per row).
    // Gate semantics are exactly gopherRules' keep rule and
    // repetitionMetrics' caps (null text → null verdict → filtered, as
    // the semi-join forms dropped those rows too).
    val gs = call_function("gopher_stats", col(textCol))
    val gopherKeep =
      coalesce(gs.getField("n_words"), lit(0L)).between(5, 1000) &&
        gs.getField("mean_len_x100").between(300, 1000) &&
        gs.getField("rep_x10000") < 2000
    val repKeepExpr = repCaps.map { case (bp2Cap, bp3Cap) =>
      call_function("dup_ngram_bp", col(textCol), lit(2)) <= bp2Cap &&
        call_function("dup_ngram_bp", col(textCol), lit(3)) <= bp3Cap
    }
    // LM gate: docs without trigrams have no score and drop (the
    // lmScore discipline — moot after Gopher's n_words ≥ 5 rule)
    val lmKeep = lmFloor.map { floorV =>
      // persist the inline-trained table (r18): the scorer filters it
      // THREE times (one per back-off level), so the whole train subtree
      // — three gram counts + two joins — spliced 3× into the plan;
      // cached it is Zipf-bounded (model-sized) and read once per level.
      val table = lmTableBackoff(corpus.filter(col(idCol) % 2 === 0), idCol, textCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      lmScoreBackoff(corpus, idCol, textCol, table, ordered = false)
        .filter(col("lm_score") >= floorV).select("doc_id")
    }
    // learned-classifier gate (optional): an OFFLINE-trained
    // qualityClassifierTrain weight table, keep = score ≥ 0 — slots
    // after the cheap rule gates with the LM gate, before the
    // expensive cross-doc stages (the curated-signal-extension layer)
    val clfKeep = classifier.map { model =>
      qualityClassifierScore(corpus, idCol, textCol, model, ordered = false)
        .filter(col("pred_keep")).select("doc_id")
    }
    val contaminated = contamination(corpus, idCol, textCol,
        benchmark, idCol, textCol)
      .select("doc_id").distinct()
    val removed = pairs.select(col("doc_id_2").as("doc_id")).distinct()
    val base = corpus
      .filter(repKeepExpr.foldLeft(gopherKeep)(_ && _))
      .select(col(idCol).as("doc_id") +:
        size(toks(col(textCol))).cast("long").as("n_toks") +: dims.map(col): _*)
    val gated = Seq(lmKeep, clfKeep).flatten
      .foldLeft(base)((d, g) => d.join(g, Seq("doc_id"), "left_semi"))
    gated
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(removed, Seq("doc_id"), "left_anti")
      .withColumn("split", splitOf(col("doc_id")))
      .groupBy(col("split") +: dims.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
      .orderBy(col("split") +: dims.map(col): _*)
  }

  // ------------------------------------------------- fixture bindings

  /** The old/new boundary of the standing cluster table
    * ([[Artifacts.priorClusters]], [[ccIncremental]]'s `prior` input):
    * `keyBucket(doc_id) < 90` (r11 verdict item 5), NOT a fixed id cut.
    * The previous `doc_id < 250` boundary made the "delta" 95% of the
    * corpus at sf0.1 and ~100% at the replica rungs, so the bench was
    * effectively timing a from-scratch CC under the incremental label.
    * The hash carve keeps the delta a fixed 10% fraction at EVERY scale —
    * the bench's query net time is genuinely delta-sized work, and the
    * ScaleCheck ladder measures the delta path's own slope rather than
    * the full fixpoint's. */
  private[ops] def ccOldSide(c: Column): Column = keyBucket(c) < 90

  /** The session-shared artifacts by name, in dependency order — a view
    * over the [[Artifacts]] declarations for `graft.Bench`, which forces
    * each build under its own label so that consumer queries measure
    * their own work, not whichever first consumer paid the build. */
  def sharedArtifactBuilders(s: SparkSession, d: String): Seq[(String, () => DataFrame)] =
    Artifacts.all.map(a => a.name -> (() => a.frame(s, d)))

  val queries: Map[String, Q] = Map(
    // the fixture has ZERO exact-duplicate texts (every doc unique even
    // where near-dups abound), so the raw binding never removed a row —
    // found by the r9 all-constant-column audit (n_dups was 1 on every
    // row for eight rounds). A deterministic RE-CRAWL slice (every 10th
    // doc again under a shifted id — the commonest real source of exact
    // dups) makes the collapse branch fire for real.
    "q_dedup_exact" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val recrawl = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      exactDedup(base.unionAll(recrawl), "doc_id", "text")
    }),
    "q_dedup_key" -> ((s, d) =>
      latestPerKey(Tables.events(s, d), "user_id", "ts", "event_id")
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")),
    "q_text_stats" -> ((s, d) => textStats(Tables.documents(s, d), "lang", "text", "n_chars")),
    "q_lang_id" -> ((s, d) => langId(Tables.documents(s, d), "doc_id", "text", "lang")),
    "q_langid_segments" -> ((s, d) =>
      langIdSegments(Tables.documents(s, d), "doc_id", "text", "lang")),
    "q_quality_score" -> ((s, d) => qualityScore(Tables.documents(s, d), "doc_id", "text", "n_chars")),
    // learned quality filter, trained to extend the rule-based signal:
    // pseudo-label the even-id half with the quality_band discriminant
    // (not-"low" = distinct_ratio ≥ 0.3), learn token weights, score
    // EVERY doc — held-out generalization rides the same oracle
    "q_quality_classifier" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val labeled = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"),
          (distinctRatio(col("text")) >= 0.3).as("pos"))
      qualityClassifierScore(docs, "doc_id", "text",
        qualityClassifierTrain(labeled, "text", "pos"))
    }),
    // weights and sample share ONE memoized scoring pass (r17): the
    // ordered view and the resampling tail of the same per-doc scores
    "q_dsir_weights" -> ((s, d) => Artifacts.dsirScores(s, d).orderBy("doc_id")),
    "q_dsir_sample" -> ((s, d) =>
      dsirSample(Artifacts.dsirScores(s, d), "doc_id", "dsir_score")),
    "q_token_count" -> ((s, d) => tokenCounts(Tables.documents(s, d), "doc_id", "text")),
    "q_fingerprint" -> ((s, d) => fingerprint(Tables.documents(s, d), "doc_id", "text")),
    "q_ngram_jaccard" -> ((s, d) =>
      ngramJaccard(Tables.documents(s, d), "doc_id", "text", Seq("lang", "n_chars"), 0.5)),
    // the production blocking shape: n_chars BANDED (width 4, adjacent
    // bands admitted) instead of exact-matched — see the blocking caveat
    // on ngramJaccard; a 1-char-off near-dup pair survives here. Width
    // trades candidate volume against the |Δn| ≤ w meet guarantee; the
    // in-block verify is exhaustive, so candidate count grows with
    // block population² — MinHash-LSH stays the unbounded-scale
    // near-dup operator, this is the exact-verify regime
    "q_ngram_jaccard_banded" -> ((s, d) =>
      ngramJaccard(Tables.documents(s, d), "doc_id", "text", Seq("lang"), 0.5,
        bandCol = Some(("n_chars", 4)))),
    // asymmetric containment — blocked on the length-AGNOSTIC keys
    // (lang, source): containment's interesting pairs differ in length
    "q_containment" -> ((s, d) =>
      containmentPairs(Tables.documents(s, d), "doc_id", "text",
        Seq("lang", "source"), 0.8)),
    // cross-split near-dup leakage over the SAME shared pair graph +
    // the q_split bucket rule — fully oracled
    "q_split_leakage" -> ((s, d) =>
      splitLeakage(Artifacts.pairsFull(s, d))),
    // fully oracled: anti-join over the shared pair CTEs replayed in DuckDB
    "q_dedup_survivors" -> ((s, d) =>
      dedupCorpus(Tables.documents(s, d), "doc_id", Artifacts.pairsFull(s, d))
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")),
    "q_sample_stratified" -> ((s, d) =>
      stratifiedSample(Tables.documents(s, d), "doc_id", "lang",
        Map("en" -> 30, "zh" -> 20), defaultPct = 5)
        .select("doc_id", "lang", "source").orderBy("doc_id")),
    // cap 15 of the fixture's 25 docs/source: every domain is over cap,
    // so the seeded-order keep/drop decision is exercised on all of them
    "q_domain_cap" -> ((s, d) =>
      domainCap(Tables.documents(s, d), "doc_id", "source", cap = 15)),
    "q_shuffle_shards" -> ((s, d) =>
      shuffleShards(Tables.documents(s, d), "doc_id", "n_chars", nShards = 8)),
    // fully oracled: recursive-CTE reachability over the materialized edge list
    "q_dedup_clusters" -> ((s, d) => Artifacts.clusters(s, d).orderBy("id")),
    // cluster-table MAINTENANCE: standing assignment over the 90%
    // keyBucket carve (the memoized prior_clusters artifact — in
    // production yesterday's persisted table) + today's delta edges
    // (every pair touching a new-carve doc, sliced from the same
    // memoized pair graph) → the union corpus' exact cluster table via
    // the quotient-graph fixpoint. The oracle replays the from-scratch
    // walk over the union — the whole claim is incremental ==
    // from-scratch, at cost ∝ the 10% delta (see ccOldSide).
    "q_cc_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Artifacts.pairsFull(s, d)
      // the bucket carve is not id-ordered, so "touches a new doc" is
      // a disjunction over both endpoints — this slice is new-old ∪
      // new-new
      ccIncremental(Artifacts.priorClusters(s, d),
        pairs.filter(!ccOldSide(col("doc_id_1")) || !ccOldSide(col("doc_id_2")))
          .select(col("doc_id_1").as("a"), col("doc_id_2").as("b")),
        docs.filter(!ccOldSide(col("doc_id"))).select(col("doc_id").as("id")))
    }),
    // provenance-first canonical rule: source trust class dominates,
    // then document length, then smallest id — the integer packing
    // keeps the argmax exact in both engines
    "q_dedup_canonical" -> ((s, d) =>
      dedupCanonical(Tables.documents(s, d), "doc_id", Artifacts.clusters(s, d),
        expr("(CASE WHEN source IN ('src0', 'src1') THEN 2 ELSE 1 END) * 1000000 + n_chars"))),
    "q_dedup_weights" -> ((s, d) => dedupWeights(Artifacts.clusters(s, d))),
    // transitive-chain audit over the SAME memoized cluster fixpoint
    // the survivors/canonical/weights family consumes
    "q_dedup_cluster_audit" -> ((s, d) =>
      dedupClusterAudit(Tables.documents(s, d), "doc_id", "text", Artifacts.clusters(s, d))),
    "q_span_pairs" -> ((s, d) => spanPairs(Tables.documents(s, d), "doc_id", "text")),
    "q_sample_fixed" -> ((s, d) =>
      fixedSample(Tables.documents(s, d), "doc_id", 100, Seq("lang", "source"))),
    "q_tfidf" -> ((s, d) => tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", 3)),
    "q_gopher_rules" -> ((s, d) => gopherRules(Tables.documents(s, d), "doc_id", "text")),
    "q_repetition" -> ((s, d) => repetitionMetrics(Tables.documents(s, d), "doc_id", "text")),
    // every 10th doc gets a DECOMPOSED e+U+0301 suffix, so composition
    // actually recomposes something and `changed` fires on a real slice
    // (the pure-ASCII fixture left it false on every row — the
    // r9 all-constant-column audit finding)
    "q_normalize_text" -> ((s, d) =>
      normalizeText(Tables.documents(s, d)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0, concat(col("text"), lit(" e\u0301"))) // decomposed
            .otherwise(col("text")).as("text")),
        "doc_id", "text")),
    // deterministically messify the fixture (triple spaces, leading run,
    // trailing tab) so the collapse path is exercised UNDER the oracle,
    // not just in the property test
    "q_tokenize" -> ((s, d) => tokenize(
      Tables.documents(s, d).select(col("doc_id"),
        concat(lit("  "), regexp_replace(col("text"), " ", "   "), lit(" \t")).as("text")),
      "doc_id", "text", splitPunct = true)),
    // the normalize→dedup composition: exact dedup over NFC text — what
    // a real pipeline runs so composition-form variants can't split
    // NFC-then-dedup over a corpus carrying TRUE normalization twins:
    // every 10th doc re-appears twice, once suffixed with precomposed
    // U+00E9 and once with the decomposed e+U+0301 — byte-different,
    // canonically identical. Raw exact dedup keeps them apart; the
    // normalized chain collapses them (the operator's whole reason to
    // exist, previously vacuous on the pure-ASCII fixture).
    "q_dedup_exact_normalized" -> ((s, d) => {
      graft.engine.functions.GraftFunctions.register(s)
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val slice = base.filter(col("doc_id") % 10 === 0)
      val pre = slice.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" \u00e9")).as("text")) // precomposed e-acute
      val dec = slice.select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" e\u0301")).as("text")) // e + combining acute
      exactDedup(base.unionAll(pre).unionAll(dec)
        .select(col("doc_id"), call_function("nfc_normalize", col("text")).as("text")),
        "doc_id", "text")
    }),
    // threshold 78: the fixture vocabulary is ~30 tokens at 74-80% df
    // plus a rare tail, so 78 splits it into real stopwords vs content
    "q_stopword_filter" -> ((s, d) => stopwordFilter(Tables.documents(s, d), "doc_id", "text", 78)),
    "q_ngram_stats" -> ((s, d) => ngramStats(Tables.documents(s, d), "text", 20)),
    "q_token_diversity" -> ((s, d) => tokenDiversity(Tables.documents(s, d), "doc_id", "text")),
    "q_domain_divergence" -> ((s, d) => domainDivergence(Tables.documents(s, d), "source", "text")),
    "q_zipf_fit" -> ((s, d) => zipfFit(Tables.documents(s, d), "text", 1000)),
    "q_ngram_novelty" -> ((s, d) => ngramNovelty(Tables.documents(s, d), "doc_id", "text", 3)),
    "q_pmi_collocations" -> ((s, d) =>
      pmiCollocations(Tables.documents(s, d), "text", minCount = 2L, k = 50)),
    "q_vocab_build" -> ((s, d) =>
      vocabBuild(Tables.documents(s, d), "text", vocabSize = 300)),
    "q_mix_report" -> ((s, d) =>
      mixtureReport(Tables.documents(s, d), "doc_id", "text", Seq("source", "lang"))),
    "q_chunk" -> ((s, d) =>
      chunkDocuments(Tables.documents(s, d), "doc_id", "text", chunkSize = 32, overlap = 8)),
    "q_split" -> ((s, d) =>
      assignSplits(Tables.documents(s, d), "doc_id", "text", Seq("lang"))),
    "q_pack" -> ((s, d) =>
      packSequences(
        chunkDocuments(Tables.documents(s, d), "doc_id", "text", 32, 8)
          .select("doc_id", "chunk_idx", "n_toks"),
        "doc_id", "chunk_idx", "n_toks", budget = 64)),
    "q_pack_global" -> ((s, d) =>
      packGlobal(
        chunkDocuments(Tables.documents(s, d), "doc_id", "text", 32, 8)
          .select("doc_id", "chunk_idx", "n_toks"),
        "doc_id", "chunk_idx", "n_toks", budget = 64)),
    "q_pack_manifest" -> ((s, d) =>
      packManifest(
        packSequences(
          chunkDocuments(Tables.documents(s, d), "doc_id", "text", 32, 8)
            .select("doc_id", "chunk_idx", "n_toks"),
          "doc_id", "chunk_idx", "n_toks", budget = 64),
        "doc_id", "chunk_idx", "n_toks", budget = 64)),
    "q_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      contamination(docs.filter(col("doc_id") >= 10), "doc_id", "text",
        docs.filter(col("doc_id") < 10), "doc_id", "text")
    }),
    // same corpus/eval-set split as q_contamination; clipped bigrams
    "q_rouge_overlap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      rougeOverlap(docs.filter(col("doc_id") >= 10), "doc_id", "text",
        docs.filter(col("doc_id") < 10), "doc_id", "text")
    }),
    "q_dedup_paragraph" -> ((s, d) =>
      dedupParagraphs(Tables.documents(s, d), "doc_id", "text", paraSize = 16)),
    "q_dedup_substring" -> ((s, d) =>
      duplicateSubstrings(Tables.documents(s, d), "doc_id", "text")),
    // same corpus/benchmark split as q_contamination; exact ≥5-token runs
    "q_contamination_exact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      contaminationExact(docs.filter(col("doc_id") >= 10), "doc_id", "text",
        docs.filter(col("doc_id") < 10), "doc_id", "text", minRun = 5)
    }),
    "q_pii_scrub" -> ((s, d) =>
      regexScrub(Tables.documents(s, d), "doc_id", "text",
        "\\b(customer|key|value)\\b", "<PII>")),
    "q_mixture_weights" -> ((s, d) =>
      mixtureWeights(Tables.documents(s, d), "source", budget = 1000)),
    "q_inverted_index" -> ((s, d) =>
      invertedIndex(Tables.documents(s, d), "doc_id", "text")),
    // three fixed keyword queries over the corpus vocabulary; k=10
    "q_bm25_topk" -> ((s, d) => {
      import s.implicits._
      bm25TopK(Artifacts.corpusTokens(s, d), Artifacts.corpusDl(s, d),
        bm25FixtureQueries.toDF("query_id", "qtext"), "query_id", "qtext", 10)
    }),
    // the phrase-boosted ranking over the same fixture queries
    "q_bm25_proximity" -> ((s, d) => {
      import s.implicits._
      bm25Proximity(Tables.documents(s, d), "doc_id", "text",
        Artifacts.corpusTokens(s, d), Artifacts.corpusDl(s, d),
        bm25FixtureQueries.toDF("query_id", "qtext"), "query_id", "qtext", 10)
    }),
    // PRF loop over the same fixture queries: 5 feedback docs, 3
    // expansion terms per query, final top-10
    "q_query_expansion" -> ((s, d) => {
      import s.implicits._
      queryExpansion(Artifacts.corpusTokens(s, d), Artifacts.corpusDl(s, d),
        bm25FixtureQueries.toDF("query_id", "qtext"), "query_id", "qtext",
        nFeedback = 5, mExpand = 3, k = 10)
    }),
    "q_bpe_step" -> ((s, d) => bpeStep(Tables.documents(s, d), "doc_id", "text")),
    // learn and apply are two faces of ONE memoized merge chain (r17)
    "q_bpe_learn" -> ((s, d) => Artifacts.bpeChain(s, d)._1),
    "q_bpe_apply" -> ((s, d) => {
      val applied = Artifacts.bpeChain(s, d)._2
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens_raw"))
        .join(applied, "doc_id")
        .select(col("doc_id"), col("n_tokens_raw"),
          size(split(col("text"), " ")).cast("long").as("n_tokens_bpe"),
          col("text").as("bpe_text"))
        .orderBy("doc_id")
    }),
    "q_lm_score" -> ((s, d) => lmScore(Tables.documents(s, d), "doc_id", "text")),
    // train on the even half, score EVERYTHING: odd docs carry unseen
    // trigrams, so every back-off level (3 → 2 → 1 → 0) is exercised
    // under the hash oracle
    "q_lm_score_backoff" -> ((s, d) =>
      lmScoreBackoff(Tables.documents(s, d), "doc_id", "text",
        Artifacts.lmTableBackoff(s, d))),
    "q_dedup_degree" -> ((s, d) => dedupDegreeHistogram(Artifacts.pairsFull(s, d))),
    "q_graph_pagerank" -> ((s, d) =>
      pairGraphPagerankConverged(Artifacts.twins(s, d))),
    // triangles per node over the same memoized pair graph: template
    // families (cliquish) vs drift chains (triangle-free)
    "q_graph_triangles" -> ((s, d) =>
      pairGraphTriangles(Artifacts.twins(s, d))),
    // the transitivity re-verify queue: family pairs with common
    // neighbors but no edge — where banding most plausibly missed
    "q_missing_links" -> ((s, d) =>
      missingLinks(Artifacts.twins(s, d))),
    // the queue's CONSUMER (r10 verdict #3): exact-Jaccard verification
    // of every queued family pair's doc pairs — confirmed rows are
    // banding-missed true pairs
    "q_missing_links_verify" -> ((s, d) => Artifacts.verifiedLinks(s, d)),
    // the repaired assignment: confirmed edges join the pair graph and
    // the CC fixpoint re-runs — the full recall-repair loop closed;
    // the verify output arrives as the persisted artifact it is in
    // production, so this measures the repair's own CC re-run
    "q_missing_links_repair" -> ((s, d) =>
      missingLinksRepair(Tables.documents(s, d), "doc_id", Artifacts.pairsFull(s, d),
        Artifacts.verifiedLinks(s, d)).orderBy("id")),
    // corpus-version diff: v1 lacks every 13th doc (added later), v2
    // lacks every 7th (removed) and rewrites every 11th (changed) —
    // all four statuses fire on real rows
    "q_snapshot_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val v1 = docs.filter(col("doc_id") % 13 =!= 0)
      val v2 = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          reverse(col("text"))).otherwise(col("text")))
      snapshotDiff(v1, v2, "doc_id", "text")
    }),
    "q_corpus_fingerprint" -> ((s, d) =>
      corpusFingerprint(Tables.documents(s, d), "doc_id", "text")),
    // Kneser-Ney: table trained on the even-id half (the backoff-LM
    // split), scores over the whole corpus; all-integer fixed point
    // table and scorer share ONE memoized KN table build (r17)
    "q_lm_table_kn" -> ((s, d) =>
      Artifacts.lmTableKn(s, d).orderBy("level", "ngram")),
    "q_lm_score_kn" -> ((s, d) =>
      lmScoreKn(Tables.documents(s, d), "doc_id", "text", Artifacts.lmTableKn(s, d))),
    // exact Jaccard ≥ 0.9 pairs with NO blocking key: prefix-filtered
    // rare-token candidates, native merge-walk verify
    "q_jaccard_prefix" -> ((s, d) =>
      jaccardPrefixJoin(Tables.documents(s, d), "doc_id", "text", 9, 10)),
    // the incremental (R-S) form: arriving batch (>= 250) vs standing
    // corpus (< 250) at J >= 0.8 — the corpus never self-joins
    "q_jaccard_prefix_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      jaccardPrefixIncremental(docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") >= 250), "doc_id", "text", 8, 10)
    }),
    // distance ≤ 1 within a nation block: names differing in one digit
    // (the r10 deletion-neighborhood path)
    "q_fuzzy_match" -> ((s, d) =>
      fuzzyMatch(Tables.customer(s, d), "c_custkey", "c_name", Seq("c_nationkey"), 1)),
    // distance ≤ 2: the general-maxDist blocked-join fallback as its own
    // oracled key, so BOTH internal strategies sit in the correctness gate
    "q_fuzzy_match2" -> ((s, d) =>
      fuzzyMatch(Tables.customer(s, d), "c_custkey", "c_name", Seq("c_nationkey"), 2)),
    // entity resolution closed to CLUSTERS: connected components over
    // the distance-1 link graph through the same label-prop CC the text
    // dedup uses (one shared implementation); every record resolves to
    // a canonical entity id, singletons to themselves — the step a
    // record-linkage pipeline actually ships (pairs are evidence,
    // entities are the product)
    "q_fuzzy_clusters" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      // dedupClusters caches these pairs for its gate count and its CC
      // pass and releases them after; the graph fits the fused
      // union-find task at every oracle scale
      val pairs = fuzzyMatch(cust, "c_custkey", "c_name", Seq("c_nationkey"), 1)
        .select(col("id_1").as("doc_id_1"), col("id_2").as("doc_id_2"))
      dedupClusters(cust, "c_custkey", pairs).orderBy("id")
    }),
    // same corpus/benchmark split as q_contamination: docs < 10 are the
    // held-out eval set, the rest is the trainable corpus
    // full production gate order: Gopher rules -> repetition caps
    // (10%/5% dup bigram/trigram bp) -> LM-fluency floor (back-off
    // table trained on the slice's even half) -> decontamination ->
    // near-dup dedup -> split manifest
    "q_curation_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // RefinedWeb order (r14): LINE-level curation heads the pipeline —
      // segment → line filters → corpus line dedup → reflow
      // (Lines.docReflow verbatim via lineCuratedCorpus) — and every
      // doc-level gate (Gopher, repetition, LM floor, decontamination,
      // near-dup, split) runs over the REFLOWED corpus. The benchmark
      // side stays raw AND stays out of the line registry: the slice
      // filter precedes curation (see Artifacts.reflGe10). The reflow
      // is ONE memoized artifact shared with the pair build (r15 — the
      // pipeline previously paid it twice), so the six doc-level stages
      // all consume the persisted frame.
      val corpus = Artifacts.reflGe10(s, d)
      curationPipeline(corpus, "doc_id", "text",
        docs.filter(col("doc_id") < 10), Seq("lang"), Artifacts.pairsGe10(s, d),
        repCaps = Some((1000L, 500L)), lmFloor = Some(32000L))
    }),
    "q_winnow" -> ((s, d) =>
      winnowFingerprints(Tables.documents(s, d), "doc_id", "text")),
    "q_winnow_pairs" -> ((s, d) =>
      winnowPairs(Tables.documents(s, d), "doc_id", "text")),
    "q_ppl_buckets" -> ((s, d) =>
      perplexityBuckets(Tables.documents(s, d), "doc_id", "text", "lang",
        Artifacts.lmTableBackoff(s, d))),
    // vocabSize 16 < the fixture's 31-token vocabulary: the rare tail
    // is genuinely out-of-vocabulary, so the OOV branch carries real
    // rows (at the 256 default every token was in-vocab and n_oov was 0
    // everywhere — the r9 all-constant-column audit finding)
    "q_vocab_coverage" -> ((s, d) =>
      vocabCoverage(Tables.documents(s, d), "doc_id", "text", vocabSize = 16)),
    // targetN 400 at the sf0.01 lang histogram puts fr OVER parity
    // (rate clamps to 1.0) while en stays down-sampled (~0.56) — both
    // branches of min(1, ·) are exercised under the hash oracle
    "q_sample_temperature" -> ((s, d) =>
      temperatureSample(Tables.documents(s, d), "doc_id", "lang", targetN = 400)),
    // declared shares sum to 10000 bp; budget = 60% of corpus tokens.
    // Chosen so BOTH plan directions fire at EVERY fixture scale
    // (token shares are stable across sf): en (~37-44% of tokens,
    // target 25% of the budget) down-samples (rate < 10⁶), zh (~15%,
    // target 30%) runs a deficit (epochs_bp > 10000, rate capped)
    "q_domain_mixture" -> ((s, d) =>
      domainMixture(Tables.documents(s, d), "lang", "text",
        Map("en" -> 2500L, "zh" -> 3000L, "es" -> 1500L,
            "de" -> 1500L, "fr" -> 1500L), budgetPct = 60)),
    "q_dedup_url" -> ((s, d) =>
      urlDedup(Tables.documents(s, d), "doc_id", "source")),
    // the mixture plan EXECUTED (r16): same declared shares/budget as
    // q_domain_mixture, so the oracle pins plan→execution agreement in
    // both directions — en's single epoch is ppm-carved, zh's deficit
    // repeats through a full epoch plus a bp-carved fractional tail
    "q_mixture_apply" -> ((s, d) =>
      mixtureApply(Tables.documents(s, d), "doc_id", "lang", "text",
        Map("en" -> 2500L, "zh" -> 3000L, "es" -> 1500L,
            "de" -> 1500L, "fr" -> 1500L), budgetPct = 60)),
    // the cascade fixture (r16): base corpus + a RE-CRAWL slice (every
    // 10th doc re-fetched under a shifted id — its derived URL lands in
    // an existing canonical group, so tier 1 catches it) + a MIRROR
    // slice (every (10k+5)th doc's text republished on a '-m' host —
    // passes tier 1 on its distinct canonical URL, caught by tier 2
    // exact text where its base twin survived tier 1). Tier 3 consumes
    // the memoized shared pair graph restricted to tier-1/2 survivors.
    "q_dedup_cascade" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
      val recrawl = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("source"), col("text"))
      val mirror = base.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("source"), lit("-m")).as("source"), col("text"))
      dedupCascade(base.unionAll(recrawl).unionAll(mirror),
        "doc_id", "source", "text", Artifacts.pairsFull(s, d))
    }),
    // same reference/delta carve as q_dedup_incremental: history is
    // doc_id < 250, the new batch is the rest — PLUS a re-crawl slice of
    // the history itself (every 10th reference doc re-arrives under a
    // shifted id), because the carve sides share no exact text in the
    // fixture and is_dup was false on every row (the r9 all-constant-
    // column audit finding); now confirm-join hits carry real rows
    "q_bloom_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ref = docs.filter(col("doc_id") < 250)
      val recrawl = ref.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      bloomDedup(ref, docs.filter(col("doc_id") >= 250).unionByName(recrawl),
        "doc_id", "text")
    }),
    // thresholds bracket the fixture's distribution median (simpson
    // 897837..942192, maxfrac 890..2000) so keep splits the corpus
    "q_char_diversity" -> ((s, d) =>
      charDiversity(Tables.documents(s, d), "doc_id", "text",
        minSimpsonPpm = 920000L, maxMaxfracBp = 1300L)),
    // granularity 16 / batch 8 on the fixture's 20–200-token docs yields
    // multiple buckets with multi-batch populations AND partial tails
    "q_length_batches" -> ((s, d) =>
      lengthBatches(Tables.documents(s, d), "doc_id", "text",
        bucketGranularity = 16, batchSize = 8)),
  )

  private def sigList(sig: Seq[String]): String = sig.map(t => s"'$t'").mkString("(", ",", ")")

  /** The q_bm25_topk fixture queries, shared by the binding and the
    * oracle's VALUES clause so they can never drift. */
  private[ops] val bm25FixtureQueries: Seq[(Long, String)] = Seq(
    (1L, "join hash scan"),
    (2L, "vector window batch"),
    (3L, "customer order line"))

  private def bm25QueryValues: String =
    bm25FixtureQueries.map { case (id, t) => s"($id, '$t')" }.mkString(", ")

  /** One BM25 scoring stage as CTEs, parametrized by a name suffix and
    * the term-table CTE it reads — generated so the q_bm25_topk oracle
    * and BOTH stages of the q_query_expansion oracle are the same
    * arithmetic by construction. Expects `tok`, `dl`, `tot` CTEs in
    * scope; emits `ranked$p` with (query_id, doc_id, score, n_terms, rk). */
  private def bm25StageSql(p: String, qtCte: String): String =
    s"""qtok$p AS (SELECT doc_id, token FROM tok
       |         WHERE token IN (SELECT DISTINCT token FROM $qtCte)),
       |tf$p AS (SELECT doc_id, token, count(*) AS tf FROM qtok$p GROUP BY doc_id, token),
       |dfq$p AS (SELECT token, count(DISTINCT doc_id) AS df FROM qtok$p GROUP BY token),
       |scored$p AS (
       |  SELECT qq.query_id, tf$p.doc_id,
       |    CAST(floor(CAST(1000000.0 AS DOUBLE) * (tot.n_docs - dfq$p.df + CAST(0.5 AS DOUBLE))
       |               / (dfq$p.df + CAST(0.5 AS DOUBLE))) AS BIGINT) AS idf,
       |    (tf$p.tf * CAST(2.2 AS DOUBLE)) /
       |      (tf$p.tf + CAST(0.3 AS DOUBLE) +
       |       CAST(0.9 AS DOUBLE) * dl.dl * tot.n_docs / tot.total_dl) AS sat
       |  FROM tf$p JOIN dfq$p USING (token) JOIN $qtCte qq USING (token)
       |       JOIN dl ON tf$p.doc_id = dl.doc_id CROSS JOIN tot),
       |agg$p AS (
       |  SELECT query_id, doc_id,
       |    CAST(sum(CAST(floor(idf * sat) AS BIGINT)) AS BIGINT) AS score,
       |    count(*) AS n_terms
       |  FROM scored$p GROUP BY query_id, doc_id),
       |ranked$p AS (
       |  SELECT query_id, doc_id, score, n_terms,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |                            ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
       |  FROM agg$p)""".stripMargin

  /** DuckDB replication of [[bpeLearn]]: `n` chained argmax+rewrite
    * steps. Each step's corpus AND argmax CTEs are MATERIALIZED — each
    * is consumed twice downstream, and inlining would re-run the whole
    * rewrite chain per reference (exponential in steps). The rewrite is
    * the identical doubled-boundary replace as the q_bpe_step oracle. */
  private def bpeLearnOracleSql(n: Int): String = {
    def rewrite(textExpr: String): String =
      s"""trim(replace(replace(' ' || replace($textExpr, ' ', '  ') || ' ',
         |      ' ' || replace(p.pair, ' ', '  ') || ' ',
         |      ' ' || replace(p.pair, ' ', '@') || ' '), '  ', ' '))""".stripMargin
    val steps = (1 to n).map { s =>
      val src = s"s${s - 1}"
      s"""p$s AS MATERIALIZED (
         |  SELECT pair, count(*) AS n FROM (
         |    SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS pair
         |    FROM (SELECT list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk FROM $src))
         |  GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 1),
         |m$s AS (
         |  SELECT CAST($s AS BIGINT) AS step, p.pair AS pair, p.n AS n,
         |    CAST(sum(len(string_split(c.text, ' ')) -
         |             len(string_split(${rewrite("c.text")}, ' '))) AS BIGINT) AS n_merges
         |  FROM $src c CROSS JOIN p$s p GROUP BY p.pair, p.n),
         |s$s AS MATERIALIZED (
         |  SELECT doc_id, ${rewrite("c.text")} AS text
         |  FROM $src c CROSS JOIN p$s p)""".stripMargin
    }
    s"WITH s0 AS MATERIALIZED (SELECT doc_id, text FROM documents),\n" +
      steps.mkString(",\n") + "\n" +
      (1 to n).map(s => s"SELECT step, pair, n, n_merges FROM m$s")
        .mkString("\nUNION ALL\n") +
      "\nORDER BY step"
  }

  /** DuckDB replication of [[bpeApply]]: the same chained-rewrite CTEs
    * as the learn oracle (the corpus state after merge `n` IS the
    * applied corpus), joined back to raw token counts. Generated from
    * one rewrite definition so learn and apply can never drift. */
  private def bpeApplyOracleSql(n: Int): String = {
    val learn = bpeLearnOracleSql(n)
    val ctes = learn.substring(0, learn.indexOf("\nSELECT step"))
    s"""$ctes
       |SELECT s.doc_id, len(string_split(d.text, ' ')) AS n_tokens_raw,
       |  len(string_split(s.text, ' ')) AS n_tokens_bpe, s.text AS bpe_text
       |FROM s$n s JOIN documents d USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay of [[dsirTable]]+[[dsirScore]] through the per-doc
    * scores CTE `sc` — shared by the weights and sample oracles so the
    * two can never drift. Unigrams + adjacent bigrams over the
    * empty-filtered token list replay pos_grams(n, skip_empty=true);
    * the bucket fold is poly_hash31 verbatim. */
  private def dsirScoresCtes: String =
    """WITH tkd AS (
      |  SELECT doc_id, lang = 'en' AS tgt,
      |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
      |  FROM documents),
      |feats AS (
      |  SELECT doc_id, tgt, unnest(tk) AS f FROM tkd
      |  UNION ALL
      |  SELECT doc_id, tgt, list_extract(tk, i) || ' ' || list_extract(tk, i + 1) AS f
      |  FROM (SELECT doc_id, tgt, tk, unnest(range(1, len(tk))) AS i FROM tkd)),
      |fb AS (
      |  SELECT doc_id, tgt,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(f, ''), c -> CAST(unicode(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 2147483647) % 1024 AS bucket
      |  FROM feats),
      |counts AS (
      |  SELECT bucket,
      |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
      |    count(*) AS cr
      |  FROM fb GROUP BY bucket),
      |tot AS (
      |  SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr
      |  FROM counts),
      |wt AS (
      |  SELECT bucket,
      |    (10000 * (ct + 1) * (tr + 1024)) // ((cr + 1) * (tt + 1024)) - 10000 AS w
      |  FROM counts, tot),
      |db AS (SELECT doc_id, bucket, count(*) AS cnt FROM fb GROUP BY doc_id, bucket),
      |sc AS (
      |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feats,
      |    CAST(COALESCE(sum(cnt * w), 0) AS BIGINT) AS dsir_score
      |  FROM db LEFT JOIN wt USING (bucket)
      |  GROUP BY doc_id)""".stripMargin

  /** DuckDB replay of [[lmTableBackoff]]+[[lmScoreBackoff]] through the
    * per-doc scores CTE `lmsc(doc_id, n_trigrams, lm_score)` — shared by
    * the q_lm_score_backoff and q_ppl_buckets oracles so the score and
    * its consumers can never drift. Table trains on the even-id half;
    * coalesce walks trigram → back-off bigram → unigram → 0. */
  private def lmBackoffLmscCtes: String =
    """WITH ttk AS (
      |  SELECT list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
      |  FROM documents WHERE doc_id % 2 = 0),
      |c3 AS (SELECT g, count(*) AS c3 FROM (
      |        SELECT unnest(list_transform(range(1, len(tk)-1),
      |                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
      |        FROM ttk) GROUP BY g),
      |c2 AS (SELECT g, count(*) AS c2 FROM (
      |        SELECT unnest(list_transform(range(1, len(tk)),
      |                 i -> tk[i] || ' ' || tk[i+1])) AS g
      |        FROM ttk) GROUP BY g),
      |c1 AS (SELECT g, count(*) AS c1 FROM (
      |        SELECT unnest(tk) AS g FROM ttk) GROUP BY g),
      |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS t FROM c1),
      |l3 AS (SELECT c3.g AS g,
      |         CAST(floor(CAST(1000000.0 AS DOUBLE) * c3.c3 / x.c2) AS BIGINT) AS cond3
      |       FROM c3 JOIN c2 x
      |         ON split_part(c3.g, ' ', 1) || ' ' || split_part(c3.g, ' ', 2) = x.g),
      |l2 AS (SELECT c2.g AS g,
      |         CAST(floor(CAST(400000.0 AS DOUBLE) * c2.c2 / c1.c1) AS BIGINT) AS cond2
      |       FROM c2 JOIN c1 ON split_part(c2.g, ' ', 1) = c1.g),
      |l1 AS (SELECT c1.g AS g,
      |         CAST(floor(CAST(160000.0 AS DOUBLE) * c1.c1 / tot.t) AS BIGINT) AS cond1
      |       FROM c1 CROSS JOIN tot),
      |sg AS (SELECT doc_id,
      |         unnest(list_transform(range(1, len(tk)-1),
      |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
      |       FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
      |             FROM documents)),
      |scored AS (
      |  SELECT doc_id, coalesce(l3.cond3, l2.cond2, l1.cond1, CAST(0 AS BIGINT)) AS sc
      |  FROM sg LEFT JOIN l3 ON sg.g = l3.g
      |          LEFT JOIN l2 ON split_part(sg.g, ' ', 2) || ' ' || split_part(sg.g, ' ', 3) = l2.g
      |          LEFT JOIN l1 ON split_part(sg.g, ' ', 3) = l1.g),
      |lmsc AS (
      |  SELECT doc_id, count(*) AS n_trigrams,
      |    CAST(floor(CAST(sum(sc) AS BIGINT) / count(*)) AS BIGINT) AS lm_score
      |  FROM scored GROUP BY doc_id)""".stripMargin

  /** The sorted distinct 3-shingle poly62 hash sets of a `documents`
    * slice — the gram_set_hashes62 replay shared by the prefix-join
    * oracles. `where` is a complete WHERE clause or empty. */
  private def shingleDocsSql(where: String): String =
    s"""  SELECT doc_id, list_sort(list_distinct(list_transform(
       |    list_transform(range(1, len(tk) - 1),
       |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]),
       |    g -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(string_split(g, ''), c -> CAST(unicode(c) AS BIGINT))),
       |         (a, b) -> (a * 31 + b) % 2147483647) * 2147483648
       |       + list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(string_split(g, ''), c -> CAST(unicode(c) AS BIGINT))),
       |         (a, b) -> (a * 37 + b) % 2147483647)))) AS hsh
       |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
       |        FROM documents $where)""".stripMargin

  /** The poly_hash62 fold over an arbitrary string SQL expression —
    * the whole-string form of the per-token replay in
    * `Similarity.minhashDocsSql`. */
  private def poly62Sql(e: String): String =
    s"""(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |   list_transform(string_split($e, ''), c -> CAST(unicode(c) AS BIGINT))),
       |  (a, b) -> (a * 31 + b) % 2147483647) * 2147483648
       | + list_reduce(list_prepend(CAST(0 AS BIGINT),
       |   list_transform(string_split($e, ''), c -> CAST(unicode(c) AS BIGINT))),
       |  (a, b) -> (a * 37 + b) % 2147483647))""".stripMargin

  /** DuckDB replay of the Kneser-Ney count chain (train slice = even-id
    * docs), shared by the table and score oracles. Pure integer
    * arithmetic end to end — the `//` floor divisions mirror the
    * engine's `DIV` exactly. */
  private def lmKnCtes: String =
    """WITH ttk AS (
      |  SELECT list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
      |  FROM documents WHERE doc_id % 2 = 0),
      |cb AS (SELECT g, CAST(count(*) AS BIGINT) AS c12 FROM (
      |        SELECT unnest(list_transform(range(1, len(tk)),
      |                 i -> tk[i] || ' ' || tk[i+1])) AS g
      |        FROM ttk) GROUP BY g),
      |ctxk AS (SELECT split_part(g, ' ', 1) AS w1,
      |           CAST(sum(c12) AS BIGINT) AS c1,
      |           CAST(count(*) AS BIGINT) AS n1p
      |         FROM cb GROUP BY 1),
      |contk AS (SELECT split_part(g, ' ', 2) AS w2,
      |            CAST(count(*) AS BIGINT) AS ncont
      |          FROM cb GROUP BY 1),
      |ttot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM cb),
      |l2k AS (SELECT cb.g AS g,
      |          (1000000 * ((4 * cb.c12 - 3) * ttot.t + 3 * ctxk.n1p * contk.ncont))
      |            // (4 * ctxk.c1 * ttot.t) AS cond2
      |        FROM cb JOIN ctxk ON split_part(cb.g, ' ', 1) = ctxk.w1
      |                JOIN contk ON split_part(cb.g, ' ', 2) = contk.w2
      |                CROSS JOIN ttot)""".stripMargin

  /** DuckDB replay of [[winnowFingerprints]] through the selection CTE
    * `sel(doc_id, pos, fp)` (pre-dedup) — shared by the q_winnow and
    * q_winnow_pairs oracles. k = 5 token grams, window w = 4, poly_hash31
    * gram hashes, rightmost-minimal selection via the reversed window's
    * first-occurrence position. */
  private def winnowSelCtes: String =
    """WITH tkd AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
      |  FROM documents),
      |hs AS (
      |  SELECT doc_id, list_transform(
      |    list_transform(range(1, len(tk) - 3),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]),
      |    g -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(string_split(g, ''), c -> CAST(unicode(c) AS BIGINT))),
      |           (a, b) -> (a * 31 + b) % 2147483647)) AS h
      |  FROM tkd),
      |wins AS (
      |  SELECT doc_id, h,
      |    CASE WHEN len(h) >= 4 THEN len(h) - 3 ELSE least(len(h), 1) END AS n_win
      |  FROM hs),
      |sel AS (
      |  SELECT doc_id,
      |    i + len(h[i:i+3]) - list_position(list_reverse(h[i:i+3]), list_min(h[i:i+3])) AS pos,
      |    list_min(h[i:i+3]) AS fp
      |  FROM (SELECT doc_id, h, unnest(range(1, n_win + 1)) AS i FROM wins))""".stripMargin

  /** The missing-link QUEUE replay — twin classes, quotient wedges,
    * open class pairs — shared by the q_missing_links oracle and its
    * two r11 consumers (verify / repair); appended after
    * [[Similarity.minhashOracleCtes]], ends at `op(a, c, n_common)`. */
  private val missingLinksQueueCtes: String =
    """,
      |all_pairs AS (
      |  SELECT doc_id_1, doc_id_2 FROM cross_pairs
      |  UNION ALL SELECT doc_id_1, doc_id_2 FROM within_pairs),
      |se AS (SELECT doc_id_1 AS u, doc_id_2 AS v FROM all_pairs WHERE doc_id_1 <> doc_id_2
      |       UNION SELECT doc_id_2, doc_id_1 FROM all_pairs WHERE doc_id_1 <> doc_id_2),
      |nbq AS (SELECT u, list_sort(list_distinct(list_append(list(v), u))) AS cnb
      |        FROM se GROUP BY u),
      |cg AS (SELECT cnb, CAST(min(u) AS BIGINT) AS cls, CAST(count(*) AS BIGINT) AS csize
      |       FROM nbq GROUP BY cnb),
      |mem AS (SELECT nbq.u, cg.cls FROM nbq JOIN cg USING (cnb)),
      |ce AS (SELECT DISTINCT least(m1.cls, m2.cls) AS x, greatest(m1.cls, m2.cls) AS y
      |       FROM se JOIN mem m1 ON se.u = m1.u JOIN mem m2 ON se.v = m2.u
      |       WHERE m1.cls <> m2.cls),
      |csm AS (SELECT x, y FROM ce UNION ALL SELECT y, x FROM ce),
      |wg AS (SELECT e1.x AS a, e2.y AS c, e1.y AS m
      |       FROM csm e1 JOIN csm e2 ON e1.y = e2.x AND e1.x < e2.y),
      |op AS (SELECT a, c, CAST(count(DISTINCT m) AS BIGINT) AS n_common
      |       FROM wg ANTI JOIN ce ON wg.a = ce.x AND wg.c = ce.y
      |       GROUP BY a, c HAVING count(DISTINCT m) >= 2)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_sample_stratified" ->
      s"""SELECT doc_id, lang, source FROM documents
        |WHERE ${keyBucketSql("doc_id")} <
        |      CASE lang WHEN 'en' THEN 30 WHEN 'zh' THEN 20 ELSE 5 END
        |ORDER BY doc_id""".stripMargin,

    "q_domain_cap" ->
      s"""SELECT doc_id, domain, rk FROM (
        |  SELECT doc_id, source AS domain,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ${keyMixSql("doc_id")} ASC, doc_id ASC) AS rk
        |  FROM documents)
        |WHERE rk <= 15 ORDER BY doc_id""".stripMargin,

    "q_shuffle_shards" ->
      s"""WITH s AS (
        |  SELECT doc_id, n_chars, ${keyMixSql("doc_id")} AS h FROM documents)
        |SELECT h % 8 AS shard_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(h) AS min_h, CAST(sum(h) AS BIGINT) AS checksum
        |FROM s GROUP BY shard_id ORDER BY shard_id""".stripMargin,

    "q_dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT min(doc_id) AS doc_id, count(*) AS n_dups, text
        |FROM corpus GROUP BY text ORDER BY doc_id""".stripMargin,

    "q_dedup_key" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_text_stats" ->
      """SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_lang_id" -> {
      val scores = langSigs.map { case (l, sig) =>
        s"len(list_filter(string_split(text, ' '), x -> x IN ${sigList(sig)})) AS score_$l"
      }.mkString(",\n  ")
      val m = langSigs.map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
      val cases = langSigs.map { case (l, _) =>
        s"WHEN score_$l = $m AND $m > 0 THEN '$l'"
      }.mkString("\n    ")
      s"""SELECT doc_id, true_lang, score_de, score_en, score_es, score_fr, score_zh,
         |  pred_lang, pred_lang = true_lang AS is_match
         |FROM (
         |  SELECT *, CASE $cases ELSE 'und' END AS pred_lang
         |  FROM (SELECT doc_id, lang AS true_lang,
         |  $scores
         |  FROM documents))
         |ORDER BY doc_id""".stripMargin
    },

    // the langId scorer replayed per 30-token segment (list slice ≡
    // Spark's slice: both 1-based, both clamp at the list end), then
    // the doc-level majority + mixed fraction; both CASE cascades are
    // the alphabetical-first tie rule
    "q_langid_segments" -> {
      val segScores = langSigs.map { case (l, sig) =>
        s"len(list_filter(seg, x -> x IN ${sigList(sig)})) AS score_$l"
      }.mkString(",\n  ")
      val m = langSigs.map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
      val cases = langSigs.map { case (l, _) =>
        s"WHEN score_$l = $m AND $m > 0 THEN '$l'"
      }.mkString("\n    ")
      val labels = langSigs.map(_._1).patch(4, Seq("und"), 0)
      val cCols = labels.map(l =>
        s"sum(CASE WHEN pred = '$l' THEN 1 ELSE 0 END) AS c_$l").mkString(",\n  ")
      val mx = labels.map(l => s"c_$l").mkString("greatest(", ", ", ")")
      val majCases = labels.init.map(l =>
        s"WHEN c_$l = mx THEN '$l'").mkString("\n    ")
      s"""WITH tkx AS (SELECT doc_id, lang AS true_lang, string_split(text, ' ') AS tk
         |  FROM documents),
         |segx AS (
         |  SELECT doc_id, true_lang,
         |    unnest(generate_series(0,
         |      CAST(greatest(ceil(len(tk) / 30.0), 1) AS BIGINT) - 1)) AS seg_id,
         |    tk
         |  FROM tkx),
         |seg AS (SELECT doc_id, true_lang,
         |  tk[(seg_id * 30 + 1):(seg_id * 30 + 30)] AS seg FROM segx),
         |scored AS (SELECT doc_id, true_lang,
         |  $segScores
         |  FROM seg),
         |pred AS (SELECT doc_id, true_lang, CASE $cases ELSE 'und' END AS pred
         |  FROM scored),
         |cnt AS (SELECT doc_id, true_lang, count(*) AS n_segments,
         |  $cCols
         |  FROM pred GROUP BY doc_id, true_lang),
         |fin AS (SELECT *, $mx AS mx FROM cnt)
         |SELECT doc_id, true_lang, n_segments, majority_lang, n_majority,
         |  mixed_ppm, majority_lang = true_lang AS is_match
         |FROM (
         |  SELECT doc_id, true_lang, CAST(n_segments AS BIGINT) AS n_segments,
         |    CASE $majCases ELSE '${labels.last}' END AS majority_lang,
         |    CAST(mx AS BIGINT) AS n_majority,
         |    CAST(1000000 * (n_segments - mx) // n_segments AS BIGINT) AS mixed_ppm
         |  FROM fin)
         |ORDER BY doc_id""".stripMargin
    },

    "q_quality_score" ->
      """SELECT doc_id, n_chars, n_tokens, distinct_ratio, avg_token_len, stopword_ratio,
        |  CASE WHEN distinct_ratio >= 0.6 THEN 'high'
        |       WHEN distinct_ratio >= 0.3 THEN 'mid'
        |       ELSE 'low' END AS quality_band
        |FROM (
        |  SELECT doc_id, n_chars,
        |    CAST(len(t) AS BIGINT) AS n_tokens,
        |    round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4) AS distinct_ratio,
        |    round(CAST(n_chars - (len(t) - 1) AS DOUBLE) / len(t), 4) AS avg_token_len,
        |    round(CAST(len(list_filter(t, x -> x IN ('the','a','of','and','is','to'))) AS DOUBLE) / len(t), 4) AS stopword_ratio
        |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS t FROM documents))
        |ORDER BY doc_id""".stripMargin,

    // train/score replayed relationally; HUGEINT sums cast back, the
    // floored 10^6-scaled quotients are single correctly-rounded IEEE
    // ops on exact (< 2^53) operands in both engines
    "q_quality_classifier" ->
      """WITH labeled AS (
        |  SELECT doc_id, text,
        |    round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |          / len(string_split(text, ' ')), 4) >= 0.3 AS pos
        |  FROM documents WHERE doc_id % 2 = 0),
        |tok_counts AS (
        |  SELECT tok,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS c0
        |  FROM (SELECT pos, unnest(string_split(text, ' ')) AS tok FROM labeled)
        |  GROUP BY tok),
        |tot AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS t1, CAST(sum(c0) AS BIGINT) AS t0,
        |         count(*) AS v
        |  FROM tok_counts),
        |wt AS (
        |  SELECT tok,
        |    CAST(floor(1000000.0 * (c1 + 1) / (t1 + v)) AS BIGINT)
        |  - CAST(floor(1000000.0 * (c0 + 1) / (t0 + v)) AS BIGINT) AS w
        |  FROM tok_counts, tot)
        |SELECT doc_id, CAST(COALESCE(sum(wt.w), 0) AS BIGINT) AS score,
        |       COALESCE(sum(wt.w), 0) >= 0 AS pred_keep
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) d
        |LEFT JOIN wt USING (tok)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // DSIR replayed relationally: same poly_hash31 bucket fold as the
    // native expression (the MinHash generated-constant discipline), the
    // centered-ratio weights in pure BIGINT products, the systematic
    // resample via the closed-form cnt() — every step exact integer.
    "q_dsir_weights" -> (dsirScoresCtes +
      "\nSELECT doc_id, n_feats, dsir_score FROM sc ORDER BY doc_id"),

    "q_dsir_sample" -> (dsirScoresCtes +
      """,
        |m AS (SELECT doc_id,
        |        dsir_score - (SELECT min(dsir_score) FROM sc) + 1 AS mass FROM sc),
        |c AS (SELECT doc_id, mass,
        |        CAST(sum(mass) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi
        |      FROM m),
        |tt AS (SELECT CAST(sum(mass) AS BIGINT) AS t FROM m),
        |d AS (
        |  SELECT doc_id, mass,
        |    least(64, (greatest(0, 128 * hi - t) + 2 * t - 1) // (2 * t))
        |    - least(64, (greatest(0, 128 * (hi - mass) - t) + 2 * t - 1) // (2 * t)) AS n_draws
        |  FROM c, tt)
        |SELECT doc_id, mass, n_draws FROM d WHERE n_draws > 0 ORDER BY doc_id""".stripMargin),

    "q_token_count" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id,
        |  CAST(sum(pos * ((length(tok) * 7 + ascii(tok)) % 1000003)) % 1000000007 AS BIGINT) AS fp,
        |  count(*) AS n_tokens
        |FROM (SELECT doc_id,
        |        unnest(string_split(text, ' ')) AS tok,
        |        generate_subscripts(string_split(text, ' '), 1) AS pos
        |      FROM documents)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_chunk" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |s AS (SELECT doc_id, t,
        |        unnest(range(1, len(t) + 1, 24)) AS start,
        |        generate_subscripts(range(1, len(t) + 1, 24), 1) AS chunk_idx
        |      FROM d)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  len(list_slice(t, start, least(start + 31, len(t)))) AS n_toks,
        |  array_to_string(list_slice(t, start, least(start + 31, len(t))), ' ') AS chunk_text
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_split" ->
      s"""WITH b AS (
        |  SELECT lang, len(string_split(text, ' ')) AS n_toks,
        |    ${splitCaseSql("doc_id")} AS split
        |  FROM documents)
        |SELECT split, lang, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
        |FROM b GROUP BY split, lang ORDER BY split, lang""".stripMargin,

    "q_pack" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |s AS (SELECT doc_id, t,
        |        unnest(range(1, len(t) + 1, 24)) AS start,
        |        generate_subscripts(range(1, len(t) + 1, 24), 1) AS chunk_idx
        |      FROM d),
        |c AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |        len(list_slice(t, start, least(start + 31, len(t)))) AS n_toks
        |      FROM s)
        |SELECT doc_id, chunk_idx, n_toks,
        |  CAST(floor(CAST(sum(n_toks) OVER (PARTITION BY doc_id ORDER BY chunk_idx ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks AS DOUBLE)
        |       / 64) AS BIGINT) AS seq_id
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // Cross-doc pack: same chunk/seq CTEs to the per-seq totals, then
    // capacity-class binning — floor(64/t) class, keyBucket shard,
    // rank-desc chop into groups of `class` — all integer arithmetic.
    "q_pack_global" ->
      (s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |s AS (SELECT doc_id, t,
        |        unnest(range(1, len(t) + 1, 24)) AS start,
        |        generate_subscripts(range(1, len(t) + 1, 24), 1) AS chunk_idx
        |      FROM d),
        |c AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |        len(list_slice(t, start, least(start + 31, len(t)))) AS n_toks
        |      FROM s),
        |p AS (SELECT doc_id, chunk_idx, n_toks,
        |        CAST(floor(CAST(sum(n_toks) OVER (PARTITION BY doc_id ORDER BY chunk_idx ASC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks AS DOUBLE)
        |             / 64) AS BIGINT) AS seq_id
        |      FROM c),
        |seqs AS (SELECT doc_id, seq_id, CAST(sum(n_toks) AS BIGINT) AS t
        |         FROM p GROUP BY doc_id, seq_id),
        |tails AS (SELECT doc_id, seq_id, t,
        |           CAST(floor(CAST(64 AS DOUBLE) / t) AS BIGINT) AS pack_class,
        |           CAST(${keyBucketSql("doc_id")} % 4 AS BIGINT) AS shard
        |         FROM seqs WHERE t < 64),
        |binned AS (SELECT pack_class, shard, t,
        |            CAST(floor(CAST(row_number() OVER (PARTITION BY pack_class, shard
        |                   ORDER BY t DESC, doc_id ASC, seq_id ASC) - 1 AS DOUBLE)
        |                 / pack_class) AS BIGINT) AS bin_id
        |          FROM tails)
        |SELECT pack_class, shard, bin_id, count(*) AS n_parts,
        |  CAST(sum(t) AS BIGINT) AS bin_tokens,
        |  CAST(floor(CAST(sum(t) AS DOUBLE) * 10000.0 / 64) AS BIGINT) AS fill_bp
        |FROM binned GROUP BY pack_class, shard, bin_id
        |ORDER BY pack_class, shard, bin_id""").stripMargin,

    // Pack manifest: same chunk/pack CTEs, then one (doc, seq) group
    // with the ordered chunk-length list folded to the postings-style
    // polynomial hash (list(n ORDER BY idx) ≡ the sorted-struct collect)
    "q_pack_manifest" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |s AS (SELECT doc_id, t,
        |        unnest(range(1, len(t) + 1, 24)) AS start,
        |        generate_subscripts(range(1, len(t) + 1, 24), 1) AS chunk_idx
        |      FROM d),
        |c AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |        len(list_slice(t, start, least(start + 31, len(t)))) AS n_toks
        |      FROM s),
        |p AS (SELECT doc_id, chunk_idx, n_toks,
        |        CAST(floor(CAST(sum(n_toks) OVER (PARTITION BY doc_id ORDER BY chunk_idx ASC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks AS DOUBLE)
        |             / 64) AS BIGINT) AS seq_id
        |      FROM c)
        |SELECT doc_id, seq_id, count(*) AS n_chunks,
        |  CAST(sum(n_toks) AS BIGINT) AS seq_tokens,
        |  CAST(floor(CAST(sum(n_toks) AS DOUBLE) * 10000.0 / 64) AS BIGINT) AS fill_bp,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list(CAST(n_toks AS BIGINT) ORDER BY chunk_idx)),
        |    (acc, x) -> (acc * 1000003 + x) % 1000000007) AS lengths_hash
        |FROM p GROUP BY doc_id, seq_id
        |ORDER BY doc_id, seq_id""".stripMargin,

    "q_mix_report" ->
      """WITH base AS (
        |  SELECT source, lang, len(string_split(text, ' ')) AS n_toks FROM documents),
        |g AS (SELECT source, lang, count(*) AS n_docs,
        |        CAST(sum(n_toks) AS BIGINT) AS n_tokens
        |      FROM base GROUP BY source, lang),
        |t AS (SELECT count(*) AS t_docs, CAST(sum(n_toks) AS BIGINT) AS t_tokens FROM base)
        |SELECT g.source, g.lang, g.n_docs, g.n_tokens,
        |  CAST(floor(1000000.0 * g.n_docs / t.t_docs) AS BIGINT) AS doc_ppm,
        |  CAST(floor(1000000.0 * g.n_tokens / t.t_tokens) AS BIGINT) AS token_ppm
        |FROM g CROSS JOIN t
        |ORDER BY source, lang""".stripMargin,

    "q_contamination" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(string_split(text, ' ')) - 1),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2]))) AS s
        |  FROM documents),
        |cs AS (SELECT doc_id, s FROM sh WHERE doc_id >= 10),
        |bs AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id < 10)
        |SELECT cs.doc_id, bs.bench_id, count(*) AS n_shared
        |FROM cs JOIN bs USING (s)
        |GROUP BY cs.doc_id, bs.bench_id
        |HAVING count(*) >= 2
        |ORDER BY doc_id, bench_id""".stripMargin,

    // clipped-multiset bigram overlap, replayed relationally: per-side
    // (doc, gram) counts, least() under the gram join, integer ppm
    "q_rouge_overlap" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM tk),
        |cg AS (SELECT doc_id AS cand_id, g, count(*) AS c_cand
        |       FROM g WHERE doc_id >= 10 GROUP BY 1, 2),
        |rg AS (SELECT doc_id AS ref_id, g, count(*) AS c_ref
        |       FROM g WHERE doc_id < 10 GROUP BY 1, 2),
        |ct AS (SELECT cand_id, sum(c_cand) AS cand_total FROM cg GROUP BY 1),
        |rt AS (SELECT ref_id, sum(c_ref) AS ref_total FROM rg GROUP BY 1),
        |ov AS (SELECT cand_id, ref_id, sum(least(c_cand, c_ref)) AS shared
        |       FROM cg JOIN rg USING (g) GROUP BY 1, 2),
        |scored AS (
        |  SELECT cand_id, ref_id, CAST(shared AS BIGINT) AS shared,
        |    CAST(1000000 * shared // ref_total AS BIGINT) AS recall_ppm,
        |    CAST(1000000 * shared // cand_total AS BIGINT) AS precision_ppm
        |  FROM ov JOIN rt USING (ref_id) JOIN ct USING (cand_id))
        |SELECT cand_id, ref_id, shared, recall_ppm, precision_ppm,
        |  CAST(2 * recall_ppm * precision_ppm //
        |       (recall_ppm + precision_ppm) AS BIGINT) AS f1_ppm
        |FROM scored
        |ORDER BY cand_id, ref_id""".stripMargin,

    // NFC is NFC on both engines (Unicode stability policy)
    "q_normalize_text" ->
      """WITH injected AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN text || ' e' || chr(769) ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(text) AS text_nfc,
        |  (nfc_normalize(text) <> text) AS changed
        |FROM injected ORDER BY doc_id""".stripMargin,

    // Tokenizer normalization over the deterministically-messified
    // fixture: NFC → punct isolation ([[:punct:]] ≡ Java \p{Punct},
    // both ASCII-only) → explicit-class whitespace collapse (\s differs
    // between Java and RE2; the explicit class doesn't).
    "q_tokenize" ->
      """WITH messy AS (
        |  SELECT doc_id, '  ' || replace(text, ' ', '   ') || ' ' || chr(9) AS text
        |  FROM documents),
        |norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      regexp_replace(nfc_normalize(text), '([[:punct:]])', ' \1 ', 'g'),
        |      '[ \t\n\r\f]+', ' ', 'g')) AS text_tok
        |  FROM messy)
        |SELECT doc_id, text_tok,
        |  CASE WHEN len(text_tok) = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(len(string_split(text_tok, ' ')) AS BIGINT) END AS n_tokens
        |FROM norm ORDER BY doc_id""".stripMargin,

    // chr(233) = precomposed U+00E9; 'e' || chr(769) = its decomposition
    "q_dedup_exact_normalized" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' ' || chr(233) FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' e' || chr(769) FROM documents WHERE doc_id % 10 = 0)
        |SELECT min(doc_id) AS doc_id, count(*) AS n_dups, nfc_normalize(text) AS text
        |FROM corpus GROUP BY nfc_normalize(text) ORDER BY doc_id""".stripMargin,

    // Repetition metrics: same zipped n-gram construction, same floored
    // basis-point arithmetic (len/list_distinct are exact on both sides)
    "q_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, len(t) AS n_toks,
        |  CASE WHEN len(t) >= 2
        |       THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
        |       ELSE CAST([] AS VARCHAR[]) END AS g2,
        |  CASE WHEN len(t) >= 3
        |       THEN list_transform(range(1, len(t) - 1),
        |              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |       ELSE CAST([] AS VARCHAR[]) END AS g3
        |  FROM d)
        |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
        |  CASE WHEN len(g2) > 0
        |       THEN CAST(floor(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
        |                       * 10000.0 / CAST(len(g2) AS DOUBLE)) AS BIGINT)
        |       ELSE 0 END AS dup_bigram_bp,
        |  CASE WHEN len(g3) > 0
        |       THEN CAST(floor(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
        |                       * 10000.0 / CAST(len(g3) AS DOUBLE)) AS BIGINT)
        |       ELSE 0 END AS dup_trigram_bp
        |FROM g ORDER BY doc_id""".stripMargin,

    // Corpus-level duplicate substrings: the same anchor→diag→island
    // replay as q_contamination_exact, self-joined, 5-token anchors
    // with the same frequency cap (anchors occurring > 64 times dropped)
    "q_dedup_substring" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |p AS (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS pos
        |      FROM tok WHERE len(t) >= 5),
        |g0 AS (SELECT doc_id, pos,
        |        t[pos] || ' ' || t[pos+1] || ' ' || t[pos+2] || ' ' ||
        |        t[pos+3] || ' ' || t[pos+4] AS gram
        |      FROM p),
        |g AS (SELECT doc_id, pos, gram FROM
        |        (SELECT doc_id, pos, gram,
        |                count(*) OVER (PARTITION BY gram) AS f FROM g0)
        |      WHERE f <= 64),
        |m AS (SELECT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2,
        |             x.pos - y.pos AS diag, x.pos AS cpos
        |      FROM g x JOIN g y USING (gram) WHERE x.doc_id < y.doc_id),
        |isl AS (SELECT doc_id_1, doc_id_2, diag, cpos,
        |          cpos - row_number() OVER (PARTITION BY doc_id_1, doc_id_2, diag
        |                                    ORDER BY cpos) AS island
        |        FROM m),
        |runs AS (SELECT doc_id_1, doc_id_2, count(*) + 4 AS run_len
        |         FROM isl GROUP BY doc_id_1, doc_id_2, diag, island)
        |SELECT doc_id_1, doc_id_2, CAST(max(run_len) AS BIGINT) AS max_run
        |FROM runs GROUP BY doc_id_1, doc_id_2
        |HAVING max(run_len) >= 10
        |ORDER BY doc_id_1, doc_id_2""".stripMargin,

    // Exact-run decontamination: positioned 3-gram anchors, diagonal
    // gaps-and-islands — the oracle replays the identical anchor → diag →
    // island arithmetic (positions are 1-based here vs posexplode's
    // 0-based, but diag and island only ever difference positions, so
    // the constant offset cancels inside each engine).
    "q_contamination_exact" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |cp AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS pos
        |       FROM tok WHERE doc_id >= 10 AND len(t) >= 3),
        |cg AS (SELECT doc_id, pos AS cpos,
        |         t[pos] || ' ' || t[pos+1] || ' ' || t[pos+2] AS gram FROM cp),
        |bp AS (SELECT doc_id AS bench_id, t, unnest(range(1, len(t) - 1)) AS pos
        |       FROM tok WHERE doc_id < 10 AND len(t) >= 3),
        |bg AS (SELECT bench_id, pos AS bpos,
        |         t[pos] || ' ' || t[pos+1] || ' ' || t[pos+2] AS gram FROM bp),
        |m AS (SELECT cg.doc_id, bg.bench_id, cg.cpos - bg.bpos AS diag, cg.cpos
        |      FROM cg JOIN bg USING (gram)),
        |isl AS (SELECT doc_id, bench_id, diag, cpos,
        |          cpos - row_number() OVER (PARTITION BY doc_id, bench_id, diag
        |                                    ORDER BY cpos) AS island
        |        FROM m),
        |runs AS (SELECT doc_id, bench_id, count(*) + 2 AS run_len
        |         FROM isl GROUP BY doc_id, bench_id, diag, island)
        |SELECT doc_id, bench_id, CAST(max(run_len) AS BIGINT) AS max_run
        |FROM runs GROUP BY doc_id, bench_id
        |HAVING max(run_len) >= 5
        |ORDER BY doc_id, bench_id""".stripMargin,

    // Cross-split leakage: the minhash pair CTEs + the q_split bucket
    // CASE per endpoint, keeping only pairs whose splits differ.
    "q_split_leakage" -> (Similarity.minhashOracleCtes +
      s""",
        |allp AS (
        |  SELECT doc_id_1, doc_id_2, jaccard FROM cross_pairs
        |  UNION ALL SELECT doc_id_1, doc_id_2, jaccard FROM within_pairs)
        |SELECT * FROM (
        |  SELECT doc_id_1, doc_id_2, jaccard,
        |    ${splitCaseSql("doc_id_1")} AS split_1,
        |    ${splitCaseSql("doc_id_2")} AS split_2
        |  FROM allp)
        |WHERE split_1 <> split_2
        |ORDER BY doc_id_1, doc_id_2""".stripMargin),

    // Survivors = documents minus any doc near-duplicating a smaller-id
    // doc — the pair graph is the (fully oracled) minhash pipeline, so
    // the anti-join is deterministic too.
    "q_dedup_survivors" -> (Similarity.minhashOracleCtes +
      """,
        |all_pairs AS (
        |  SELECT doc_id_1, doc_id_2 FROM cross_pairs
        |  UNION ALL SELECT doc_id_1, doc_id_2 FROM within_pairs),
        |removed AS (SELECT DISTINCT doc_id_2 AS doc_id FROM all_pairs)
        |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM removed)
        |ORDER BY d.doc_id""".stripMargin),

    // Clusters = connected components of the pair graph: a recursive
    // reachability walk carrying candidate labels; min per node = the
    // component minimum, exactly the Spark label-propagation fixpoint.
    "q_dedup_clusters" -> (Similarity.minhashOracleCtes +
      """,
        |all_pairs AS (
        |  SELECT doc_id_1, doc_id_2 FROM cross_pairs
        |  UNION ALL SELECT doc_id_1, doc_id_2 FROM within_pairs),
        |edges AS MATERIALIZED (
        |  -- MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
        |  -- an inlined edge list would re-run the entire minhash pipeline
        |  -- on EVERY recursive iteration
        |  SELECT doc_id_1 AS a, doc_id_2 AS b FROM all_pairs
        |  UNION SELECT doc_id_2, doc_id_1 FROM all_pairs),
        |walk AS (
        |  SELECT doc_id AS id, doc_id AS lab FROM documents
        |  UNION
        |  SELECT e.a AS id, w.lab FROM edges e JOIN walk w ON w.id = e.b)
        |SELECT id, min(lab) AS cluster FROM walk GROUP BY id ORDER BY id""".stripMargin),

    // incremental == from-scratch: the full-union cluster walk (same
    // CTEs as q_dedup_clusters) joined against a SECOND walk restricted
    // to the reference slice — the standing table the engine maintains
    // incrementally; `changed` is the delta the writer would upsert
    "q_cc_incremental" -> (Similarity.minhashOracleCtes +
      s""",
        |all_pairs AS (
        |  SELECT doc_id_1, doc_id_2 FROM cross_pairs
        |  UNION ALL SELECT doc_id_1, doc_id_2 FROM within_pairs),
        |edges AS MATERIALIZED (
        |  SELECT doc_id_1 AS a, doc_id_2 AS b FROM all_pairs
        |  UNION SELECT doc_id_2, doc_id_1 FROM all_pairs),
        |walk AS (
        |  SELECT doc_id AS id, doc_id AS lab FROM documents
        |  UNION
        |  SELECT e.a AS id, w.lab FROM edges e JOIN walk w ON w.id = e.b),
        |comp AS (SELECT id, min(lab) AS cluster FROM walk GROUP BY id),
        |ref_edges AS MATERIALIZED (
        |  SELECT a, b FROM edges
        |  WHERE ${keyBucketSql("a")} < 90 AND ${keyBucketSql("b")} < 90),
        |ref_walk AS (
        |  SELECT doc_id AS id, doc_id AS lab FROM documents
        |  WHERE ${keyBucketSql("doc_id")} < 90
        |  UNION
        |  SELECT e.a AS id, w.lab FROM ref_edges e JOIN ref_walk w ON w.id = e.b),
        |prior AS (
        |  SELECT id, min(lab) AS prior_cluster FROM ref_walk GROUP BY id
        |  UNION ALL
        |  SELECT doc_id, doc_id FROM documents WHERE ${keyBucketSql("doc_id")} >= 90)
        |SELECT c.id, c.cluster, p.prior_cluster,
        |  (c.cluster <> p.prior_cluster OR ${keyBucketSql("c.id")} >= 90) AS changed
        |FROM comp c JOIN prior p USING (id) ORDER BY id""".stripMargin),

    // the cluster walk + one GROUP BY cluster: min-id survivor with
    // the cluster's multiplicity as weight
    "q_dedup_weights" -> (Similarity.minhashOracleCtes +
      """,
        |all_pairs AS (
        |  SELECT doc_id_1, doc_id_2 FROM cross_pairs
        |  UNION ALL SELECT doc_id_1, doc_id_2 FROM within_pairs),
        |edges AS MATERIALIZED (
        |  SELECT doc_id_1 AS a, doc_id_2 AS b FROM all_pairs
        |  UNION SELECT doc_id_2, doc_id_1 FROM all_pairs),
        |walk AS (
        |  SELECT doc_id AS id, doc_id AS lab FROM documents
        |  UNION
        |  SELECT e.a AS id, w.lab FROM edges e JOIN walk w ON w.id = e.b),
        |comp AS (SELECT id, min(lab) AS cluster FROM walk GROUP BY id)
        |SELECT min(id) AS doc_id, cluster, count(*) AS weight
        |FROM comp GROUP BY cluster ORDER BY doc_id""".stripMargin),

    // the cluster walk + member-to-representative exact jaccard (the
    // ngram_jaccard token-set rule) + one GROUP BY cluster
    "q_dedup_cluster_audit" -> (Similarity.minhashOracleCtes +
      """,
        |all_pairs AS (
        |  SELECT doc_id_1, doc_id_2 FROM cross_pairs
        |  UNION ALL SELECT doc_id_1, doc_id_2 FROM within_pairs),
        |edges AS MATERIALIZED (
        |  SELECT doc_id_1 AS a, doc_id_2 AS b FROM all_pairs
        |  UNION SELECT doc_id_2, doc_id_1 FROM all_pairs),
        |walk AS (
        |  SELECT doc_id AS id, doc_id AS lab FROM documents
        |  UNION
        |  SELECT e.a AS id, w.lab FROM edges e JOIN walk w ON w.id = e.b),
        |comp AS (SELECT id, min(lab) AS cluster FROM walk GROUP BY id),
        |sets AS (SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS sh
        |  FROM documents),
        |audit AS (
        |  SELECT c.cluster,
        |    CAST(1000000 * len(list_intersect(m.sh, r.sh)) //
        |      (len(m.sh) + len(r.sh) - len(list_intersect(m.sh, r.sh)))
        |      AS BIGINT) AS jac_ppm
        |  FROM comp c JOIN sets m ON m.id = c.id
        |  JOIN sets r ON r.id = c.cluster
        |  WHERE c.id <> c.cluster)
        |SELECT cluster, CAST(count(*) + 1 AS BIGINT) AS cluster_size,
        |  min(jac_ppm) AS min_rep_jaccard_ppm,
        |  CAST(sum(jac_ppm) // count(*) AS BIGINT) AS mean_rep_jaccard_ppm
        |FROM audit GROUP BY cluster ORDER BY cluster""".stripMargin),

    "q_sample_fixed" ->
      s"""SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source FROM documents
        |  ORDER BY ${keyMixSql("doc_id")} ASC, doc_id ASC LIMIT 100)
        |ORDER BY doc_id""".stripMargin,

    "q_span_pairs" ->
      s"""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
        |  FROM documents),
        |dims AS (SELECT doc_id, t, len(t) AS n, len(t) // 2 AS half FROM tk
        |         WHERE len(t) >= 16),
        |offs AS (SELECT doc_id, t, n, half,
        |          ${keyMixSql("doc_id")} % (half - 7) AS offa,
        |          ${keyMixSql("(doc_id + 1000003)")} % (n - half - 7) AS offb
        |         FROM dims)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_toks,
        |  CAST(offa + 1 AS BIGINT) AS a_start,
        |  CAST(half + offb + 1 AS BIGINT) AS b_start,
        |  array_to_string(t[(offa + 1):(offa + 8)], ' ') AS span_a,
        |  array_to_string(t[(half + offb + 1):(half + offb + 8)], ' ') AS span_b
        |FROM offs ORDER BY doc_id""".stripMargin,

    // the cluster walk again + per-cluster argmax under the
    // provenance-first priority (source class · 10⁶ + n_chars, ties on
    // smaller id) — the canonical-selection policy replayed exactly
    "q_dedup_canonical" -> (Similarity.minhashOracleCtes +
      """,
        |all_pairs AS (
        |  SELECT doc_id_1, doc_id_2 FROM cross_pairs
        |  UNION ALL SELECT doc_id_1, doc_id_2 FROM within_pairs),
        |edges AS MATERIALIZED (
        |  SELECT doc_id_1 AS a, doc_id_2 AS b FROM all_pairs
        |  UNION SELECT doc_id_2, doc_id_1 FROM all_pairs),
        |walk AS (
        |  SELECT doc_id AS id, doc_id AS lab FROM documents
        |  UNION
        |  SELECT e.a AS id, w.lab FROM edges e JOIN walk w ON w.id = e.b),
        |comp AS (SELECT id, min(lab) AS cluster FROM walk GROUP BY id),
        |pri AS (
        |  SELECT c.id, c.cluster,
        |    CAST((CASE WHEN d.source IN ('src0', 'src1') THEN 2 ELSE 1 END) * 1000000
        |         + d.n_chars AS BIGINT) AS prio
        |  FROM comp c JOIN documents d ON d.doc_id = c.id),
        |canon AS (
        |  SELECT cluster, id AS canonical_id FROM (
        |    SELECT cluster, id,
        |      row_number() OVER (PARTITION BY cluster ORDER BY prio DESC, id ASC) AS rn
        |    FROM pri)
        |  WHERE rn = 1)
        |SELECT p.id AS doc_id, p.cluster, c.canonical_id,
        |  p.id = c.canonical_id AS is_canonical
        |FROM pri p JOIN canon c USING (cluster)
        |ORDER BY doc_id""".stripMargin),

    "q_inverted_index" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE len(token) > 0)
        |SELECT token, count(*) AS df, min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_sort(list(doc_id))),
        |    (a, b) -> (a * 1000003 + b) % 1000000007) AS BIGINT) AS postings_hash
        |FROM dt GROUP BY token ORDER BY token""".stripMargin,

    "q_dedup_degree" -> (Similarity.minhashOracleCtes +
      """,
        |all_pairs AS (
        |  SELECT doc_id_1, doc_id_2 FROM cross_pairs
        |  UNION ALL SELECT doc_id_1, doc_id_2 FROM within_pairs),
        |touched AS (
        |  SELECT doc_id_1 AS doc_id FROM all_pairs
        |  UNION ALL SELECT doc_id_2 FROM all_pairs),
        |deg AS (SELECT doc_id, count(*) AS degree FROM touched GROUP BY doc_id)
        |SELECT degree, count(*) AS n_docs FROM deg GROUP BY degree ORDER BY degree""".stripMargin),

    // the twin decomposition replayed flat (closed-neighborhood lists as
    // group keys), quotient wedges, anti-joined closing edge
    "q_missing_links" -> (Similarity.minhashOracleCtes +
      missingLinksQueueCtes +
      """
        |SELECT op.a AS cls_1, op.c AS cls_2, n_common,
        |  CAST(g1.csize * g2.csize AS BIGINT) AS verify_pairs
        |FROM op JOIN cg g1 ON g1.cls = op.a
        |        JOIN cg g2 ON g2.cls = op.c
        |ORDER BY n_common DESC, cls_1 ASC, cls_2 ASC""".stripMargin),

    // the queue consumer: same class/wedge CTEs through `op`, then the
    // class-pair → doc-pair expansion and the exact doc-level Jaccard
    // replay over the same token-hash sets the pair graph verified with
    "q_missing_links_verify" -> (Similarity.minhashOracleCtes +
      missingLinksQueueCtes +
      """,
        |mlexp AS (
        |  SELECT least(m1.u, m2.u) AS doc_id_1, greatest(m1.u, m2.u) AS doc_id_2
        |  FROM op JOIN mem m1 ON m1.cls = op.a JOIN mem m2 ON m2.cls = op.c),
        |mlvrf AS (
        |  SELECT e.doc_id_1, e.doc_id_2,
        |    round(CAST(len(list_intersect(d1.hsh, d2.hsh)) AS DOUBLE) /
        |          (len(d1.hsh) + len(d2.hsh) - len(list_intersect(d1.hsh, d2.hsh))), 4) AS jaccard
        |  FROM mlexp e JOIN docs d1 ON d1.doc_id = e.doc_id_1
        |               JOIN docs d2 ON d2.doc_id = e.doc_id_2)
        |SELECT doc_id_1, doc_id_2, jaccard, jaccard >= 0.9 AS confirmed
        |FROM mlvrf ORDER BY doc_id_1, doc_id_2""".stripMargin),

    // the repaired clusters: the q_dedup_clusters walk over the edge
    // list WIDENED by the verify pass's confirmed edges
    "q_missing_links_repair" -> (Similarity.minhashOracleCtes +
      missingLinksQueueCtes +
      """,
        |mlexp AS (
        |  SELECT least(m1.u, m2.u) AS doc_id_1, greatest(m1.u, m2.u) AS doc_id_2
        |  FROM op JOIN mem m1 ON m1.cls = op.a JOIN mem m2 ON m2.cls = op.c),
        |mlvrf AS (
        |  SELECT e.doc_id_1, e.doc_id_2,
        |    round(CAST(len(list_intersect(d1.hsh, d2.hsh)) AS DOUBLE) /
        |          (len(d1.hsh) + len(d2.hsh) - len(list_intersect(d1.hsh, d2.hsh))), 4) AS jaccard
        |  FROM mlexp e JOIN docs d1 ON d1.doc_id = e.doc_id_1
        |               JOIN docs d2 ON d2.doc_id = e.doc_id_2),
        |edges2 AS MATERIALIZED (
        |  SELECT doc_id_1 AS a, doc_id_2 AS b FROM all_pairs
        |  UNION SELECT doc_id_2, doc_id_1 FROM all_pairs
        |  UNION SELECT doc_id_1, doc_id_2 FROM mlvrf WHERE jaccard >= 0.9
        |  UNION SELECT doc_id_2, doc_id_1 FROM mlvrf WHERE jaccard >= 0.9),
        |walk AS (
        |  SELECT doc_id AS id, doc_id AS lab FROM documents
        |  UNION
        |  SELECT e.a AS id, w.lab FROM edges2 e JOIN walk w ON w.id = e.b)
        |SELECT id, min(lab) AS cluster FROM walk GROUP BY id ORDER BY id""".stripMargin),

    // oriented-edge triangle enumeration over the same pair-graph CTEs:
    // wedge join + closing edge, each triangle counted once, zero-
    // triangle graph nodes surfaced via the left join
    "q_graph_triangles" -> (Similarity.minhashOracleCtes +
      """,
        |all_pairs AS (
        |  SELECT doc_id_1, doc_id_2 FROM cross_pairs
        |  UNION ALL SELECT doc_id_1, doc_id_2 FROM within_pairs),
        |te AS MATERIALIZED (
        |  SELECT DISTINCT least(doc_id_1, doc_id_2) AS a,
        |    greatest(doc_id_1, doc_id_2) AS b
        |  FROM all_pairs WHERE doc_id_1 <> doc_id_2),
        |tri AS MATERIALIZED (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM te e1 JOIN te e2 ON e1.b = e2.a
        |             JOIN te e3 ON e3.a = e1.a AND e3.b = e2.b),
        |pern AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        |  SELECT x AS doc_id FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri) GROUP BY doc_id),
        |tnodes AS (SELECT DISTINCT doc_id FROM (
        |  SELECT doc_id_1 AS doc_id FROM all_pairs
        |  UNION ALL SELECT doc_id_2 FROM all_pairs))
        |SELECT n.doc_id, coalesce(p.n_triangles, 0) AS n_triangles
        |FROM tnodes n LEFT JOIN pern p USING (doc_id) ORDER BY doc_id""".stripMargin),

    // scaled-integer power iteration over the same pair-graph CTEs the
    // degree oracle replays, run to the SAME exact integer fixpoint the
    // engine converges to (r10 verdict #8): the recursive term re-emits
    // the score table only while the round's L1 movement is > 0, under
    // the same iteration cap (60) the engine applies — per-edge floor
    // division then integer sums, so no float summation order exists on
    // either engine and both stop on the identical round
    "q_graph_pagerank" -> (Similarity.minhashOracleCtes +
      """,
        |all_pairs AS (
        |  SELECT doc_id_1, doc_id_2 FROM cross_pairs
        |  UNION ALL SELECT doc_id_1, doc_id_2 FROM within_pairs),
        |edges AS MATERIALIZED (
        |  SELECT doc_id_1 AS src, doc_id_2 AS dst FROM all_pairs
        |  UNION ALL SELECT doc_id_2, doc_id_1 FROM all_pairs),
        |deg AS MATERIALIZED (
        |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
        |ed AS MATERIALIZED (
        |  SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
        |it AS (
        |  SELECT 0 AS iter, src AS doc_id, CAST(1000000 AS BIGINT) AS score FROM deg
        |  UNION ALL
        |  (WITH prev AS (SELECT * FROM it),
        |   nxt AS (
        |     SELECT ed.dst AS doc_id,
        |       150000 + CAST(sum((p.score * 85) // (ed.deg * 100)) AS BIGINT) AS score
        |     FROM ed JOIN prev p ON ed.src = p.doc_id GROUP BY ed.dst),
        |   dl AS (SELECT CAST(sum(abs(n.score - p.score)) AS BIGINT) AS d
        |          FROM nxt n JOIN prev p USING (doc_id))
        |   SELECT p.iter + 1, n.doc_id, n.score
        |   FROM nxt n JOIN prev p USING (doc_id)
        |   WHERE (SELECT d FROM dl) > 0 AND p.iter < 120)
        |)
        |SELECT doc_id, score FROM it
        |QUALIFY iter = max(iter) OVER () ORDER BY doc_id""".stripMargin),

    // prefix-filter replay over 3-shingle hash sets (the poly_hash62
    // two-fold replication applied to gram strings): rarest-first
    // ordering (df, h), INTEGER prefix length, candidate meet on a
    // prefix shingle + the length filter, exact verify
    "q_jaccard_prefix" ->
      """WITH sdocs AS (
        |  SELECT doc_id, list_sort(list_distinct(list_transform(
        |    list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]),
        |    g -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(g, ''), c -> CAST(unicode(c) AS BIGINT))),
        |         (a, b) -> (a * 31 + b) % 2147483647) * 2147483648
        |       + list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(g, ''), c -> CAST(unicode(c) AS BIGINT))),
        |         (a, b) -> (a * 37 + b) % 2147483647)))) AS hsh
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        |        FROM documents)),
        |grpsS AS (SELECT min(doc_id) AS rep, hsh FROM sdocs GROUP BY hsh),
        |toksP AS (SELECT rep, unnest(hsh) AS h FROM grpsS),
        |dftP AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM toksP GROUP BY h),
        |ordP AS (
        |  SELECT rep, list(h ORDER BY df, h) AS oh, CAST(count(*) AS BIGINT) AS n
        |  FROM toksP JOIN dftP USING (h) GROUP BY rep),
        |prefP AS (
        |  SELECT rep, n, unnest(oh[1:CAST(n - ((9 * n + 9) // 10) + 1 AS BIGINT)]) AS h
        |  FROM ordP),
        |candP AS (
        |  SELECT DISTINCT x.rep AS r1, y.rep AS r2
        |  FROM prefP x JOIN prefP y ON x.h = y.h AND x.rep < y.rep
        |    AND least(x.n, y.n) >= greatest(x.n, y.n) * 0.899)
        |SELECT doc_id_1, doc_id_2, jaccard FROM (
        |  SELECT c.r1 AS doc_id_1, c.r2 AS doc_id_2,
        |    round(CAST(len(list_intersect(a.hsh, b.hsh)) AS DOUBLE) /
        |          (len(a.hsh) + len(b.hsh) - len(list_intersect(a.hsh, b.hsh))), 4) AS jaccard
        |  FROM candP c JOIN grpsS a ON a.rep = c.r1 JOIN grpsS b ON b.rep = c.r2)
        |WHERE jaccard >= 0.9
        |ORDER BY doc_id_1, doc_id_2""".stripMargin,

    "q_fuzzy_match" ->
      """SELECT id_1, id_2, sa, sb, dist FROM (
        |  SELECT a.c_custkey AS id_1, b.c_custkey AS id_2,
        |    a.c_name AS sa, b.c_name AS sb,
        |    CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey)
        |WHERE dist <= 1
        |ORDER BY id_1, id_2""".stripMargin,

    // the fuzzy pair edges + the same recursive min-label walk the
    // dedup-cluster oracles run; id universe = every customer
    "q_fuzzy_clusters" ->
      """WITH RECURSIVE fp AS MATERIALIZED (
        |  SELECT id_1, id_2 FROM (
        |    SELECT a.c_custkey AS id_1, b.c_custkey AS id_2,
        |      levenshtein(a.c_name, b.c_name) AS dist
        |    FROM customer a JOIN customer b
        |      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey)
        |  WHERE dist <= 1),
        |edges AS MATERIALIZED (
        |  SELECT id_1 AS a, id_2 AS b FROM fp UNION SELECT id_2, id_1 FROM fp),
        |walk AS (
        |  SELECT c_custkey AS id, c_custkey AS lab FROM customer
        |  UNION
        |  SELECT e.a AS id, w.lab FROM edges e JOIN walk w ON w.id = e.b)
        |SELECT id, min(lab) AS cluster FROM walk GROUP BY id ORDER BY id""".stripMargin,

    // same truth at distance 2 — the engine serves this via the blocked
    // self-join fallback; the oracle does not care which strategy ran
    "q_fuzzy_match2" ->
      """SELECT id_1, id_2, sa, sb, dist FROM (
        |  SELECT a.c_custkey AS id_1, b.c_custkey AS id_2,
        |    a.c_name AS sa, b.c_name AS sb,
        |    CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey)
        |WHERE dist <= 2
        |ORDER BY id_1, id_2""".stripMargin,

    // The composed corpus build, RefinedWeb order (r14): the line-
    // curation reflow CTEs head the chain (Lines.reflowDocsCtesBody —
    // byte-identical to the q_doc_reflow oracle) and EVERY doc-level
    // stage reads the reflowed corpus `refl_docs`: minhash pairs over
    // the reflowed slice (doc_id >= 10), gopher keep, repetition caps,
    // LM-fluency floor (back-off table trained on the reflowed slice's
    // even half), shingle decontamination vs the RAW benchmark slice,
    // split manifest — each CTE block is the same replication its
    // standalone oracle uses.
    "q_curation_pipeline" -> ("WITH RECURSIVE " + Lines.reflowDocsCtesBody("doc_id >= 10") + ",\n" +
      Similarity.minhashOracleCtesBodyFor("WHERE doc_id >= 10", "refl_docs") +
      s""",
        |all_pairs AS (
        |  SELECT doc_id_1, doc_id_2 FROM cross_pairs
        |  UNION ALL SELECT doc_id_1, doc_id_2 FROM within_pairs),
        |removed AS (SELECT DISTINCT doc_id_2 AS doc_id FROM all_pairs),
        |pertok AS (
        |  SELECT doc_id, token, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM refl_docs WHERE doc_id >= 10)
        |  WHERE len(token) > 0
        |  GROUP BY doc_id, token),
        |stats AS (
        |  SELECT doc_id,
        |    CAST(sum(c) AS BIGINT) AS n_words,
        |    CAST(sum(c * len(token)) AS BIGINT) AS sum_len,
        |    max(c) AS max_tf
        |  FROM pertok GROUP BY doc_id),
        |keep AS (
        |  SELECT doc_id FROM stats
        |  WHERE n_words BETWEEN 5 AND 1000
        |    AND CAST(floor(100.0 * sum_len / n_words) AS BIGINT) BETWEEN 300 AND 1000
        |    AND CAST(floor(10000.0 * max_tf / n_words) AS BIGINT) < 2000),
        |repg AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 2
        |         THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
        |         ELSE CAST([] AS VARCHAR[]) END AS g2,
        |    CASE WHEN len(t) >= 3
        |         THEN list_transform(range(1, len(t) - 1),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |         ELSE CAST([] AS VARCHAR[]) END AS g3
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t
        |        FROM refl_docs WHERE doc_id >= 10)),
        |repkeep AS (
        |  SELECT doc_id FROM repg
        |  WHERE (CASE WHEN len(g2) > 0
        |         THEN CAST(floor(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
        |                         * 10000.0 / CAST(len(g2) AS DOUBLE)) AS BIGINT)
        |         ELSE 0 END) <= 1000
        |    AND (CASE WHEN len(g3) > 0
        |         THEN CAST(floor(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
        |                         * 10000.0 / CAST(len(g3) AS DOUBLE)) AS BIGINT)
        |         ELSE 0 END) <= 500),
        |lmttk AS (
        |  SELECT list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        |  FROM refl_docs WHERE doc_id >= 10 AND doc_id % 2 = 0),
        |lmc3 AS (SELECT g, count(*) AS c3 FROM (
        |        SELECT unnest(list_transform(range(1, len(tk)-1),
        |                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
        |        FROM lmttk) GROUP BY g),
        |lmc2 AS MATERIALIZED (SELECT g, count(*) AS c2 FROM (
        |        SELECT unnest(list_transform(range(1, len(tk)),
        |                 i -> tk[i] || ' ' || tk[i+1])) AS g
        |        FROM lmttk) GROUP BY g),
        |lmc1 AS MATERIALIZED (SELECT g, count(*) AS c1 FROM (
        |        SELECT unnest(tk) AS g FROM lmttk) GROUP BY g),
        |lmtot AS (SELECT CAST(sum(c1) AS BIGINT) AS t FROM lmc1),
        |lml3 AS (SELECT lmc3.g AS g,
        |         CAST(floor(CAST(1000000.0 AS DOUBLE) * lmc3.c3 / x.c2) AS BIGINT) AS cond3
        |       FROM lmc3 JOIN lmc2 x
        |         ON split_part(lmc3.g, ' ', 1) || ' ' || split_part(lmc3.g, ' ', 2) = x.g),
        |lml2 AS (SELECT lmc2.g AS g,
        |         CAST(floor(CAST(400000.0 AS DOUBLE) * lmc2.c2 / lmc1.c1) AS BIGINT) AS cond2
        |       FROM lmc2 JOIN lmc1 ON split_part(lmc2.g, ' ', 1) = lmc1.g),
        |lml1 AS (SELECT lmc1.g AS g,
        |         CAST(floor(CAST(160000.0 AS DOUBLE) * lmc1.c1 / lmtot.t) AS BIGINT) AS cond1
        |       FROM lmc1 CROSS JOIN lmtot),
        |lmsg AS (SELECT doc_id,
        |         unnest(list_transform(range(1, len(tk)-1),
        |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
        |       FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        |             FROM refl_docs WHERE doc_id >= 10)),
        |lmscored AS (
        |  SELECT doc_id, coalesce(lml3.cond3, lml2.cond2, lml1.cond1, CAST(0 AS BIGINT)) AS sc
        |  FROM lmsg LEFT JOIN lml3 ON lmsg.g = lml3.g
        |          LEFT JOIN lml2 ON split_part(lmsg.g, ' ', 2) || ' ' || split_part(lmsg.g, ' ', 3) = lml2.g
        |          LEFT JOIN lml1 ON split_part(lmsg.g, ' ', 3) = lml1.g),
        |lmkeep AS (
        |  SELECT doc_id FROM lmscored GROUP BY doc_id
        |  HAVING CAST(floor(CAST(sum(sc) AS BIGINT) / count(*)) AS BIGINT) >= 32000),
        |shc AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(string_split(text, ' ')) - 1),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2]))) AS s
        |  FROM refl_docs WHERE doc_id >= 10),
        |shb AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(string_split(text, ' ')) - 1),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2]))) AS s
        |  FROM documents WHERE doc_id < 10),
        |cont0 AS (
        |  SELECT cs.doc_id, bs.bench_id, count(*) AS n
        |  FROM shc cs
        |  JOIN (SELECT doc_id AS bench_id, s FROM shb) bs USING (s)
        |  GROUP BY cs.doc_id, bs.bench_id HAVING count(*) >= 2),
        |contaminated AS (SELECT DISTINCT doc_id FROM cont0),
        |base AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_toks,
        |    ${splitCaseSql("doc_id")} AS split
        |  FROM refl_docs WHERE doc_id >= 10)
        |SELECT split, lang, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
        |FROM base
        |WHERE doc_id IN (SELECT doc_id FROM keep)
        |  AND doc_id IN (SELECT doc_id FROM repkeep)
        |  AND doc_id IN (SELECT doc_id FROM lmkeep)
        |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
        |  AND doc_id NOT IN (SELECT doc_id FROM removed)
        |GROUP BY split, lang ORDER BY split, lang""".stripMargin),

    "q_gopher_rules" ->
      """WITH pertok AS (
        |  SELECT doc_id, token, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE len(token) > 0
        |  GROUP BY doc_id, token),
        |stats AS (
        |  SELECT doc_id,
        |    CAST(sum(c) AS BIGINT) AS n_words,
        |    CAST(sum(c * len(token)) AS BIGINT) AS sum_len,
        |    max(c) AS max_tf
        |  FROM pertok GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(s.n_words, 0) AS n_words,
        |  CAST(floor(100.0 * s.sum_len / s.n_words) AS BIGINT) AS mean_len_x100,
        |  CAST(floor(10000.0 * s.max_tf / s.n_words) AS BIGINT) AS rep_x10000,
        |  (coalesce(s.n_words, 0) BETWEEN 5 AND 1000
        |    AND CAST(floor(100.0 * s.sum_len / s.n_words) AS BIGINT) BETWEEN 300 AND 1000
        |    AND CAST(floor(10000.0 * s.max_tf / s.n_words) AS BIGINT) < 2000) AS keep
        |FROM (SELECT doc_id FROM documents) d LEFT JOIN stats s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_stopword_filter" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks
        |       WHERE len(token) > 0 GROUP BY token),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |st AS (SELECT coalesce(list_sort(list(token)), CAST([] AS VARCHAR[])) AS stops
        |       FROM tf, nd WHERE df * 100 > n_docs * 78)
        |SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS BIGINT) AS n_toks,
        |  CAST(len(list_filter(string_split(text, ' '),
        |       t -> len(t) > 0 AND NOT list_contains(stops, t))) AS BIGINT) AS n_kept,
        |  coalesce(array_to_string(list_filter(string_split(text, ' '),
        |       t -> len(t) > 0 AND NOT list_contains(stops, t)), ' '), '') AS kept_text
        |FROM documents, st
        |ORDER BY doc_id""".stripMargin,

    // BPE learn: 8 chained bpe_step rewrites — every corpus CTE is
    // MATERIALIZED (each is referenced by the next argmax AND the next
    // rewrite; inlined, DuckDB would re-run the whole chain per
    // reference, exponential in steps — the recursive-CTE gotcha).
    "q_bpe_learn" -> bpeLearnOracleSql(8),
    "q_bpe_apply" -> bpeApplyOracleSql(8),

    // BPE step: same argmax-pair CTE as the bigram stats, then the
    // doubled-boundary replace trick — replace() is greedy left-to-
    // right non-overlapping in both engines, and doubling boundaries
    // stops consecutive occurrences from sharing a space character,
    // so the string rewrite IS the token-level BPE merge.
    "q_bpe_step" ->
      """WITH tk AS (
        |  SELECT list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk FROM documents),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS pair
        |  FROM tk),
        |top AS (SELECT pair FROM (SELECT pair, count(*) AS n FROM pairs GROUP BY pair)
        |        ORDER BY n DESC, pair ASC LIMIT 1),
        |r AS (
        |  SELECT doc_id, text, pair,
        |    trim(replace(replace(' ' || replace(text, ' ', '  ') || ' ',
        |                         ' ' || replace(pair, ' ', '  ') || ' ',
        |                         ' ' || replace(pair, ' ', '@') || ' '),
        |                 '  ', ' ')) AS new_text
        |  FROM documents CROSS JOIN top)
        |SELECT doc_id, pair,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_before,
        |  CAST(len(string_split(text, ' ')) - len(string_split(new_text, ' ')) AS BIGINT) AS n_merges,
        |  new_text
        |FROM r ORDER BY doc_id""".stripMargin,

    // Trigram back-off LM: count tables trained on the even half,
    // deepest-seen-level coalesce (10⁶ / 4·10⁵ / 1.6·10⁵ pre-scaled
    // discounts), floored integer mean — the q_lm_score arithmetic
    // with graceful degradation, replayed level for level.
    "q_lm_score_backoff" -> (lmBackoffLmscCtes +
      """
        |SELECT doc_id, n_trigrams, lm_score FROM lmsc ORDER BY doc_id""".stripMargin),

    // the R-S prefix join replayed: standing-side reps + dfs, batch
    // ordered under the same df table (unseen -> 0), cross-side
    // candidates under the length filter, exact verify
    "q_jaccard_prefix_incremental" ->
      s"""WITH s1 AS (
        |${shingleDocsSql("WHERE doc_id < 250")}),
        |s2 AS (
        |${shingleDocsSql("WHERE doc_id >= 250")}),
        |rg AS (SELECT min(doc_id) AS rep, hsh FROM s1 GROUP BY hsh),
        |rt AS (SELECT rep, unnest(hsh) AS h FROM rg),
        |dfi AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM rt GROUP BY h),
        |rp0 AS (SELECT rep, list(h ORDER BY df, h) AS oh, CAST(count(*) AS BIGINT) AS n
        |        FROM rt JOIN dfi USING (h) GROUP BY rep),
        |rp AS (SELECT rep, n,
        |         unnest(oh[1:CAST(n - ((8 * n + 9) // 10) + 1 AS BIGINT)]) AS h FROM rp0),
        |nt AS (SELECT doc_id, unnest(hsh) AS h FROM s2),
        |np0 AS (SELECT doc_id, list(h ORDER BY coalesce(df, 0), h) AS oh,
        |               CAST(count(*) AS BIGINT) AS n
        |        FROM nt LEFT JOIN dfi USING (h) GROUP BY doc_id),
        |np AS (SELECT doc_id, n,
        |         unnest(oh[1:CAST(n - ((8 * n + 9) // 10) + 1 AS BIGINT)]) AS h FROM np0),
        |candI AS (SELECT DISTINCT np.doc_id AS dn, rp.rep AS dr
        |          FROM np JOIN rp USING (h)
        |          WHERE least(np.n, rp.n) >= greatest(np.n, rp.n) * 0.799)
        |SELECT doc_id_new, doc_id_ref, jaccard FROM (
        |  SELECT c.dn AS doc_id_new, c.dr AS doc_id_ref,
        |    round(CAST(len(list_intersect(a.hsh, b.hsh)) AS DOUBLE) /
        |          (len(a.hsh) + len(b.hsh) - len(list_intersect(a.hsh, b.hsh))), 4) AS jaccard
        |  FROM candI c JOIN s2 a ON a.doc_id = c.dn JOIN rg b ON b.rep = c.dr)
        |WHERE jaccard >= 0.8
        |ORDER BY doc_id_new, doc_id_ref""".stripMargin,

    // the version diff replayed: same slices, same per-side poly62
    // content hashes, same full-outer classification
    "q_snapshot_diff" ->
      s"""WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0),
        |v2 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 11 = 0 THEN reverse(text) ELSE text END AS text
        |       FROM documents WHERE doc_id % 7 <> 0),
        |k1 AS (SELECT doc_id, ${poly62Sql("text")} AS ha FROM v1),
        |k2 AS (SELECT doc_id, ${poly62Sql("text")} AS hb FROM v2)
        |SELECT doc_id,
        |  CASE WHEN ha IS NULL THEN 'added'
        |       WHEN hb IS NULL THEN 'removed'
        |       WHEN ha <> hb THEN 'changed'
        |       ELSE 'kept' END AS status
        |FROM k1 FULL OUTER JOIN k2 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_corpus_fingerprint" ->
      s"""WITH hh AS (SELECT ${poly62Sql("(doc_id || '|' || text)")} AS h FROM documents)
        |SELECT count(*) AS n_docs,
        |  CAST(bit_xor(h) AS BIGINT) AS xor_hash,
        |  CAST(CAST(sum(h % 2147483647) AS BIGINT) % 2147483647 AS BIGINT) AS sum_hash
        |FROM hh""".stripMargin,

    // Kneser-Ney table: three uniform-schema levels off the shared
    // count chain
    "q_lm_table_kn" -> (lmKnCtes +
      """
        |SELECT ngram, level, a, b FROM (
        |  SELECT g AS ngram, CAST(2 AS BIGINT) AS level, cond2 AS a,
        |    CAST(0 AS BIGINT) AS b FROM l2k
        |  UNION ALL
        |  SELECT w1, CAST(1 AS BIGINT), c1, n1p FROM ctxk
        |  UNION ALL
        |  SELECT w2, CAST(0 AS BIGINT), ncont, (SELECT t FROM ttot) FROM contk)
        |ORDER BY level, ngram""".stripMargin),

    // Kneser-Ney score: seen bigrams read l2k; unseen compose the
    // discount-weight and continuation ingredients at score time —
    // the same no-product-of-floors rule as the engine
    "q_lm_score_kn" -> (lmKnCtes +
      """,
        |sgk AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |           i -> tk[i] || ' ' || tk[i+1])) AS g
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        |        FROM documents)),
        |sck AS (
        |  SELECT doc_id,
        |    coalesce(l2k.cond2,
        |      CASE
        |        WHEN ctxk.c1 IS NOT NULL AND contk.ncont IS NOT NULL
        |          THEN (1000000 * 3 * ctxk.n1p * contk.ncont) // (4 * ctxk.c1 * ttot.t)
        |        WHEN ctxk.c1 IS NOT NULL THEN 0
        |        WHEN contk.ncont IS NOT NULL THEN (1000000 * contk.ncont) // ttot.t
        |        ELSE 0 END,
        |      0) AS sc
        |  FROM sgk LEFT JOIN l2k ON sgk.g = l2k.g
        |           LEFT JOIN ctxk ON split_part(sgk.g, ' ', 1) = ctxk.w1
        |           LEFT JOIN contk ON split_part(sgk.g, ' ', 2) = contk.w2
        |           CROSS JOIN ttot)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(CAST(sum(sc) AS BIGINT) // count(*) AS BIGINT) AS lm_score
        |FROM sck GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // CCNet terciles over the SAME lmsc CTE chain (shared so the score
    // and the bucketing can never drift): per-lang descending cumulative
    // histogram -> exact-rank tercile cuts -> threshold comparison
    "q_ppl_buckets" -> (lmBackoffLmscCtes +
      """,
        |wl AS (SELECT l.doc_id, d.lang, l.lm_score
        |       FROM lmsc l JOIN documents d USING (doc_id)),
        |hist AS (SELECT lang, lm_score, count(*) AS c
        |         FROM wl GROUP BY lang, lm_score),
        |cum AS (SELECT lang, lm_score,
        |          sum(c) OVER (PARTITION BY lang ORDER BY lm_score DESC) AS cum,
        |          sum(c) OVER (PARTITION BY lang) AS n
        |        FROM hist),
        |thr AS (SELECT lang,
        |          max(CASE WHEN cum >= (n + 2) // 3 THEN lm_score END) AS t_head,
        |          max(CASE WHEN cum >= (2 * n + 2) // 3 THEN lm_score END) AS t_mid
        |        FROM cum GROUP BY lang)
        |SELECT w.doc_id, w.lang, w.lm_score,
        |  CASE WHEN w.lm_score >= t.t_head THEN 'head'
        |       WHEN w.lm_score >= t.t_mid THEN 'middle'
        |       ELSE 'tail' END AS ppl_bucket
        |FROM wl w JOIN thr t USING (lang) ORDER BY doc_id""".stripMargin),

    "q_winnow" -> (winnowSelCtes +
      """
        |SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, fp
        |FROM sel ORDER BY doc_id, pos""".stripMargin),

    "q_winnow_pairs" -> (winnowSelCtes +
      """,
        |fpd AS (SELECT DISTINCT doc_id, fp FROM sel),
        |cap AS (SELECT doc_id, fp FROM (
        |          SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS nf
        |          FROM fpd)
        |        WHERE nf <= 64)
        |SELECT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM cap x JOIN cap y USING (fp)
        |WHERE x.doc_id < y.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY doc_id_1, doc_id_2""".stripMargin),

    "q_vocab_coverage" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS c FROM tk WHERE doc_id % 2 = 0 GROUP BY tok)
        |  ORDER BY c DESC, tok ASC LIMIT 16)
        |SELECT doc_id, count(*) AS n_toks,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(floor(CAST(10000.0 AS DOUBLE) *
        |    CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) / count(*)) AS BIGINT) AS oov_bp
        |FROM tk LEFT JOIN vocab v USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Corpus-LM fluency: bigram/unigram count tables, one floored
    // scaled ratio per bigram, integer mean — all-BIGINT except the
    // two float divisions, written identically on both engines.
    "q_lm_score" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bigram
        |  FROM tk),
        |c2 AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY bigram),
        |c1 AS (SELECT w1, count(*) AS c1 FROM (
        |         SELECT unnest(tk) AS w1 FROM tk) GROUP BY w1),
        |scored AS (
        |  SELECT bg.doc_id,
        |    CAST(floor(CAST(1000000.0 AS DOUBLE) * c2.c2 / c1.c1) AS BIGINT) AS cond
        |  FROM bg JOIN c2 USING (bigram)
        |       JOIN c1 ON split_part(bg.bigram, ' ', 1) = c1.w1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(floor(CAST(sum(cond) AS BIGINT) / count(*)) AS BIGINT) AS lm_score
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_ngram_stats" ->
      """WITH tk AS (
        |  SELECT list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk FROM documents),
        |grams AS (
        |  SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bigram
        |  FROM tk)
        |SELECT bigram, count(*) AS n
        |FROM grams GROUP BY bigram
        |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,

    // Rényi-2 diversity: counts, squares, one floored division — the
    // exact-arithmetic entropy surrogate (no per-term ln; see scaladoc)
    "q_token_diversity" ->
      """WITH tokens AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |       FROM tokens GROUP BY doc_id, token)
        |SELECT doc_id, n_tokens, n_distinct, sum_tf2,
        |  CAST(floor(100.0 * n_tokens * n_tokens / sum_tf2) AS BIGINT) AS eff_vocab_x100
        |FROM (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(sum(tf * tf) AS BIGINT) AS sum_tf2
        |  FROM tf GROUP BY doc_id)
        |ORDER BY doc_id""".stripMargin,

    // χ² divergence: per-term ((p-q)^2)/q floored to 1e9-scaled BIGINT
    // before the sum — every op one correctly-rounded IEEE operation,
    // identically parenthesized in both engines
    "q_domain_divergence" ->
      """WITH tokens AS (
        |  SELECT source, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS token
        |  FROM documents),
        |per_src AS (SELECT source, token, CAST(count(*) AS BIGINT) AS cs
        |            FROM tokens GROUP BY source, token),
        |corpus AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tokens GROUP BY token),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM corpus),
        |src_tot AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns FROM per_src GROUP BY source),
        |scored AS (
        |  SELECT s.source,
        |    CAST(floor(1000000000.0 *
        |      (((CAST(s.cs AS DOUBLE) / st.ns - CAST(co.c AS DOUBLE) / t.n) *
        |        (CAST(s.cs AS DOUBLE) / st.ns - CAST(co.c AS DOUBLE) / t.n)) /
        |       (CAST(co.c AS DOUBLE) / t.n))) AS BIGINT) AS contrib
        |  FROM per_src s
        |  JOIN corpus co ON s.token = co.token
        |  JOIN src_tot st ON s.source = st.source
        |  CROSS JOIN tot t)
        |SELECT sc.source, st.ns AS n_tokens, count(*) AS n_terms,
        |  CAST(sum(sc.contrib) AS BIGINT) AS chi2_nano
        |FROM scored sc JOIN src_tot st ON sc.source = st.source
        |GROUP BY sc.source, st.ns ORDER BY sc.source""".stripMargin,

    // milli-scaled integer logs make every regression sum an exact
    // order-free BIGINT; a 2-ulp ln divergence flips a floor only
    // within ~1.5e-12 of an integer boundary (≈3e-9 over 2000 points)
    "q_zipf_fit" ->
      """WITH tk AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS token
        |  FROM documents),
        |freq AS (SELECT token, CAST(count(*) AS BIGINT) AS f FROM tk GROUP BY token
        |         ORDER BY f DESC, token ASC LIMIT 1000),
        |pts AS (
        |  SELECT CAST(floor(1000.0 * ln(CAST(rank AS DOUBLE))) AS BIGINT) AS x,
        |         CAST(floor(1000.0 * ln(CAST(f AS DOUBLE))) AS BIGINT) AS y
        |  FROM (SELECT f, row_number() OVER (ORDER BY f DESC, token ASC) AS rank FROM freq)),
        |sums AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_points,
        |    CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
        |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM pts)
        |SELECT n_points, sum_x, sum_y, sxy, sxx,
        |  CAST(n_points * sxy - sum_x * sum_y AS DOUBLE) /
        |  CAST(n_points * sxx - sum_x * sum_x AS DOUBLE) AS slope
        |FROM sums""".stripMargin,

    // pure integer two-pass: distinct (doc, gram) → gram-keyed min → join
    "q_ngram_novelty" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        |  FROM documents),
        |dg AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
        |  FROM tk),
        |owner AS (SELECT gram, min(doc_id) AS first_doc FROM dg GROUP BY gram)
        |SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN o.first_doc = dg.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(floor(10000.0 * sum(CASE WHEN o.first_doc = dg.doc_id THEN 1 ELSE 0 END)
        |             / count(*)) AS BIGINT) AS novelty_bp
        |FROM dg JOIN owner o ON dg.gram = o.gram
        |GROUP BY dg.doc_id ORDER BY dg.doc_id""".stripMargin,

    // PMI ratio instead of log-PMI (monotone ⇒ same ranking) keeps the
    // score a short identically-parenthesized IEEE expression over
    // exact BIGINT counts — the BM25 cross-engine float discipline
    "q_pmi_collocations" ->
      """WITH tk AS (
        |  SELECT list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk FROM documents),
        |uni AS (SELECT unnest(tk) AS tok FROM tk),
        |unic AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_tok FROM uni GROUP BY tok),
        |bi AS (
        |  SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bigram
        |  FROM tk),
        |bic AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n_xy FROM bi GROUP BY bigram),
        |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM uni) AS n_total,
        |               (SELECT CAST(count(*) AS BIGINT) FROM bi) AS m_total)
        |SELECT bigram, n_xy, n_x, n_y, pmi_ratio FROM (
        |  SELECT b.bigram, b.n_xy, x.n_tok AS n_x, y.n_tok AS n_y,
        |    round(CAST(b.n_xy AS DOUBLE) * CAST(t.n_total AS DOUBLE) * CAST(t.n_total AS DOUBLE) /
        |          (CAST(t.m_total AS DOUBLE) * CAST(x.n_tok AS DOUBLE) * CAST(y.n_tok AS DOUBLE)),
        |          4) AS pmi_ratio
        |  FROM bic b
        |  JOIN unic x ON string_split(b.bigram, ' ')[1] = x.tok
        |  JOIN unic y ON string_split(b.bigram, ' ')[2] = y.tok
        |  CROSS JOIN tot t
        |  WHERE b.n_xy >= 2)
        |ORDER BY pmi_ratio DESC, bigram ASC LIMIT 50""".stripMargin,

    // cumsum over the LIMITed top-k only (both engines window over the
    // same bounded set); 1e6 literal is a DOUBLE in both dialects
    "q_vocab_build" ->
      """WITH tk AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM tk GROUP BY tok),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
        |top AS (SELECT tok, n FROM c ORDER BY n DESC, tok ASC LIMIT 300),
        |r AS (SELECT tok, n,
        |        row_number() OVER (ORDER BY n DESC, tok ASC) AS rank,
        |        CAST(sum(n) OVER (ORDER BY n DESC, tok ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
        |      FROM top)
        |SELECT r.rank, r.tok, r.n, r.cum_n,
        |  CAST(floor(1e6 * r.cum_n / t.n_total) AS BIGINT) AS coverage_ppm
        |FROM r CROSS JOIN t ORDER BY r.rank""".stripMargin,

    "q_tfidf" ->
      """WITH tokens AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tfq AS (SELECT doc_id, token, count(*) AS tf
        |        FROM tokens WHERE len(token) > 0 GROUP BY doc_id, token),
        |dfq AS (SELECT token, count(DISTINCT doc_id) AS df
        |        FROM tokens WHERE len(token) > 0 GROUP BY token),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tfq.doc_id, tfq.token, tfq.tf, dfq.df,
        |    tfq.tf * CAST(floor(1000000.0 * n.n_docs / dfq.df) AS BIGINT) AS score
        |  FROM tfq JOIN dfq USING (token) CROSS JOIN n)
        |SELECT doc_id, rk, token, tf, df, score FROM (
        |  SELECT doc_id, token, tf, df, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rk
        |  FROM scored)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    // BM25: every float step is the same short, identically-
    // parenthesized IEEE double expression as the Spark side (decimal
    // literals cast to DOUBLE — DuckDB would otherwise run them as
    // DECIMAL arithmetic), and per-term scores floor to BIGINT before
    // the per-doc sum so the aggregate is order-free integer math.
    "q_bm25_topk" ->
      s"""WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id, qtext
        |           FROM (VALUES $bm25QueryValues) AS v(query_id, qtext)),
        |qt AS (SELECT DISTINCT query_id, token FROM (
        |         SELECT query_id, unnest(string_split(qtext, ' ')) AS token FROM q)
        |       WHERE len(token) > 0),
        |tok AS (SELECT doc_id, token FROM (
        |          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |        WHERE len(token) > 0),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |tot AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
        |${bm25StageSql("1", "qt")}
        |SELECT query_id, rk, doc_id, score, n_terms FROM ranked1
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,

    // phrase boost over the SAME generated BM25 stage: ranked1's base
    // scores + 500000 per query-bigram occurrence, re-ranked
    "q_bm25_proximity" ->
      s"""WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id, qtext
        |           FROM (VALUES $bm25QueryValues) AS v(query_id, qtext)),
        |qt AS (SELECT DISTINCT query_id, token FROM (
        |         SELECT query_id, unnest(string_split(qtext, ' ')) AS token FROM q)
        |       WHERE len(token) > 0),
        |tok AS (SELECT doc_id, token FROM (
        |          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |        WHERE len(token) > 0),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |tot AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
        |${bm25StageSql("1", "qt")},
        |qg AS (SELECT DISTINCT query_id, g FROM (
        |         SELECT query_id, unnest(list_transform(range(1, len(tk)),
        |                  i -> tk[i] || ' ' || tk[i+1])) AS g
        |         FROM (SELECT query_id,
        |                 list_filter(string_split(qtext, ' '), t -> len(t) > 0) AS tk
        |               FROM q))),
        |dgo AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS n_occ FROM (
        |          SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |                   i -> tk[i] || ' ' || tk[i+1])) AS g
        |          FROM (SELECT doc_id,
        |                  list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        |                FROM documents))
        |        GROUP BY doc_id, g),
        |bon AS (SELECT qg.query_id, dgo.doc_id, CAST(sum(n_occ) AS BIGINT) AS phrase_hits
        |        FROM dgo JOIN qg USING (g) GROUP BY qg.query_id, dgo.doc_id)
        |SELECT query_id, rk, doc_id, score, phrase_hits, n_terms FROM (
        |  SELECT r.query_id, r.doc_id,
        |    r.score + 500000 * coalesce(b.phrase_hits, 0) AS score,
        |    coalesce(b.phrase_hits, 0) AS phrase_hits, r.n_terms,
        |    row_number() OVER (PARTITION BY r.query_id
        |      ORDER BY r.score + 500000 * coalesce(b.phrase_hits, 0) DESC,
        |               r.doc_id ASC) AS rk
        |  FROM ranked1 r LEFT JOIN bon b
        |    ON r.query_id = b.query_id AND r.doc_id = b.doc_id)
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,

    // both retrieval stages come from the SAME generated BM25 CTE block
    // as q_bm25_topk, so the three oracles cannot drift; the expansion
    // cut replays the tfidf integer idf rule over feedback-doc tokens
    "q_query_expansion" ->
      s"""WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id, qtext
        |           FROM (VALUES $bm25QueryValues) AS v(query_id, qtext)),
        |qt AS (SELECT DISTINCT query_id, token FROM (
        |         SELECT query_id, unnest(string_split(qtext, ' ')) AS token FROM q)
        |       WHERE len(token) > 0),
        |tok AS (SELECT doc_id, token FROM (
        |          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |        WHERE len(token) > 0),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |tot AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
        |${bm25StageSql("1", "qt")},
        |fb AS (SELECT query_id, doc_id FROM ranked1 WHERE rk <= 5),
        |fbtf AS (SELECT f.query_id, t.token, CAST(count(*) AS BIGINT) AS n_fb
        |         FROM fb f JOIN tok t USING (doc_id) GROUP BY f.query_id, t.token),
        |ndocs AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
        |dfall AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok
        |          WHERE token IN (SELECT DISTINCT token FROM fbtf) GROUP BY token),
        |expsc AS (
        |  SELECT f.query_id, f.token,
        |    f.n_fb * CAST(floor(1e6 * n.n_docs / d.df) AS BIGINT) AS exp_score
        |  FROM fbtf f JOIN dfall d USING (token) CROSS JOIN ndocs n
        |  WHERE NOT EXISTS (SELECT 1 FROM qt
        |                    WHERE qt.query_id = f.query_id AND qt.token = f.token)),
        |exp AS (SELECT query_id, token FROM (
        |          SELECT query_id, token,
        |            row_number() OVER (PARTITION BY query_id
        |                               ORDER BY exp_score DESC, token ASC) AS rk
        |          FROM expsc)
        |        WHERE rk <= 3),
        |qt2 AS (SELECT query_id, token FROM qt
        |        UNION SELECT query_id, token FROM exp),
        |${bm25StageSql("2", "qt2")}
        |SELECT query_id, rk, doc_id, score, n_terms FROM ranked2
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,

    "q_dedup_paragraph" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |s AS (SELECT doc_id, t,
        |        unnest(range(1, len(t) + 1, 16)) AS start,
        |        generate_subscripts(range(1, len(t) + 1, 16), 1) AS chunk_idx
        |      FROM d),
        |c AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |        array_to_string(list_slice(t, start, least(start + 15, len(t))), ' ') AS chunk_text
        |      FROM s),
        |k AS (SELECT doc_id, chunk_idx, chunk_text,
        |        row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_idx) AS rk
        |      FROM c),
        |perdoc AS (
        |  SELECT doc_id, count(*) AS n_chunks,
        |    count(*) FILTER (WHERE rk = 1) AS n_kept,
        |    coalesce(string_agg(chunk_text, ' ' ORDER BY chunk_idx) FILTER (WHERE rk = 1), '') AS clean_text
        |  FROM k GROUP BY doc_id)
        |SELECT d0.doc_id, coalesce(p.n_chunks, 0) AS n_chunks,
        |  coalesce(p.n_kept, 0) AS n_kept, coalesce(p.clean_text, '') AS clean_text
        |FROM (SELECT doc_id FROM documents) d0 LEFT JOIN perdoc p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_pii_scrub" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(customer|key|value)\b')) AS BIGINT) AS n_hits,
        |  regexp_replace(text, '\b(customer|key|value)\b', '<PII>', 'g') AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_domain_mixture" ->
      """WITH pd AS (
        |  SELECT lang AS domain, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(list_filter(string_split(text, ' '), t -> len(t) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM pd),
        |tgt0 AS (
        |  SELECT domain, n_docs, n_tokens, total_tokens,
        |    CAST(CASE domain WHEN 'en' THEN 2500 WHEN 'zh' THEN 3000 WHEN 'es' THEN 1500
        |                     WHEN 'de' THEN 1500 WHEN 'fr' THEN 1500 ELSE 0 END AS BIGINT) AS target_bp
        |  FROM pd CROSS JOIN tot),
        |tgt AS (
        |  SELECT domain, n_docs, n_tokens, target_bp,
        |    (((total_tokens * 60) // 100) * target_bp) // 10000 AS target_tokens
        |  FROM tgt0)
        |SELECT domain, n_docs, n_tokens, target_bp,
        |  CAST(target_tokens AS BIGINT) AS target_tokens,
        |  CAST(least(1000000, (target_tokens * 1000000) // n_tokens) AS BIGINT) AS sample_rate_ppm,
        |  CAST((target_tokens * 10000) // n_tokens AS BIGINT) AS epochs_bp,
        |  n_tokens < target_tokens AS deficit
        |FROM tgt ORDER BY domain""".stripMargin,

    "q_dedup_url" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'https://'
        |          WHEN doc_id % 3 = 1 THEN 'http://' ELSE 'HTTPS://www.' END)
        |    || source || '.example.com/page/' || CAST(doc_id % 7 AS VARCHAR)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed'
        |             WHEN doc_id % 4 = 1 THEN '?ref=home&utm_campaign=x'
        |             WHEN doc_id % 4 = 2 THEN '/' ELSE '' END) AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, url,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower(url),
        |      '^https?://', ''), '^www\.', ''), '\?.*$', ''), '/$', '') AS canonical_url
        |  FROM u)
        |SELECT canonical_url, CAST(min(doc_id) AS BIGINT) AS survivor,
        |  CAST(count(*) AS BIGINT) AS n_copies,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_variants
        |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,

    // the mixture executor replays the FULL q_domain_mixture plan CTE
    // chain, then the epoch spine + the two keyMix carve rules — the
    // oracle is the plan→execution agreement proof
    "q_mixture_apply" ->
      s"""WITH pd AS (
        |  SELECT lang AS domain, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(list_filter(string_split(text, ' '), t -> len(t) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM pd),
        |tgt0 AS (
        |  SELECT domain, n_tokens, total_tokens,
        |    CAST(CASE domain WHEN 'en' THEN 2500 WHEN 'zh' THEN 3000 WHEN 'es' THEN 1500
        |                     WHEN 'de' THEN 1500 WHEN 'fr' THEN 1500 ELSE 0 END AS BIGINT) AS target_bp
        |  FROM pd CROSS JOIN tot),
        |plan AS (
        |  SELECT domain,
        |    CAST(least(1000000, ((((total_tokens * 60) // 100) * target_bp) // 10000) * 1000000 // n_tokens) AS BIGINT) AS sample_rate_ppm,
        |    CAST(((((total_tokens * 60) // 100) * target_bp) // 10000) * 10000 // n_tokens AS BIGINT) AS epochs_bp
        |  FROM tgt0),
        |ex AS (
        |  SELECT d.doc_id, p.domain, p.sample_rate_ppm,
        |    p.epochs_bp // 10000 AS full_epochs, p.epochs_bp % 10000 AS frac_bp
        |  FROM documents d JOIN plan p ON d.lang = p.domain),
        |spine AS (
        |  SELECT doc_id, domain, sample_rate_ppm, full_epochs, frac_bp,
        |    CAST(unnest(range(0, full_epochs + 1)) AS BIGINT) AS epoch
        |  FROM ex)
        |SELECT doc_id, domain, epoch FROM spine
        |WHERE epoch < full_epochs
        |   OR (CASE WHEN full_epochs = 0
        |        THEN ${keyMixSql("doc_id")} * 1000000 < sample_rate_ppm * 4294967296
        |        ELSE ${keyMixSql("(doc_id + 1000003 * epoch)")} * 10000 < frac_bp * 4294967296 END)
        |ORDER BY doc_id, epoch""".stripMargin,

    // the cascade chains the three existing oracle blocks: the derived
    // URL + canonicalization chain (q_dedup_url), the exact min-id text
    // rule (q_dedup_exact), and the shared minhash pair CTEs'
    // doc_id_2 removal rule (q_dedup_survivors) — over the augmented
    // base ∪ recrawl ∪ mirror corpus the registration builds. Tier 3's
    // removal is RESTRICTED to pairs whose min-id representative
    // survived tiers 1-2 (r17) — the operator's semi-join, replayed
    // relationally after s2 is available
    "q_dedup_cascade" -> (Similarity.minhashOracleCtes +
      """,
        |all_pairs AS (
        |  SELECT doc_id_1, doc_id_2 FROM cross_pairs
        |  UNION ALL SELECT doc_id_1, doc_id_2 FROM within_pairs),
        |corpus AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, source, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, source || '-m' AS source, text
        |  FROM documents WHERE doc_id % 10 = 5),
        |cu AS (
        |  SELECT doc_id, source, text,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower(
        |      (CASE WHEN doc_id % 3 = 0 THEN 'https://'
        |            WHEN doc_id % 3 = 1 THEN 'http://' ELSE 'HTTPS://www.' END)
        |      || source || '.example.com/page/' || CAST(doc_id % 7 AS VARCHAR)
        |      || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed'
        |               WHEN doc_id % 4 = 1 THEN '?ref=home&utm_campaign=x'
        |               WHEN doc_id % 4 = 2 THEN '/' ELSE '' END)),
        |      '^https?://', ''), '^www\.', ''), '\?.*$', ''), '/$', '') AS canon
        |  FROM corpus),
        |s1 AS (SELECT doc_id, source, text FROM cu
        |       WHERE doc_id IN (SELECT min(doc_id) FROM cu GROUP BY canon)),
        |s2 AS (SELECT doc_id, text FROM s1
        |       WHERE doc_id IN (SELECT min(doc_id) FROM s1 GROUP BY text)),
        |removed AS (SELECT DISTINCT doc_id_2 AS doc_id FROM all_pairs
        |            WHERE doc_id_1 IN (SELECT doc_id FROM s2)),
        |s3 AS (SELECT doc_id FROM s2
        |       WHERE doc_id NOT IN (SELECT doc_id FROM removed))
        |SELECT '1_url' AS tier,
        |  CAST((SELECT count(*) FROM corpus) AS BIGINT) AS n_in,
        |  CAST((SELECT count(*) FROM corpus) - (SELECT count(*) FROM s1) AS BIGINT) AS n_dropped,
        |  CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_out,
        |  CAST((SELECT coalesce(sum(doc_id), 0) FROM s1) AS BIGINT) AS survivor_id_sum
        |UNION ALL
        |SELECT '2_exact' AS tier,
        |  CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_in,
        |  CAST((SELECT count(*) FROM s1) - (SELECT count(*) FROM s2) AS BIGINT) AS n_dropped,
        |  CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_out,
        |  CAST((SELECT coalesce(sum(doc_id), 0) FROM s2) AS BIGINT) AS survivor_id_sum
        |UNION ALL
        |SELECT '3_near' AS tier,
        |  CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_in,
        |  CAST((SELECT count(*) FROM s2) - (SELECT count(*) FROM s3) AS BIGINT) AS n_dropped,
        |  CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_out,
        |  CAST((SELECT coalesce(sum(doc_id), 0) FROM s3) AS BIGINT) AS survivor_id_sum
        |ORDER BY tier""".stripMargin),

    "q_mixture_weights" ->
      """WITH c AS (SELECT source AS stratum, count(*) AS n_docs FROM documents GROUP BY source),
        |t AS (SELECT list_reduce(
        |        list_prepend(0.0, list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY stratum)),
        |        (a, b) -> a + b) AS total FROM c)
        |SELECT stratum, n_docs,
        |  CAST(floor(1000000.0 * sqrt(CAST(n_docs AS DOUBLE)) / total) AS BIGINT) AS weight_ppm,
        |  CAST(floor(1000.0 * sqrt(CAST(n_docs AS DOUBLE)) / total) AS BIGINT) AS target_docs
        |FROM c, t ORDER BY stratum""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH base AS (
        |  SELECT doc_id, lang, n_chars, list_distinct(string_split(text, ' ')) AS shingles
        |  FROM documents
        |)
        |SELECT doc_id_1, doc_id_2, jaccard FROM (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |    round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |          (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard
        |  FROM base a JOIN base b ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.5
        |ORDER BY doc_id_1, doc_id_2""".stripMargin,
    // banded blocking replayed relationally: |Δband| ≤ 1 is the same
    // candidate set the Spark side reaches via the 3-key explode (each
    // qualifying pair meets exactly once there; the abs-join form is
    // the DuckDB-friendly equivalent)
    "q_ngram_jaccard_banded" ->
      """WITH base AS (
        |  SELECT doc_id, lang, CAST(floor(n_chars / 4.0) AS BIGINT) AS blk,
        |         list_distinct(string_split(text, ' ')) AS shingles
        |  FROM documents
        |)
        |SELECT doc_id_1, doc_id_2, jaccard FROM (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |    round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |          (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard
        |  FROM base a JOIN base b ON a.lang = b.lang AND abs(a.blk - b.blk) <= 1 AND a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.5
        |ORDER BY doc_id_1, doc_id_2""".stripMargin,

    // containment replayed relationally: same block join as the jaccard
    // oracles, min-denominator instead of union, directional emit via
    // the same smaller-set/tie-on-id rule
    "q_containment" ->
      """WITH base AS (
        |  SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS shingles
        |  FROM documents
        |)
        |SELECT
        |  CASE WHEN len(sa) < len(sb) THEN doc_id_1
        |       WHEN len(sb) < len(sa) THEN doc_id_2
        |       ELSE least(doc_id_1, doc_id_2) END AS contained_id,
        |  CASE WHEN len(sa) < len(sb) THEN doc_id_2
        |       WHEN len(sb) < len(sa) THEN doc_id_1
        |       ELSE greatest(doc_id_1, doc_id_2) END AS container_id,
        |  containment
        |FROM (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |    a.shingles AS sa, b.shingles AS sb,
        |    round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |          least(len(a.shingles), len(b.shingles)), 4) AS containment
        |  FROM base a JOIN base b
        |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
        |WHERE containment >= 0.8
        |ORDER BY contained_id, container_id""".stripMargin,

    // α=1/2 temperature mixing: sqrt/÷/+ are the only float ops, all
    // IEEE correctly-rounded, and the normalizer folds in domain order
    // on both engines (ordered list_reduce here, sorted-array fold in
    // Spark) — so the ppm floor sees the bit-identical double
    "q_sample_temperature" ->
      s"""WITH c AS (SELECT lang AS domain, CAST(count(*) AS BIGINT) AS n_d
        |           FROM documents GROUP BY 1),
        |z AS (SELECT list_reduce(
        |        list_transform(list(n_d ORDER BY domain),
        |                       x -> sqrt(CAST(x AS DOUBLE))),
        |        (a, b) -> a + b) AS z FROM c),
        |r AS (SELECT domain,
        |        CAST(floor(least(1.0,
        |          400.0 * (sqrt(CAST(n_d AS DOUBLE)) / z)
        |            / CAST(n_d AS DOUBLE)) * 1000000.0) AS BIGINT) AS rate_ppm
        |      FROM c, z)
        |SELECT d.doc_id, d.lang AS domain, r.rate_ppm
        |FROM documents d JOIN r ON d.lang = r.domain
        |WHERE ${keyMixSql("d.doc_id")} * 1000000 < r.rate_ppm * 4294967296
        |ORDER BY d.doc_id""".stripMargin,

    // the Bloom filter only changes the PLAN: the answer is the plain
    // membership anti/left join, which is exactly what replays here
    "q_bloom_dedup" ->
      """SELECT d.doc_id, (r.text IS NOT NULL) AS is_dup
        |FROM (SELECT doc_id, text FROM documents WHERE doc_id >= 250
        |      UNION ALL
        |      SELECT doc_id + 1000000, text FROM documents
        |      WHERE doc_id < 250 AND doc_id % 10 = 0) d
        |LEFT JOIN (SELECT DISTINCT text FROM documents WHERE doc_id < 250) r
        |  USING (text)
        |ORDER BY d.doc_id""".stripMargin,

    // relational replay of the narrow higher-order form: explode chars,
    // group, re-aggregate — every statistic is BIGINT arithmetic so the
    // two engines cannot diverge
    "q_char_diversity" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(replace(text, ' ', ''), '')) AS c
        |            FROM documents),
        |per AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt FROM ch GROUP BY 1, 2),
        |st AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
        |              CAST(count(*) AS BIGINT) AS d,
        |              CAST(sum(cnt * cnt) AS BIGINT) AS s,
        |              CAST(max(cnt) AS BIGINT) AS m
        |       FROM per GROUP BY 1)
        |SELECT doc_id, n AS n_chars_sig, d AS n_distinct,
        |  1000000 * (n * n - s) // (n * n) AS simpson_ppm,
        |  10000 * m // n AS maxfrac_bp,
        |  (1000000 * (n * n - s) // (n * n) >= 920000
        |    AND 10000 * m // n <= 1300) AS keep
        |FROM st ORDER BY doc_id""".stripMargin,

    // the (bucket, shard)-partitioned row_number replays relationally;
    // all statistics are BIGINT
    "q_length_batches" ->
      s"""WITH base AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS BIGINT) AS n_toks,
        |    ${keyMixSql("doc_id")} AS mix
        |  FROM documents),
        |b AS (SELECT doc_id, n_toks, mix, n_toks // 16 AS bucket, mix % 4 AS shard FROM base),
        |r AS (SELECT *, row_number() OVER (PARTITION BY bucket, shard
        |                                   ORDER BY mix, doc_id) - 1 AS pos FROM b)
        |SELECT bucket, shard, pos // 8 AS batch_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(n_toks) AS BIGINT) AS max_toks,
        |  CAST(sum(n_toks) AS BIGINT) AS sum_toks,
        |  CAST(count(*) * max(n_toks) - sum(n_toks) AS BIGINT) AS pad_waste
        |FROM r GROUP BY 1, 2, 3
        |ORDER BY bucket, shard, batch_id""".stripMargin,
  )
}
