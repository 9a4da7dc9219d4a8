package graft.engine.ops

import graft.SparkSuite
import graft.engine.functions.{GraftFunctions, MinHashSignature}
import org.apache.spark.sql.functions._

/** The LSH parameterization contract (r7): minhashNearDup exposes
  * (k, bands, rowsPerBand), and its candidate recall follows the
  * standard S-curve `P = 1 − (1 − J^rows)^bands` — pinned empirically
  * against planted pairs of KNOWN exact Jaccard at three parameter
  * points. Precision needs no pinning: every emitted pair passed the
  * exact-Jaccard verify by construction, so false positives are
  * impossible at any parameter choice (asserted anyway on the planted
  * corpora). Defaults (16, 2×8) are the fixture/oracle contract and
  * must stay byte-stable — the prefix test pins that too.
  *
  * Tolerance is ±0.15 absolute: the affine family `(h·a + b) mod p` is
  * 2-universal, not fully min-wise independent, and its residual
  * cross-component correlation sits observed recall a deterministic
  * ~0.1 below the ideal curve (fixed seed ⇒ no flake). This spec is
  * what caught the r7 modulus bug: the pre-fix family reduced mod
  * 2^61-1, barely wrapped, and measured recall 1.0 at J=0.9 — one
  * effective permutation instead of sixteen (see MinHashSignature's
  * HISTORY note).
  */
class MinHashParamSpec extends SparkSuite {
  import spark.implicits._

  test("signature prefix stability: sig(k=16) is the first 16 components of sig(k=32)") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir).limit(50)
      .select(col("doc_id"),
        call_function("token_set_hashes62", col("text")).as("hsh"))
    val both = docs.select(
        GraftFunctions.minhashSig(spark, col("hsh")).as("s16"),
        GraftFunctions.minhashSig(spark, col("hsh"), 32).as("s32"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(both.nonEmpty)
    both.foreach { case (s16, s32) =>
      assert(s16.length == 16 && s32.length == 32)
      assert(s32.take(16) == s16, "the perm family must be one prefix-stable stream")
    }
  }

  /** Planted corpus: `n` disjoint pairs, each with exact Jaccard
    * `s / (2m − s)` (docs 2i and 2i+1 share s of their m tokens; token
    * universes are disjoint across pairs, so cross-pair Jaccard is 0). */
  private def plantedPairs(n: Int, m: Int, s: Int) = {
    val rows = (0 until n).flatMap { i =>
      val base = i * 1000
      val a = (0 until m).map(t => s"t${base + t}")
      val b = (0 until s).map(t => s"t${base + t}") ++
              (0 until (m - s)).map(t => s"t${base + 500 + t}")
      Seq((2L * i, a.mkString(" ")), (2L * i + 1, b.mkString(" ")))
    }
    rows.toDF("doc_id", "text")
  }

  /** Observed candidate recall of the banded path on a planted corpus:
    * threshold == the planted exact Jaccard, so the exact verify keeps
    * every banded true pair and recall isolates the banding. */
  private def recallAt(n: Int, m: Int, s: Int,
                       k: Int, bands: Int, rows: Int): Double = {
    val j = s.toDouble / (2 * m - s)
    val pairs = Similarity.minhashNearDup(
        Similarity.tokenSetGroups(plantedPairs(n, m, s), "doc_id", "text"),
        threshold = j - 0.0001, ordered = false, k = k, bands = bands, rowsPerBand = rows)
      .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect()
    // precision is exact by construction: only planted pairs can verify
    assert(pairs.forall { case (a, b) => b == a + 1 && a % 2 == 0 },
      s"no cross-pair candidate may survive the exact verify: ${pairs.toSeq}")
    pairs.length.toDouble / n
  }

  private def sCurve(j: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, rows), bands)

  test("S-curve: default 2x8 banding at J=0.9 matches 1-(1-J^8)^2") {
    // m=19, s=18 -> J = 18/20 = 0.9 exactly
    val obs = recallAt(200, 19, 18, 16, 2, 8)
    val exp = sCurve(0.9, 2, 8) // ~0.675
    assert(math.abs(obs - exp) < 0.15,
      s"observed recall $obs must sit on the S-curve $exp (2x8, J=0.9)")
  }

  test("S-curve: k=32 with 4x8 banding lifts recall at J=0.9 as the curve predicts") {
    val obs = recallAt(200, 19, 18, 32, 4, 8)
    val exp = sCurve(0.9, 4, 8) // ~0.894
    assert(math.abs(obs - exp) < 0.15,
      s"observed recall $obs must sit on the S-curve $exp (4x8, J=0.9)")
    assert(obs > recallAt(200, 19, 18, 16, 2, 8),
      "more bands must not lower recall at fixed J")
  }

  test("S-curve: shorter bands (4x4) dominate 2x8 at J=0.7, both on-curve") {
    // m=17, s=14 -> J = 14/20 = 0.7 exactly
    val obs44 = recallAt(200, 17, 14, 16, 4, 4)
    val obs28 = recallAt(200, 17, 14, 16, 2, 8)
    val exp44 = sCurve(0.7, 4, 4) // ~0.667
    val exp28 = sCurve(0.7, 2, 8) // ~0.112
    assert(math.abs(obs44 - exp44) < 0.15, s"4x4 at J=0.7: $obs44 vs $exp44")
    assert(math.abs(obs28 - exp28) < 0.15, s"2x8 at J=0.7: $obs28 vs $exp28")
    assert(obs44 > obs28 + 0.3,
      "fewer rows per band must sharply lift recall below the 2x8 knee")
  }

  test("defaults are the hardwired behavior: explicit (16, 2, 8) equals the default call") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    val groups = Similarity.tokenSetGroups(docs, "doc_id", "text")
    val d = Similarity.minhashNearDup(groups, 0.9, ordered = false)
      .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
    val e = Similarity.minhashNearDup(groups, 0.9, ordered = false,
        k = 16, bands = 2, rowsPerBand = 8)
      .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
    assert(d == e && d.nonEmpty)
  }

  // every banded entry point rejects a mismatched design at construction;
  // past the signature element_at reads null (ANSI off), so an unguarded
  // entry point would silently band a different slice of the signature
  test("bands x rowsPerBand must equal k") {
    val docs = plantedPairs(2, 19, 18)
    val groups = Similarity.tokenSetGroups(docs, "doc_id", "text")
    val entryPoints = Seq[(String, () => Any)](
      "minhashNearDup" -> (() => Similarity.minhashNearDup(groups,
        0.5, k = 16, bands = 3, rowsPerBand = 8)),
      "minhashEstimate" -> (() => Similarity.minhashEstimate(groups,
        0.5, k = 16, bands = 3, rowsPerBand = 8)),
      "minhashBandedIndex" -> (() => Similarity.minhashBandedIndex(docs, "doc_id", "text",
        k = 16, bands = 3, rowsPerBand = 8)),
      "minhashNearDupIncremental" -> (() => Similarity.minhashNearDupIncremental(
        docs.filter(col("doc_id") < 2), docs.filter(col("doc_id") >= 2), "doc_id", "text",
        0.5, k = 16, bands = 3, rowsPerBand = 8)),
      "streamingNearDupLsh" -> (() => graft.engine.stream.Streams.streamingNearDupLsh(
        docs.withColumn("ts", current_timestamp()), "text",
        k = 16, bands = 3, rowsPerBand = 8)))
    entryPoints.foreach { case (name, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("must equal k"), s"$name: ${e.getMessage}")
    }
  }

  // index maintenance: the merged index must be indistinguishable from a
  // from-scratch rebuild over the union corpus, at every boundary case
  test("index merge contract: merge(build(ref), delta) == build(ref UNION delta); empty delta is identity") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("band"), col("bkey"), col("rep"), col("sz"),
          col("hsh"), col("members"))
        .collect().map(_.toSeq.map {
          case a: Seq[_] => a.toVector
          case x => x
        }.toVector).toSet
    val ref = docs.filter(col("doc_id") < 250)
    val delta = docs.filter(col("doc_id") >= 250)
    val refIdx = Similarity.minhashBandedIndex(ref, "doc_id", "text")
    val merged = Similarity.minhashIndexMerge(refIdx, delta, "doc_id", "text")
    val scratch = Similarity.minhashBandedIndex(docs, "doc_id", "text")
    assert(canon(merged) == canon(scratch),
      "merged index must equal the union corpus rebuilt from scratch")
    // empty delta: maintenance over a quiet day must be the identity
    val quiet = Similarity.minhashIndexMerge(refIdx, delta.filter(lit(false)),
      "doc_id", "text")
    assert(canon(quiet) == canon(refIdx))
    // replaying the same delta (a retried batch) must not change the index
    val replay = Similarity.minhashIndexMerge(merged, delta, "doc_id", "text")
    assert(canon(replay) == canon(scratch), "merge must be idempotent under replay")
  }
}
