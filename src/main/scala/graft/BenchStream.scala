package graft

import graft.engine.GraftSession
import graft.engine.stream.StreamBench

/** Streaming-overhead bench main: measures the per-trigger offset+commit
  * bookkeeping of the production landing path against BASELINE.md's one
  * hard reference figure (~18 ms/batch ZK offset write, R:149–152) and
  * writes the committed artifact `BENCH_STREAM.json`. Prints ONE JSON
  * line as the final stdout line (same contract as [[Bench]]). */
object BenchStream {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val measured = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "40").toInt
    val spark = GraftSession.local(cpus)
    def tmp(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"graft-sbench-$tag").toString
    val s = StreamBench.measure(spark, measured, warmup = 5,
      sinkDir = tmp("sink"), ckptDir = tmp("ckpt"), mirrorDir = tmp("mirror"))
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def stats(xs: Seq[Double]): String =
      s"""{"p50":${fmt(StreamBench.pct(xs, 50))},"p95":${fmt(StreamBench.pct(xs, 95))},"max":${fmt(if (xs.isEmpty) Double.NaN else xs.max)}}"""
    // second section (r10 verdict #9): the stateful tier's own budget —
    // the streaming LSH dedup operator on RocksDB at a declared rate.
    // r11 verdict item 4 widened it into a LADDER: the same series at
    // 1×/3×/10× the arrival rate (and therefore ~1×/3×/10× final state
    // rows), with the ScaleCheck-style flag rule declared below.
    val docsPerTrigger =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS_PER_TRIGGER", "200").toInt
    val ladderRates = Seq(docsPerTrigger, 3 * docsPerTrigger, 10 * docsPerTrigger)
    val ladder = ladderRates.map { rate =>
      rate -> StreamBench.measureStateful(spark, measured, warmup = 5,
        rate, ckptDir = tmp(s"stateckpt-$rate"))
    }
    val st = ladder.head._2
    // Two declared flag rules (ScaleCheck's flagged_norm discipline),
    // because a store-proportional cost hides from either alone:
    //  - CROSS-RUNG: normalized slope = (trigger p50 ratio) ÷ (rate
    //    ratio) between rungs. Catches per-doc cost growing with the
    //    arrival rate (super-linear batch work). But state also scales
    //    with rate across rungs, so cost ∝ store ALSO scores ~1.0 here.
    //  - WITHIN-RUN: at FIXED rate the store grows ~(warmup+measured)×
    //    across a run, so growth = p50(last 10 triggers) ÷ p50(first 10
    //    measured triggers) isolates store-dependence: batch-
    //    proportional cost scores ~1.0, a full-store scan tracks the
    //    state and scores ≫ 1.
    // Either metric past 1.6 flags its rung.
    val normSlopes = ladder.sliding(2).collect {
      case Seq((r1, s1), (r2, s2)) =>
        (r2, (StreamBench.pct(s2.trigger, 50) / StreamBench.pct(s1.trigger, 50)) /
          (r2.toDouble / r1))
    }.toSeq
    val flagged = normSlopes.collect { case (r, sl) if sl > 1.6 => r }
    // within-run metric guard (r13 ADVICE): the first-10/last-10
    // windows only measure growth when they don't overlap — under 20
    // measured triggers the ratio is vacuously ~1.0 and the flag is
    // silently green. Skip (and say so in the JSON) instead.
    val inRunValid = measured >= 20
    val inRunGrowth =
      if (inRunValid)
        ladder.map { case (r, s) =>
          (r, StreamBench.pct(s.trigger.takeRight(10), 50) /
            StreamBench.pct(s.trigger.take(10), 50))
        }
      else Seq.empty
    val flaggedInRun = inRunGrowth.collect { case (r, g) if g > 1.6 => r }
    // STATE-GROWTH ladder (r13 verdict item 6): the rate ladder varies
    // arrival rate at ~12k–90k final state rows; the 100 TB question is
    // standing-REGISTRY growth. Run the TOP rung (10× rate) for ~10×
    // the batches so the RocksDB LSH band store grows well past 100k
    // rows, then key trigger cost by STORE SIZE: quartile the measured
    // series, report each quartile's trigger p50 against the state-row
    // count it ended at, and flag drift (last-quartile p50 ÷ first-
    // quartile p50 > 1.6 — a full-store-scan cost tracks the store and
    // trips this; per-batch cost stays flat as the store grows 4×
    // within the run on top of the rate ladder's 8× head start).
    // r16: sections are individually SKIPPABLE (env batches = 0) and
    // merge forward from the prior committed artifact — so a targeted
    // quiet-window re-measurement of ONE long section (the r15 verdict's
    // 400-batch state-growth adjudication) doesn't have to re-pay every
    // other ladder, and a skipped section's prior evidence is preserved
    // verbatim instead of silently vanishing (the r15 ADVICE finding on
    // the dropped line-registry rung, generalized).
    lazy val priorArtifact: Option[org.json4s.JValue] = try {
      val p = java.nio.file.Paths.get("BENCH_STREAM.json")
      if (!java.nio.file.Files.exists(p)) None
      else Some(org.json4s.jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)))
    } catch { case _: Throwable => None }
    def priorSection(name: String): Option[String] =
      priorArtifact.map(_ \ name).collect {
        case o: org.json4s.JObject => org.json4s.jackson.JsonMethods.compact(o)
      }
    val growthBatches = sys.env.getOrElse(
      "SPARK_GRAFT_STREAM_GROWTH_BATCHES", (10 * measured).toString).toInt
    val stateGrowthJson: String = if (growthBatches > 0) {
      val grow = StreamBench.measureStateful(spark, growthBatches, warmup = 5,
        10 * docsPerTrigger, ckptDir = tmp("stateckpt-growth"))
      val quartiles = {
        val n = grow.trigger.size
        (0 until 4).map { i =>
          val lo = i * n / 4; val hi = (i + 1) * n / 4
          (grow.stateRowsSeries.slice(lo, hi).lastOption.getOrElse(0L),
            StreamBench.pct(grow.trigger.slice(lo, hi), 50))
        }
      }
      val growthDrift =
        if (quartiles.head._2 > 0) quartiles.last._2 / quartiles.head._2
        else Double.NaN
      s"""{"docs_per_trigger":${10 * docsPerTrigger},""" +
      s""""n_batches":${grow.nBatches},"final_state_rows":${grow.stateRows},""" +
      s""""pairs_emitted":${grow.pairsEmitted},""" +
      s""""quartiles":[${quartiles.map { case (rows, p50) =>
        s"""{"state_rows":$rows,"trigger_p50":${fmt(p50)}}"""
      }.mkString(",")}],""" +
      s""""flag_rule":"last-quartile trigger p50 / first-quartile > 1.6",""" +
      s""""drift":${fmt(growthDrift)},"flagged":${growthDrift > 1.6}}"""
    } else priorSection("state_growth").getOrElse(
      sys.error("state_growth skipped but no prior artifact section to merge forward"))
    // LINE-REGISTRY growth — the OTHER standing store named by the r13
    // item (the LSH band store above lives in RocksDB; the exact line
    // registry lives in executor blocks via LineDedupMaintenance).
    // Deterministic multi-line docs ingest batch-by-batch through the
    // reflow face; per-ingest wall clock quartiles against the standing
    // registry row count. Exact dedup probes the whole registry per
    // batch (the anti-join's build side), so RAW drift tracks the store
    // by design — the flag is the NORMALIZED drift: per-registry-row
    // ingest time must not grow (superlinear-in-store = a rewrite bug,
    // e.g. re-checkpointing the full registry every batch).
    val lrBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_LINEREG_BATCHES", "120").toInt
    // r15 verdict item 5: the amortized-compaction claim is about
    // UNBOUNDED store growth, so the section is now a RUNG LADDER —
    // the standard rung plus an env-gated extended rung one decade up
    // (≥1M registry rows at 1200 batches). The extended rung is run
    // once per plan change (SCALECHECK chunking discipline) and MERGED
    // forward: on write, prior rungs whose batch count was not
    // re-measured in this run are preserved from the existing artifact.
    val lrExtBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_LINEREG_EXT_BATCHES", "0").toInt
    val lrDocsPerBatch = 300
    def lrRun(batches: Int): (Seq[(Long, Double)], Double, Double, Boolean) = {
      val lrMaint = new graft.engine.stream.Streams.LineDedupMaintenance(
        "doc_id", "text", applyFilters = true)
      val lrTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
      val lrRows = scala.collection.mutable.ArrayBuffer.empty[Long]
      locally {
        import spark.implicits._
        var lid = 0L
        (1 to batches).foreach { _ =>
          val docs = (1 to lrDocsPerBatch).map { _ =>
            lid += 1
            val lines = (1 to 5).map { j =>
              if ((lid + j) % 11 == 0) "all rights reserved."
              else s"fresh line $lid $j with payload tokens."
            }
            (lid, lines.mkString("\n"))
          }.toDF("doc_id", "text")
          val t0 = System.nanoTime()
          lrMaint.ingest(docs)
          lrTimes += (System.nanoTime() - t0) / 1e6
          // row count recorded UNTIMED every batch so the quartile row
          // markers derive from the exact slice bounds used for lrTimes
          // (the pre-r15 modulo marker misaligned when batches % 4 != 0)
          lrRows += lrMaint.standingLines.get.count()
        }
      }
      // each quartile pairs its p50 ingest time with the MID-quartile
      // registry row count: the median time reflects the store size at
      // the middle of the window, so normalizing by the quartile-END
      // rows understated Q1's per-row cost ~4x more than Q4's — a
      // healthy linear store scan read drift_norm ≈ (7/8)/(1/2) ≈ 1.75
      // and false-flagged once scan cost dominates the per-batch floor
      val quartiles = (0 until 4).map { i =>
        val lo = i * batches / 4; val hi = (i + 1) * batches / 4
        val mid = math.min(lrRows.size - 1, (lo + hi - 1) / 2)
        (if (mid >= 0) lrRows(mid) else 0L,
          StreamBench.pct(lrTimes.slice(lo, hi).toSeq, 50))
      }
      val driftRaw =
        if (quartiles.head._2 > 0) quartiles.last._2 / quartiles.head._2
        else Double.NaN
      // normalized: per-registry-row p50 in Q4 vs Q1 (mid-quartile rows)
      val driftNorm =
        if (quartiles.head._1 > 0 && quartiles.head._2 > 0)
          (quartiles.last._2 / quartiles.last._1) /
            (quartiles.head._2 / quartiles.head._1)
        else Double.NaN
      (quartiles, driftRaw, driftNorm, driftNorm > 1.3)
    }
    val lrRungBatches = (if (lrBatches > 0) Seq(lrBatches) else Nil) ++
      (if (lrExtBatches > 0) Seq(lrExtBatches) else Nil)
    val lrRungs: Seq[(Int, (Seq[(Long, Double)], Double, Double, Boolean))] =
      lrRungBatches.map(b => b -> lrRun(b))
    def lrRungJson(b: Int, r: (Seq[(Long, Double)], Double, Double, Boolean)): String =
      s"""{"n_batches":$b,"docs_per_batch":$lrDocsPerBatch,""" +
      s""""quartiles":[${r._1.map { case (rows, p50) =>
        s"""{"registry_rows_mid":$rows,"ingest_p50_ms":${fmt(p50)}}"""
      }.mkString(",")}],""" +
      s""""drift_raw":${fmt(r._2)},"drift_norm":${fmt(r._3)},"flagged":${r._4}}"""
    // merge-forward: preserve prior artifact rungs not re-measured now.
    // A prior artifact in the pre-rung FLAT schema (quartiles directly
    // under the section) is lifted into a rung instead of dropped —
    // the r15 ADVICE finding on the silently-lost baseline rung.
    def priorRungs(section: String): Seq[(Int, String)] =
      priorArtifact.toSeq.flatMap { pa =>
        import org.json4s._
        (pa \ section \ "rungs", pa \ section \ "n_batches") match {
          case (JArray(rs), _) => rs.flatMap { r =>
            r \ "n_batches" match {
              case JInt(n) => Some(n.toInt ->
                org.json4s.jackson.JsonMethods.compact(r))
              case _ => None
            }
          }
          case (_, JInt(n)) => // flat prior schema → lift as one rung
            (pa \ section) match {
              case o: JObject => Seq(n.toInt ->
                org.json4s.jackson.JsonMethods.compact(o))
              case _ => Seq.empty
            }
          case _ => Seq.empty
        }
      }
    val lrMergedRungs: Seq[String] =
      (priorRungs("line_registry_growth").toMap ++
        lrRungs.map { case (b, r) => b -> lrRungJson(b, r) })
        .toSeq.sortBy(_._1).map(_._2)
    // the flag recomputes over the MERGED rung set (a preserved rung's
    // flag must not vanish just because it wasn't re-measured)
    val flaggedLineReg = lrMergedRungs.exists(_.contains("\"flagged\":true"))
    // CLUSTER-TABLE growth ladder (r15 verdict item 1): the standing
    // (id, cluster) table now rides the UpsertFrame versioned-upsert
    // discipline — the per-batch write is ccIncremental's changed
    // slice, the standing value a latest-per-key resolve. Synthetic
    // near-dup docs (every 5th doc repeats an earlier doc's text, so
    // bands collide, edges form and labels move) ingest batch-by-batch
    // through ClusterMaintenance; per-ingest wall clock quartiled by
    // the standing id count. RAW drift tracks the corpus by design at
    // harness scale (the incremental probe re-minhashes the standing
    // corpus each batch — at 100 TB that side is the persisted banded
    // index); the flag is the NORMALIZED per-standing-id drift, which
    // a superlinear store cost (e.g. re-checkpointing the whole table
    // per batch AND re-reading it through the resolve) would trip.
    // r16 (verdict item 2): the section is now a RUNG LADDER like
    // line_registry_growth — the standard 48-batch rung plus an
    // env-gated extended rung a decade up (~480 batches, the depth at
    // which the checkpoint-release leak bit at ~900 and the stats-squaring bug
    // at ~30), merged forward across runs.
    val ctBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_CLUSTER_BATCHES", "48").toInt
    val ctExtBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_CLUSTER_EXT_BATCHES", "0").toInt
    // r17 (the r16 §7.3 recipe): the decade rung's probe mass is
    // env-sizable so 480 batches fit a round window — the r16 attempt
    // at 200 docs/batch was killed unfinished at 3h20m because the
    // harness-scale probe re-minhashes the standing corpus per batch,
    // making the rung's total ~quadratic in (batches × docs). Each rung
    // records its own docs_per_batch and its drift is within-rung, so
    // mixed-mass rungs stay comparable.
    val ctDocsPerBatch = sys.env.getOrElse("SPARK_GRAFT_STREAM_CLUSTER_DOCS", "200").toInt
    def ctRun(batches: Int): (Seq[(Long, Double)], Double, Double, Boolean) = {
      val ctMaint = new graft.engine.stream.Streams.ClusterMaintenance(
        "doc_id", "text", 0.8)
      val ctTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
      val ctIds = scala.collection.mutable.ArrayBuffer.empty[Long]
      locally {
        import spark.implicits._
        var cid = 0L
        (1 to batches).foreach { bi =>
          val docs = (1 to ctDocsPerBatch).map { _ =>
            cid += 1
            // cid % 5 == 0 → anchor ≡ 4 (mod 5), so the anchor doc itself
            // was NOT a dup and this text exactly repeats it: one
            // cross-batch near-dup edge per dup doc, distinct anchors
            val anchor = if (cid % 5 == 0 && cid > 41) cid - 41 else cid
            (cid, s"shared shingle run alpha beta gamma delta epsilon zeta " +
              s"eta theta iota kappa payload $anchor tail ${anchor % 7}")
          }.toDF("doc_id", "text")
          val t0 = System.nanoTime()
          ctMaint.ingest(docs, bi.toLong)
          ctTimes += (System.nanoTime() - t0) / 1e6
          // standing id count recorded UNTIMED every batch (drives the
          // mid-quartile row markers, same discipline as line_registry)
          ctIds += ctMaint.current.get.count()
        }
      }
      val quartiles = (0 until 4).map { i =>
        val lo = i * batches / 4; val hi = (i + 1) * batches / 4
        val mid = math.min(ctIds.size - 1, (lo + hi - 1) / 2)
        (if (mid >= 0) ctIds(mid) else 0L,
          StreamBench.pct(ctTimes.slice(lo, hi).toSeq, 50))
      }
      val driftRaw =
        if (quartiles.head._2 > 0) quartiles.last._2 / quartiles.head._2
        else Double.NaN
      val driftNorm =
        if (quartiles.head._1 > 0 && quartiles.head._2 > 0)
          (quartiles.last._2 / quartiles.last._1) /
            (quartiles.head._2 / quartiles.head._1)
        else Double.NaN
      (quartiles, driftRaw, driftNorm, driftNorm > 1.3)
    }
    def ctRungJson(b: Int, r: (Seq[(Long, Double)], Double, Double, Boolean)): String =
      s"""{"n_batches":$b,"docs_per_batch":$ctDocsPerBatch,""" +
      s""""quartiles":[${r._1.map { case (ids, p50) =>
        s"""{"standing_ids_mid":$ids,"ingest_p50_ms":${fmt(p50)}}"""
      }.mkString(",")}],""" +
      s""""drift_raw":${fmt(r._2)},"drift_norm":${fmt(r._3)},"flagged":${r._4}}"""
    val ctRungBatches = (if (ctBatches > 0) Seq(ctBatches) else Nil) ++
      (if (ctExtBatches > 0) Seq(ctExtBatches) else Nil)
    val ctMergedRungs: Seq[String] =
      (priorRungs("cluster_table_growth").toMap ++
        ctRungBatches.map(b => b -> ctRungJson(b, ctRun(b))))
        .toSeq.sortBy(_._1).map(_._2)
    val flaggedClusterTable = ctMergedRungs.exists(_.contains("\"flagged\":true"))
    val budgetMs = 18.0
    val line =
      s"""{"metric":"stream_trigger_overhead","unit":"ms","n_batches":${s.nBatches},""" +
      s""""budget_ms":${fmt(budgetMs)},""" +
      s""""mirror_write":${stats(s.mirrorWrite)},""" +
      s""""offset_wal":${stats(s.offsetWal)},""" +
      s""""commit_log":${stats(s.commitLog)},""" +
      s""""bookkeeping":${stats(s.bookkeeping)},""" +
      s""""add_batch":${stats(s.addBatch)},""" +
      s""""trigger":${stats(s.trigger)},""" +
      s""""mirror_within_budget":${StreamBench.pct(s.mirrorWrite, 50) <= budgetMs},""" +
      s""""bookkeeping_within_2x_budget":${StreamBench.pct(s.bookkeeping, 50) <= 2 * budgetMs},""" +
      s""""stateful_lsh_rocksdb":{"docs_per_trigger":$docsPerTrigger,""" +
      s""""n_batches":${st.nBatches},"trigger":${stats(st.trigger)},""" +
      s""""add_batch":${stats(st.addBatch)},"state_commit":${stats(st.stateCommit)},""" +
      s""""state_rows":${st.stateRows},"pairs_emitted":${st.pairsEmitted}},""" +
      s""""stateful_ladder":{"rates":[${ladderRates.mkString(",")}],""" +
      s""""rungs":[${ladder.map { case (r, s) =>
        s"""{"docs_per_trigger":$r,"trigger":${stats(s.trigger)},""" +
        s""""state_commit":${stats(s.stateCommit)},"state_rows":${s.stateRows},""" +
        s""""pairs_emitted":${s.pairsEmitted}}"""
      }.mkString(",")}],""" +
      s""""norm_slopes":[${normSlopes.map { case (r, sl) =>
        s"""{"docs_per_trigger":$r,"norm_slope":${fmt(sl)}}"""
      }.mkString(",")}],""" +
      s""""inrun_growth":[${inRunGrowth.map { case (r, g) =>
        s"""{"docs_per_trigger":$r,"growth":${fmt(g)}}"""
      }.mkString(",")}],""" +
      s""""inrun_metric_skipped":${!inRunValid},""" +
      (if (inRunValid) ""
       else s""""inrun_skip_reason":"measured=$measured < 20: first-10/last-10 windows overlap",""") +
      s""""flag_rule":"cross-rung: trigger p50 ratio / rate ratio > 1.6; within-run: last-10 p50 / first-10 p50 > 1.6",""" +
      s""""flagged":[${flagged.mkString(",")}],""" +
      s""""flagged_inrun":[${flaggedInRun.mkString(",")}]},""" +
      s""""state_growth":$stateGrowthJson,""" +
      s""""line_registry_growth":{""" +
      s""""flag_rule":"per rung: normalized per-registry-row Q4/Q1 p50 > 1.3, rows at mid-quartile (raw drift tracks the store by design: exact dedup probes the registry per batch); rungs not re-measured this run merge forward from the prior artifact",""" +
      s""""rungs":[${lrMergedRungs.mkString(",")}],""" +
      s""""flagged":$flaggedLineReg},""" +
      s""""cluster_table_growth":{""" +
      s""""flag_rule":"per rung: normalized per-standing-id Q4/Q1 ingest p50 > 1.3, ids at mid-quartile (raw drift tracks the corpus by design: the harness-scale probe re-minhashes the standing corpus per batch); rungs not re-measured this run merge forward from the prior artifact",""" +
      s""""rungs":[${ctMergedRungs.mkString(",")}],""" +
      s""""flagged":$flaggedClusterTable}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_STREAM.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    println(line)
    System.out.flush()
  }
}
