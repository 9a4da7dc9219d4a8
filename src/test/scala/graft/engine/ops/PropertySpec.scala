package graft.engine.ops

import graft.SparkSuite
import graft.engine.functions.SortedLongIntersectSize
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based algebraic laws (SURVEY §5.2 item 4) via scalacheck.
  * Pure-expression laws run many iterations; laws needing Spark jobs run
  * fewer (each iteration is a full job). */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private def check(label: String, iters: Int)(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(iters), p)
    assert(res.passed, s"$label: ${res.status}")
  }

  private val sortedSet: Gen[Array[Long]] =
    Gen.listOf(Gen.chooseNum(-500L, 500L)).map(_.distinct.sorted.toArray)

  test("sorted_intersect_size equals set-intersection cardinality (expression eval, 200 iters)") {
    check("intersect", 200)(Prop.forAll(sortedSet, sortedSet) { (a, b) =>
      val expr = SortedLongIntersectSize(
        Literal(new GenericArrayData(a), ArrayType(LongType)),
        Literal(new GenericArrayData(b), ArrayType(LongType)))
      expr.eval(null).asInstanceOf[Int] == a.toSet.intersect(b.toSet).size
    })
  }

  // r13: the multi-line derivation behind the whole C4 line family —
  // replayed here as a pure-Scala reference so the Spark slice/ceil/
  // modular arithmetic is pinned at every awkward length (n < W,
  // n == W, n == kW, n == kW+1), not just the fixture's
  private val randomDocForLines: Gen[List[(Long, String)]] =
    Gen.listOfN(12, Gen.zip(Gen.chooseNum(0L, 5000L),
        Gen.chooseNum(0, 23).flatMap(n =>
          Gen.listOfN(n, Gen.oneOf("alpha", "bravo", "charlie", "delta", "x"))
            .map(_.mkString(" ")))))
      .map(_.groupBy(_._1).map(_._2.head).toList)
      .suchThat(_.nonEmpty)

  private def mlReference(docId: Long, text: String): Seq[(Long, Long, String)] = {
    val toks = text.split(" ").filter(_.nonEmpty)
    if (toks.isEmpty) Seq.empty
    else {
      val w = (4 + docId % 5).toInt
      val nLines = math.ceil(toks.length.toDouble / w).toLong
      (1L to nLines).map { j =>
        val b = (docId + 3 * j) % 13
        val p = (docId + j) % 5
        val line =
          if (b == 0) "all rights reserved."
          else if (b == 1) "click here to subscribe to our newsletter"
          else toks.slice(((j - 1) * w).toInt, (j * w).toInt).mkString(" ") +
            (if (p <= 2) "." else if (p == 3) "!" else "")
        (docId, j, line)
      }
    }
  }

  test("mlLines equals the pure-Scala reference segmentation on random docs (5 iters)") {
    check("mllines", 5)(Prop.forAll(randomDocForLines) { docs =>
      val got = Lines.mlLines(docs.toDF("doc_id", "text"), "doc_id", "text")
        .as[(Long, Long, String)].collect().toSet
      val expect = docs.flatMap { case (id, t) => mlReference(id, t) }.toSet
      got == expect
    })
  }

  private val smallRows: Gen[List[(Int, Double)]] =
    Gen.listOfN(60, Gen.zip(Gen.chooseNum(0, 8), Gen.chooseNum(-100.0, 100.0)))

  test("unionAll is bag-additive in count") {
    check("union", 5)(Prop.forAll(smallRows, smallRows) { (xs, ys) =>
      val a = xs.toDF("k", "v"); val b = ys.toDF("k", "v")
      a.unionAll(b).count() == xs.length + ys.length
    })
  }

  test("dropDuplicates is idempotent and bounded by the key space") {
    check("dedup", 5)(Prop.forAll(smallRows) { xs =>
      val df = xs.toDF("k", "v")
      val once = df.dropDuplicates("k")
      once.count() == once.dropDuplicates("k").count() &&
        once.count() == xs.map(_._1).distinct.length
    })
  }

  test("row_number over any partition/order is a 1..n permutation per key") {
    check("rownum", 5)(Prop.forAll(smallRows) { xs =>
      Prop.passed.label("trivial") // guard empty
      val df = xs.toDF("k", "v")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("v")
      val bad = df.withColumn("rn", row_number().over(w))
        .groupBy("k").agg(count(lit(1)).as("n"), max("rn").as("mx"), countDistinct("rn").as("d"))
        .filter(col("mx") =!= col("n") || col("d") =!= col("n")).count()
      bad == 0L
    })
  }

  test("rollup row count = groups + distinct first key + 1 (no-null keys)") {
    check("rollup", 5)(Prop.forAll(smallRows) { xs =>
      val df = xs.toDF("k", "v").withColumn("k2", pmod(col("v").cast("int"), lit(3)))
      val groups = df.select("k", "k2").distinct().count()
      val k1s = df.select("k").distinct().count()
      df.rollup("k", "k2").agg(count(lit(1))).count() == groups + k1s + 1
    })
  }

  test("cosine(v, v) = 1 for any non-zero vector") {
    val vec: Gen[List[Double]] =
      Gen.listOfN(16, Gen.chooseNum(0.1, 10.0)) // bounded away from zero
    check("cosine", 5)(Prop.forAll(Gen.listOfN(20, vec)) { vs =>
      val df = vs.map(v => Tuple1(v.toArray)).toDF("e")
      val dotc = aggregate(zip_with(col("e"), col("e"), (x, y) => x * y), lit(0.0), (a, x) => a + x)
      val err = df.select(max(abs(dotc / (sqrt(dotc) * sqrt(dotc)) - 1.0))).head().getDouble(0)
      err < 1e-9
    })
  }

  test("hash sample is a deterministic pure function of the key") {
    check("sample", 5)(Prop.forAll(Gen.listOfN(100, Gen.chooseNum(0L, 100000L))) { ks =>
      val df = ks.distinct.toDF("k")
      val f = TextPipeline.keyBucket(col("k")) < 10
      val a = df.filter(f).as[Long].collect().sorted.toSeq
      val b = df.repartition(7).filter(f).as[Long].collect().sorted.toSeq
      a == b // invariant to physical layout — TABLESAMPLE is not
    })
  }

  test("overflow-safe split bucket equals the wrapped multiply for every key, incl. past 3.47e9") {
    // Java's long multiply wraps mod 2^64, which preserves residues mod
    // 2^32 — so the two-step form must agree with the single wrapped
    // multiply on ALL keys, while keeping every intermediate (and the
    // DuckDB replay's) under 2^63. Probe the full long range plus the
    // exact overflow frontier 2^63 / 2654435761 ≈ 3.47e9.
    check("bucket-equiv", 5)(Prop.forAll(
        Gen.listOfN(200, Gen.oneOf(Gen.chooseNum(0L, Long.MaxValue),
          Gen.chooseNum(3471810556L, 3471810560L)))) { ks =>
      val df = ks.distinct.toDF("k")
      val wrapped = pmod(pmod(col("k") * lit(2654435761L), lit(4294967296L)), lit(100))
      df.select(TextPipeline.keyBucket(col("k")).as("safe"), wrapped.as("w"))
        .filter(col("safe") =!= col("w")).count() == 0
    })
  }

  test("fixedSample: exact budget, pure function of the key set, layout-independent") {
    check("fixed-sample", 5)(Prop.forAll(
        Gen.listOf(Gen.chooseNum(0L, 100000L)).map(_.distinct)) { ids =>
      val df = ids.toDF("k")
      val a = TextPipeline.fixedSample(df, "k", 10).as[Long].collect().toSeq
      // shuffled layout, same key set -> byte-identical sample
      val b = TextPipeline.fixedSample(df.repartition(7), "k", 10)
        .as[Long].collect().toSeq
      a == b && a.length == math.min(10, ids.length) && a == a.sorted
    })
  }

  test("winnowing guarantee: a shared run of >= w+k-1 tokens yields a shared fingerprint") {
    // k=5, w=4 (the fixture binding's params): any identical token run
    // of >= 8 tokens spans >= 4 consecutive equal gram hashes, so some
    // window lies entirely inside the run in BOTH docs and selects the
    // same rightmost-minimal hash — the SWA winnowing theorem
    val tokGen = Gen.chooseNum(0, 25).map(i => s"t$i")
    check("winnow-guarantee", 5)(Prop.forAll(
        Gen.listOfN(30, tokGen), Gen.listOfN(30, tokGen),
        Gen.chooseNum(8, 14).flatMap(n => Gen.listOfN(n, tokGen))) {
      (preA, sufB, shared) =>
        val a = (preA ++ shared).mkString(" ")
        val b = (shared ++ sufB).mkString(" ")
        val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
        val fps = TextPipeline.winnowFingerprints(df, "doc_id", "text")
          .select("doc_id", "fp").as[(Long, Long)].collect()
        val s1 = fps.filter(_._1 == 1L).map(_._2).toSet
        val s2 = fps.filter(_._1 == 2L).map(_._2).toSet
        (s1 & s2).nonEmpty
    })
  }

  test("chunking covers every token exactly once per stride window; packing respects the budget") {
    val docGen = Gen.chooseNum(1, 120).map(n => (1 to n).map(i => s"t$i").mkString(" "))
    check("chunk+pack", 5)(Prop.forAll(Gen.listOfN(4, docGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "body")
      val chunks = TextPipeline.chunkDocuments(df, "id", "body", chunkSize = 32, overlap = 8)
      val back = chunks.as[(Long, Long, Long, String)].collect()
      // coverage: the union of chunk tokens equals the source tokens
      val covered = back.groupBy(_._1).view.mapValues(_.flatMap(_._4.split(" ")).toSet).toMap
      val src = texts.zipWithIndex.map { case (t, i) => i.toLong -> t.split(" ").toSet }.toMap
      val coverageOk = src.forall { case (id, toks) => covered.get(id).contains(toks) }
      // packing: no sequence exceeds budget + one straddling chunk
      val packed = TextPipeline.packSequences(
          chunks.select("doc_id", "chunk_idx", "n_toks"), "doc_id", "chunk_idx", "n_toks", 64)
        .as[(Long, Long, Long, Long)].collect()
      val budgetOk = packed.groupBy(p => (p._1, p._4)).values
        .forall(_.map(_._3).sum < 64 + 32)
      coverageOk && budgetOk
    })
  }

  test("temperature sampling: clamped domains keep everything, rates honor the α=1/2 law") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    // sf0.001 holds 50 docs: targetN=30 leaves the head language
    // down-sampled while the tails clamp — both branches live
    val out = TextPipeline.temperatureSample(docs, "doc_id", "lang", targetN = 30)
      .select("doc_id", "domain", "rate_ppm").as[(Long, String, Long)].collect()
    val perDomain = out.groupBy(_._2)
    val srcCounts = docs.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    // a domain at rate_ppm == 1e6 is clamped: EVERY one of its docs survives
    perDomain.foreach { case (d, rows) =>
      val rate = rows.head._3
      assert(rate > 0 && rate <= 1000000L, s"$d rate out of range: $rate")
      if (rate == 1000000L)
        assert(rows.length.toLong == srcCounts(d), s"clamped $d must keep all docs")
      // unclamped: the hash thresholding keeps ~rate of the domain
      else {
        val expect = srcCounts(d).toDouble * rate / 1e6
        assert(math.abs(rows.length - expect) <= math.max(6.0, expect * 0.35),
          s"$d kept ${rows.length}, expected ~$expect at rate $rate")
      }
    }
    // α=1/2 monotonicity: bigger domains get strictly smaller rates
    val rates = perDomain.map { case (d, rows) => d -> rows.head._3 }
    val sortedBySize = srcCounts.toSeq.sortBy(_._2)
    sortedBySize.sliding(2).foreach { case Seq((d1, n1), (d2, n2)) =>
      if (n1 < n2 && rates.contains(d1) && rates.contains(d2))
        assert(rates(d1) >= rates(d2), s"rate($d1)=${rates(d1)} < rate($d2)=${rates(d2)}")
      case _ => ()
    }
  }

  test("bloom dedup equals the plain membership join; empty reference keeps everything") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    // sf0.001 ids run 0..49 — split at the median so both sides are live
    val ref = docs.filter(col("doc_id") < 25)
    val dlt = docs.filter(col("doc_id") >= 25)
    val got = TextPipeline.bloomDedup(ref, dlt, "doc_id", "text")
      .as[(Long, Boolean)].collect().toMap
    val want = dlt.select(col("doc_id"),
        col("text").isin(ref.select("text").distinct().as[String].collect().toSeq: _*)
          .as("is_dup"))
      .as[(Long, Boolean)].collect().toMap
    assert(got == want, "bloom path must be invisible in the answer")
    // degenerate reference: the bloom build returns null — nothing is a dup
    val empty = TextPipeline.bloomDedup(ref.limit(0), dlt.limit(5), "doc_id", "text")
      .as[(Long, Boolean)].collect()
    assert(empty.nonEmpty && empty.forall(!_._2))
  }

  test("char diversity narrow fold equals the explode+groupBy relational form") {
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    val got = TextPipeline.charDiversity(docs, "doc_id", "text", 920000L, 1300L)
      .select("doc_id", "n_chars_sig", "n_distinct", "simpson_ppm", "maxfrac_bp")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val want = docs
      .select(col("doc_id"), explode(split(regexp_replace(col("text"), " ", ""), "")).as("c"))
      .filter(col("c") =!= "")
      .groupBy("doc_id", "c").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n"), count(lit(1)).as("d"),
        sum(col("cnt") * col("cnt")).as("s"), max("cnt").as("m"))
      .select(col("doc_id"), col("n"), col("d"),
        expr("1000000 * (n * n - s) DIV (n * n)"),
        expr("10000 * m DIV n"))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("zOrder2 is a bijection on 16-bit pairs: deinterleaving recovers both inputs") {
    // reference inverse, written independently of the shift-or-mask
    // ladder: collect every second bit
    def unspread(z: Long): Long =
      (0 until 16).map(i => ((z >> (2 * i)) & 1L) << i).foldLeft(0L)(_ | _)
    val coord: Gen[Long] = Gen.chooseNum(0L, 65535L)
    check("zorder", 30)(Prop.forAll(coord, coord) { (x, y) =>
      val z = Seq((x, y)).toDF("x", "y")
        .select(Relational.zOrder2(col("x"), col("y")).as("z"))
        .as[Long].head()
      unspread(z >> 1) == x && unspread(z) == y
    })
  }

  private val randomEdges: Gen[List[(Long, Long)]] =
    Gen.listOfN(25, Gen.zip(Gen.chooseNum(0L, 11L), Gen.chooseNum(0L, 11L)))
      .map(_.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
        .distinct)
      .suchThat(_.nonEmpty)

  // r13: both adaptive execution paths (single-task pagerank fixpoint,
  // union-find CC) must agree with their distributed twins on RANDOM
  // graphs, not just the fixture — chains, cliques, isolated pairs and
  // disconnected unions all land here. One gate key forces both.
  test("adaptive paths: fused and distributed CC + pagerank agree on random graphs (3 iters)") {
    check("adaptive", 3)(Prop.forAll(randomEdges) { edges =>
      val pairs = edges.toDF("doc_id_1", "doc_id_2")
      val docs = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(id => (id, s"tok$id")).toDF("doc_id", "text")
      def cc() = TextPipeline.dedupClusters(docs, "doc_id", pairs)
        .as[(Long, Long)].collect().toMap
      def pr() = TextPipeline.pairGraphPagerankConverged(TextPipeline.twinDecomposition(pairs))
        .as[(Long, Long)].collect().toMap
      val ccFused = cc(); val prFused = pr()
      spark.conf.set("spark.graft.localMaxEdges", "0")
      try cc() == ccFused && pr() == prFused
      finally spark.conf.unset("spark.graft.localMaxEdges")
    })
  }

  private val fileInventory: Gen[List[(String, Long)]] =
    Gen.chooseNum(0, 60).flatMap { n =>
      Gen.listOfN(n, Gen.chooseNum(1L, 1000L)).map(_.zipWithIndex.map {
        case (sz, i) => (f"part-$i%05d", sz)
      })
    }

  test("Compaction.plan: bins respect the target, never split-brain a file, and are deterministic") {
    check("binpack", 200)(Prop.forAll(fileInventory, Gen.chooseNum(100L, 2000L)) {
      (files, target) =>
        val bins = graft.engine.stream.Compaction.plan(files, target)
        val assigned = bins.flatMap(_.files)
        val sizes = files.toMap
        // every bin merges ≥2 files (a singleton rewrite is wasted I/O),
        // fits the target, reports its true byte sum, and no file lands
        // in two bins; a repeat plan is byte-identical (determinism is
        // what makes a crashed compaction safely re-runnable)
        bins.forall(b => b.files.size >= 2 &&
            b.bytes == b.files.map(sizes).sum &&
            (b.bytes <= target || b.files.size == 1)) &&
          assigned.distinct.size == assigned.size &&
          assigned.forall(sizes.contains) &&
          bins == graft.engine.stream.Compaction.plan(files, target)
    })
  }

  test("pairGraphPagerank conserves scaled mass up to floor loss on random graphs") {
    // each round redistributes 85% of mass (floors lose < 1 unit per
    // edge-direction per round) and injects 15% flat, so total mass can
    // only leak downward from n·10⁶ and never exceeds it; scores are
    // strictly positive and the node set is exactly the graph's
    check("pagerank", 5)(Prop.forAll(randomEdges) { edges =>
      val pairs = edges.toDF("doc_id_1", "doc_id_2")
      val scores = TextPipeline.pairGraphPagerank(pairs, iters = 3)
        .as[(Long, Long)].collect()
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val total = scores.map(_._2).sum
      val maxLoss = 3L * 2 * edges.length // rounds × directed edges
      scores.forall(_._2 > 0) &&
        scores.map(_._1).toSet == nodes &&
        total <= nodes.size * 1000000L &&
        total >= nodes.size * 1000000L - maxLoss
    })
  }

  // r10: versioning-primitive algebra. diff(X, X) is all-kept;
  // diff(∅ → X) all-added; statuses partition exactly by construction
  // slices. The fingerprint is row-order and partitioning INVARIANT —
  // the property that makes it a reproducibility stamp at all.
  private val randomDocs: Gen[List[(Long, String)]] =
    Gen.listOfN(30, Gen.zip(Gen.chooseNum(0L, 60L), Gen.alphaStr.map(_.take(12))))
      .map(_.groupBy(_._1).map(_._2.head).toList)
      .suchThat(_.nonEmpty)

  test("snapshotDiff: identity is all-kept; empty-to-X is all-added (5 iters)") {
    check("diff", 5)(Prop.forAll(randomDocs) { docs =>
      val df = docs.toDF("doc_id", "text")
      val empty = spark.emptyDataFrame
        .selectExpr("CAST(0 AS BIGINT) AS doc_id", "'' AS text").limit(0)
      val self = TextPipeline.snapshotDiff(df, df, "doc_id", "text")
        .select("status").distinct().as[String].collect().toSeq
      val grow = TextPipeline.snapshotDiff(empty, df, "doc_id", "text")
        .select("status").distinct().as[String].collect().toSeq
      self == Seq("kept") && grow == Seq("added")
    })
  }

  test("corpusFingerprint is invariant to row order and partitioning (5 iters)") {
    check("fingerprint", 5)(Prop.forAll(randomDocs) { docs =>
      def stamp(df: org.apache.spark.sql.DataFrame) = {
        val r = TextPipeline.corpusFingerprint(df, "doc_id", "text").head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val df = docs.toDF("doc_id", "text")
      stamp(df) == stamp(df.orderBy(col("text"))) &&
        stamp(df) == stamp(df.repartition(7))
    })
  }

  // r10: the true-twin collapse must be invisible in the answer — the
  // closed-form per-node triangle counts equal the naive wedge
  // enumeration on random graphs (dense patches, chains, twins and
  // singleton classes all occur at 12 nodes / 25 edge draws).
  test("pairGraphTriangles: twin-collapse closed form equals naive enumeration (8 iters)") {
    check("triangles", 8)(Prop.forAll(randomEdges) { edges =>
      val pairs = edges.toDF("doc_id_1", "doc_id_2")
      val fast = TextPipeline.pairGraphTriangles(TextPipeline.twinDecomposition(pairs))
        .as[(Long, Long)].collect().toSet
      val slow = TextPipeline.pairGraphTrianglesNaive(pairs)
        .as[(Long, Long)].collect().toSet
      fast == slow
    })
  }

  // r10: the deletion-neighborhood strategy is result-identical to the
  // quadratic block join on RANDOM short strings — the adversarial
  // cases (equal strings, pure inserts/deletes at every position,
  // same-block collisions) that a fixture can't systematically cover.
  private val fuzzyRecords: Gen[List[(Long, String, Int)]] = {
    val word = Gen.chooseNum(2, 7).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("abc".toSeq)).map(_.mkString))
    Gen.listOfN(40, Gen.zip(Gen.chooseNum(0L, 10000L), word, Gen.chooseNum(0, 2)))
      .map(_.groupBy(_._1).map(_._2.head).toList) // unique ids
  }

  test("fuzzyMatch deletion path equals the block join on random strings (5 iters)") {
    check("fuzzy-del1", 5)(Prop.forAll(fuzzyRecords) { recs =>
      val df = recs.toDF("id", "s", "blk")
      def pairs(d: org.apache.spark.sql.DataFrame) =
        d.as[(Long, Long, String, String, Long)].collect().toSet
      pairs(TextPipeline.fuzzyMatch(df, "id", "s", Seq("blk"), 1)) ==
        pairs(TextPipeline.fuzzyMatchBlockJoin(df, "id", "s", Seq("blk"), 1))
    })
  }

  // r16: the d=2 FastSS law on the same adversarial generator — short
  // random 3-letter-alphabet strings maximize double-deletion variant
  // collisions (equal strings, transposition-like double subs, pure
  // 2-char inserts/deletes at every position pair).
  test("fuzzyMatch d=2 deletion path equals the block join on random strings (5 iters)") {
    check("fuzzy-del2", 5)(Prop.forAll(fuzzyRecords) { recs =>
      val df = recs.toDF("id", "s", "blk")
      def pairs(d: org.apache.spark.sql.DataFrame) =
        d.as[(Long, Long, String, String, Long)].collect().toSet
      pairs(TextPipeline.fuzzyMatchDel2(df, "id", "s", Seq("blk"))) ==
        pairs(TextPipeline.fuzzyMatchBlockJoin(df, "id", "s", Seq("blk"), 2))
    })
  }

  // r10: prefix-filter completeness on RANDOM token sets (shingleK=1 —
  // the token-set form, so the law covers the regime the fixture
  // binding does not): the candidate equi-join must reproduce the
  // brute-force J >= 0.8 pair set over set representatives exactly.
  private val tokenDocs: Gen[List[(Long, String)]] = {
    val tok = Gen.chooseNum(0, 25).map(i => s"t$i")
    val doc = Gen.chooseNum(3, 12).flatMap(n => Gen.listOfN(n, tok).map(_.distinct.mkString(" ")))
    Gen.listOfN(30, doc).map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
  }

  test("jaccardPrefixJoin(shingleK=1) equals brute force on random token sets (5 iters)") {
    check("prefix-join", 5)(Prop.forAll(tokenDocs) { docs =>
      val df = docs.toDF("doc_id", "text")
      val got = TextPipeline.jaccardPrefixJoin(df, "doc_id", "text", 8, 10, shingleK = 1)
        .as[(Long, Long, Double)].collect().toSet
      val sets = docs.map { case (i, t) =>
        (i, t.split(" ").filter(_.nonEmpty).toSet)
      }
      val reps = sets.groupBy(_._2).map { case (s, g) => (g.map(_._1).min, s) }.toList
      val want = (for {
        (i, si) <- reps; (j, sj) <- reps
        if i < j
        inter = (si & sj).size.toDouble
        union = si.size + sj.size - inter
        if union > 0
        jac = BigDecimal(inter / union)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if jac >= 0.8
      } yield (i, j, jac)).toSet
      got == want
    })
  }

  test("KN fixed point matches BigInt arithmetic at adversarial magnitudes (incl. past the old Long bound)") {
    // r10 verdict #4: the old pure-Long form wrapped silently once
    // 10⁶·4·c12·T neared 2⁶³ (c12·T ≈ 2.3e12). The DECIMAL(38,0) form
    // must agree with exact BigInt arithmetic well past that regime.
    val rnd = new scala.util.Random(42)
    def mag(): Long = { // log-uniform in [1, 1e15]
      val e = rnd.nextDouble() * 15.0
      math.max(1L, math.pow(10.0, e).toLong)
    }
    val rows = (1 to 300).map { _ =>
      val c12 = mag(); val c1 = c12 + mag(); val n1p = mag()
      val ncont = mag(); val t = math.max(n1p, ncont) + mag()
      (c12, c1, n1p, ncont, t)
    } :+ ((3000000000000L, 4000000000000L, 1000000L, 1000000L, 3000000000000L))
    // the appended row has c12·T = 9e24 — 12 orders past the old bound
    val got = rows.toDF("c12", "c1", "n1p", "ncont", "t")
      .selectExpr("c12", "c1", "n1p", "ncont", "t", s"(${TextPipeline.KnFixedPointSql}) AS a")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    got.foreach { case (c12, c1, n1p, ncont, t, a) =>
      val want = (BigInt(1000000) * ((4 * BigInt(c12) - 3) * BigInt(t) +
        3 * BigInt(n1p) * BigInt(ncont))) / (4 * BigInt(c1) * BigInt(t))
      assert(BigInt(a) == want, s"($c12,$c1,$n1p,$ncont,$t): got $a want $want")
    }
  }

  test("KN fixed point fails loudly (raise_error) past the DECIMAL(38,0) ceiling instead of wrapping") {
    val absurd = Seq((9000000000000000000L, 9000000000000000000L, 1L, 1L,
      9000000000000000000L)).toDF("c12", "c1", "n1p", "ncont", "t")
    val ex = intercept[Exception] {
      absurd.selectExpr(s"(${TextPipeline.KnFixedPointSql}) AS a").collect()
    }
    def msgs(e: Throwable): Seq[String] =
      if (e == null) Nil else Option(e.getMessage).toSeq ++ msgs(e.getCause)
    assert(msgs(ex).exists(_.contains("overflowed DECIMAL(38,0)")), msgs(ex).mkString(" | "))
  }
}
