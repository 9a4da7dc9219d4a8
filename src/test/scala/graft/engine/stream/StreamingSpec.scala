package graft.engine.stream

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Reproduces the reference's streaming semantics (SURVEY.md §2.2-J) on
  * MemoryStream — the same offset/commit machinery a Kafka source uses,
  * minus the broker this environment lacks. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  /** The batch near-dup pair graph of a `(doc_id, text)` corpus. */
  private def nearDupPairs(docs: org.apache.spark.sql.DataFrame, t: Double) =
    graft.engine.ops.Similarity.minhashNearDup(
      graft.engine.ops.Similarity.tokenSetGroups(docs, "doc_id", "text"), t, ordered = false)

  /** From-scratch clusters of a `(doc_id, text)` corpus at 0.9. */
  private def scratchClusters(docs: org.apache.spark.sql.DataFrame) =
    graft.engine.ops.TextPipeline.dedupClusters(docs, "doc_id", nearDupPairs(docs, 0.9))

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class Doc(doc_id: Long, ts: Timestamp, text: String)
  case class LDoc(doc_id: Long, ts: Timestamp, lang: String, text: String)

  // s_decode_projection (O5: key dropped, value as string, K:43)
  test("s_decode_projection: (key,value) stream reduces to string values") {
    val in = MemoryStream[(String, String)](spark)
    val out = mutable.ArrayBuffer[String]()
    val q = Streams.foreachBatchSink(
        Streams.decodeProjection(in.toDF().toDF("key", "value")),
        tmpDir("decode")) { (b, _) =>
      out.synchronized { out ++= b.collect().map(_.getString(0)) }
    }.start()
    in.addData(("k1", "v1"), ("k2", "v2"))
    q.processAllAvailable(); q.stop()
    assert(out.sorted == Seq("v1", "v2"))
  }

  // s_empty_batch (O6) + s_foreachbatch_sink (O7/O8)
  test("s_empty_batch: fully-filtered batch skips the sink handler") {
    val in = MemoryStream[(String, String)](spark)
    var handled = 0
    val filtered = in.toDF().toDF("key", "value").filter(col("value") =!= "drop")
    val q = Streams.foreachBatchSink(filtered, tmpDir("empty")) { (_, _) =>
      synchronized { handled += 1 }
    }.start()
    in.addData(("k", "drop"))          // batch of only filtered-out rows
    q.processAllAvailable()
    val afterEmpty = handled
    in.addData(("k", "keep"))
    q.processAllAvailable(); q.stop()
    assert(afterEmpty == 0, "empty batch must short-circuit (K:45-46)")
    assert(handled == 1)
  }

  // s_offsets_saved_per_batch (O3/O4 parity via listener mirror)
  test("s_offsets_saved_per_batch: one offset record per batch, monotonic") {
    val mirror = new Streams.DurableOffsetMirror(new Streams.InMemoryOffsetStore)
    spark.streams.addListener(mirror)
    try {
      val in = MemoryStream[(String, String)](spark)
      val q = Streams.foreachBatchSink(in.toDF().toDF("key", "value"), tmpDir("off")) {
        (_, _) => ()
      }.start()
      in.addData(("a", "1")); q.processAllAvailable()
      in.addData(("a", "2")); q.processAllAvailable()
      q.stop(); q.awaitTermination()
      // listener events are async — wait briefly for delivery
      val deadline = System.nanoTime() + 10e9.toLong
      while (mirror.readBack().size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      val recs = mirror.readBack()
      assert(recs.size >= 2, s"expected ≥2 offset records, got $recs")
      val batchIds = recs.map(_.batchId)
      assert(batchIds == batchIds.sorted, "offset records in batch order (R:143)")
      assert(recs.forall(_.endOffset != "none"), "every batch commits an end offset")
    } finally spark.streams.removeListener(mirror)
  }

  // s_offset_mirror_durable (O3/O4 as a durable artifact: the analogue of
  // the reference's per-batch atomic ZK offset write, K:98-109). The
  // contract suite is parameterized over OffsetStore PROVIDERS — the
  // file store and the in-memory table store must both satisfy it,
  // proving the seam a ZK/JDBC store would plug into is real.
  private def mirrorContract(storeName: String,
                             store: Streams.OffsetStore,
                             reopen: () => Streams.OffsetStore): Unit = {
    val ckpt = tmpDir(s"mirror-ckpt-$storeName")
    val mirror = new Streams.DurableOffsetMirror(store)
    spark.streams.addListener(mirror)
    try {
      val in = MemoryStream[(String, String)](spark)
      def start() = Streams.foreachBatchSink(in.toDF().toDF("key", "value"), ckpt) {
        (_, _) => ()
      }.start()
      val q1 = start()
      in.addData(("k", "a")); q1.processAllAvailable()
      in.addData(("k", "b")); q1.processAllAvailable()
      q1.stop(); q1.awaitTermination()    // "crash" at a batch boundary
      in.addData(("k", "c"))              // produced while down
      val q2 = start()                    // restart: resumes from offset log
      q2.processAllAvailable(); q2.stop(); q2.awaitTermination()
      // listener events are async — wait for the third committed batch
      val deadline = System.nanoTime() + 10e9.toLong
      while (mirror.readBack().size < 3 && System.nanoTime() < deadline) Thread.sleep(50)
      val recs = mirror.readBack()
      assert(recs.size >= 3, s"[$storeName] expected ≥3 durable batch records, got $recs")
      val ids = recs.map(_.batchId)
      assert(ids == ids.sorted && ids.distinct == ids,
        s"[$storeName] batch ids strictly increasing, replays overwritten in place: $ids")
      assert(ids.zip(ids.tail).forall { case (a, b) => b == a + 1 },
        s"[$storeName] batch ids gapless across the restart: $ids")
      // ranges chain across the kill: end of batch n is start of batch n+1
      recs.zip(recs.tail).foreach { case (prev, next) =>
        assert(next.startOffset == prev.endOffset,
          s"[$storeName] offset chain broken between batches ${prev.batchId} and ${next.batchId}: $recs")
      }
      assert(recs.forall(_.endOffset != "none"),
        s"[$storeName] every committed batch records an end offset")
      // the checkpoint-loss resume path (K:66-68 re-expressed): the
      // store's last end offset is exactly where a fresh-checkpoint run
      // would seed startingOffsets
      assert(Streams.resumeOffsets(reopen()).contains(recs.last.endOffset),
        s"[$storeName] resume point must be the last recorded end offset")
    } finally spark.streams.removeListener(mirror)
  }

  test("s_offset_mirror_durable: killed-and-restarted query leaves contiguous, gapless offset files") {
    val dir = tmpDir("mirror")
    mirrorContract("file", new Streams.AtomicFileOffsetStore(dir),
      // the file store is reopened COLD — durability across process death
      () => new Streams.AtomicFileOffsetStore(dir))
    assert(Streams.resumeOffsets(
      new Streams.AtomicFileOffsetStore(tmpDir("empty-store"))).isEmpty,
      "no records → no resume point (caller falls back to latest/earliest)")
  }

  test("s_offset_store_pluggable: the in-memory table store passes the same durable-mirror contract") {
    val store = new Streams.InMemoryOffsetStore
    mirrorContract("memtable", store, () => store)
    assert(Streams.resumeOffsets(new Streams.InMemoryOffsetStore).isEmpty,
      "an empty table store yields no resume point")
  }

  // r11 (r10 verdict #5): the third provider crosses a real process-
  // shaped boundary — every offset record travels a loopback TCP socket
  // through the HTTP stack to an external-store-shaped service, the
  // in-sandbox analogue of the reference's one-znode-per-batch ZK write
  // (K:77-109). Same contract, fully unchanged.
  test("s_offset_store_pluggable: the loopback HTTP service store passes the same durable-mirror contract") {
    val service = new Streams.OffsetHttpServer
    try {
      // reopen() builds a FRESH client against the same service — the
      // records must live in the external process, not the client
      mirrorContract("http", new Streams.HttpOffsetStore(service.url),
        () => new Streams.HttpOffsetStore(service.url))
    } finally service.stop()
    val empty = new Streams.OffsetHttpServer
    try assert(Streams.resumeOffsets(new Streams.HttpOffsetStore(empty.url)).isEmpty,
      "an empty offset service yields no resume point")
    finally empty.stop()
  }

  // r10: BASELINE.md's one hard reference perf figure is the ~18 ms/batch
  // steady-state ZK offset write (R:149-152). The engine's counterpart —
  // the external offset-mirror write on the durable landing path — must
  // stay within 2x of it (p50 over a multi-batch run; the committed
  // BENCH_STREAM.json artifact carries the full distribution).
  test("s_stream_overhead_budget: durable offset-mirror write p50 within 2x the 18 ms reference budget") {
    val s = StreamBench.measure(spark, measured = 10, warmup = 3,
      tmpDir("sbench-sink"), tmpDir("sbench-ckpt"), tmpDir("sbench-mirror"))
    assert(s.nBatches >= 8, s"expected >=8 measured batches, got ${s.nBatches}")
    val p50 = StreamBench.pct(s.mirrorWrite, 50)
    assert(p50 <= 36.0, s"mirror write p50 $p50 ms exceeds 2x the 18 ms reference budget")
    // the series is real: every measured trigger produced a mirror write
    assert(s.mirrorWrite.size >= 10, s"mirror writes recorded: ${s.mirrorWrite.size}")
  }

  // s_resume_from_offsets (O2: replay-not-gap across restart, R:93-95)
  test("s_resume_from_offsets: restart from checkpoint loses nothing, duplicates nothing") {
    val ckpt = tmpDir("resume")
    val in = MemoryStream[(String, String)](spark)
    val seen = mutable.ArrayBuffer[String]()
    def start() = Streams.foreachBatchSink(in.toDF().toDF("key", "value"), ckpt) { (b, _) =>
      seen.synchronized { seen ++= b.collect().map(_.getString(1)) }
    }.start()

    val q1 = start()
    in.addData(("k", "a"), ("k", "b")); q1.processAllAvailable()
    q1.stop(); q1.awaitTermination()    // "crash" at a batch boundary

    in.addData(("k", "c"))              // produced while down
    val q2 = start()                    // restart: resumes from offset log
    q2.processAllAvailable(); q2.stop()
    assert(seen.sorted == Seq("a", "b", "c"),
      "no gap (reference guarantee K:66-68) and no duplicate (commit-log upgrade)")
  }

  // s_graceful_stop (O10)
  test("s_graceful_stop: stop completes cleanly with no partial commit") {
    val in = MemoryStream[(String, String)](spark)
    val q = Streams.foreachBatchSink(in.toDF().toDF("key", "value"), tmpDir("stop")) {
      (_, _) => ()
    }.start()
    in.addData(("k", "x"))
    Streams.gracefulStop(q)
    assert(q.exception.isEmpty, "graceful stop must not surface an exception")
  }

  // s_window_tumbling
  test("s_window_tumbling: event-time 5s windows count per type") {
    val in = MemoryStream[Ev](spark)
    val q = Streams.tumblingCounts(in.toDF()).writeStream
      .format("memory").queryName("tumbling").outputMode(OutputMode.Complete).start()
    in.addData(Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(2), 1, "click", 1.0),
               Ev(3, ts(7), 2, "view", 1.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("tumbling")
      .select(col("window.start").cast("long"), col("event_type"), col("n"))
      .as[(Long, String, Long)].collect().toSet
    assert(rows == Set((0L, "click", 2L), (5L, "view", 1L)))
  }

  // s_window_sliding
  test("s_window_sliding: 10s windows sliding by 5s double-count overlaps") {
    val in = MemoryStream[Ev](spark)
    val q = Streams.slidingCounts(in.toDF()).writeStream
      .format("memory").queryName("sliding").outputMode(OutputMode.Complete).start()
    in.addData(Ev(1, ts(7), 1, "click", 1.0))
    q.processAllAvailable(); q.stop()
    val starts = spark.table("sliding").select(col("window.start").cast("long"))
      .as[Long].collect().toSet
    assert(starts == Set(0L, 5L), "an event at t=7 falls in windows [0,10) and [5,15)")
  }

  // s_window_session
  test("s_window_session: 30s gap splits sessions per user") {
    val in = MemoryStream[Ev](spark)
    val q = Streams.sessionCounts(in.toDF()).writeStream
      .format("memory").queryName("sessions").outputMode(OutputMode.Complete).start()
    in.addData(Ev(1, ts(0), 1, "click", 1.0), Ev(2, ts(10), 1, "click", 1.0),
               Ev(3, ts(100), 1, "click", 1.0))
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("sessions").select(col("n")).as[Long].collect().sorted
    assert(sessions.toSeq == Seq(1L, 2L), "events 0s,10s fuse; 100s opens a new session")
  }

  // s_watermark_late
  test("s_watermark_late: rows older than the watermark are dropped") {
    val in = MemoryStream[Ev](spark)
    val q = Streams.watermarkedCounts(in.toDF()).writeStream
      .format("memory").queryName("late").outputMode(OutputMode.Append).start()
    in.addData(Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(3), 1, "click", 1.0))
    q.processAllAvailable()
    in.addData(Ev(3, ts(100), 1, "view", 1.0)) // advances watermark to 90s
    q.processAllAvailable()
    in.addData(Ev(4, ts(2), 1, "click", 1.0))  // late beyond watermark → dropped
    q.processAllAvailable()
    in.addData(Ev(5, ts(200), 1, "view", 1.0)) // flush window [100,105)
    q.processAllAvailable(); q.stop()
    val rows = spark.table("late")
      .select(col("window.start").cast("long"), col("event_type"), col("n"))
      .as[(Long, String, Long)].collect().toSet
    assert(rows((0L, "click", 2L)), s"on-time window intact: $rows")
    assert(!rows.exists { case (s, t, n) => s == 0L && t == "click" && n == 3L },
      "the late row must not have been added")
  }

  // s_stream_dedup
  test("s_stream_dedup: duplicate event_ids within watermark collapse to one") {
    val in = MemoryStream[Ev](spark)
    val out = mutable.ArrayBuffer[Long]()
    val q = Streams.streamingDedup(in.toDF()).writeStream
      .option("checkpointLocation", tmpDir("dedup"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.select("event_id").as[Long].collect() }
        ()
      }.start()
    in.addData(Ev(1, ts(1), 1, "click", 1.0), Ev(1, ts(1), 1, "click", 1.0))
    q.processAllAvailable()
    in.addData(Ev(1, ts(2), 1, "click", 1.0), Ev(2, ts(2), 1, "view", 1.0))
    q.processAllAvailable(); q.stop()
    assert(out.sorted.toSeq == Seq(1L, 2L), s"dupes dropped across batches: $out")
  }

  // s_stream_neardup
  test("s_stream_neardup: token-reordered near-dup docs collapse in-stream, distinct docs pass") {
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[Long]()
    val q = Streams.streamingNearDup(in.toDF(), "text").writeStream
      .option("checkpointLocation", tmpDir("neardup"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.select("doc_id").as[Long].collect() }
        ()
      }.start()
    in.addData(
      Doc(1, ts(1), "the quick brown fox jumps"),
      Doc(2, ts(1), "fox jumps the quick brown")) // token shuffle of doc 1
    q.processAllAvailable()
    in.addData(
      Doc(3, ts(2), "jumps brown quick the fox"),  // another shuffle, later batch
      Doc(4, ts(2), "completely different content here now"))
    q.processAllAvailable(); q.stop()
    assert(out.sorted.toSeq == Seq(1L, 4L),
      s"near-dups must collapse within and across batches: $out")
  }

  // s_stream_neardup_lsh: threshold near-dup detection with banded state.
  // Fixtures here sit at J ≈ 0.82 where the default 2×8 banding's S-curve
  // gives only ~0.36 candidate recall — these tests run the operator at
  // 4×4 (recall ~0.91 at that J; deterministic under the fixed-seed
  // family) so the scenario exercises state/recovery, not banding luck.
  test("s_stream_neardup_lsh: banded MinHash state detects threshold pairs across batches and restarts") {
    val in = MemoryStream[Doc](spark)
    val ckpt = tmpDir("neardup-lsh")
    val out = mutable.ArrayBuffer[(Long, Long)]()
    def start() = Streams.streamingNearDupLsh(in.toDF(), "text", minEstJaccard = 0.5,
        bands = 4, rowsPerBand = 4)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.NearDupHit], _: Long) =>
        out.synchronized { out ++= b.collect().map(h => (h.doc_id_1, h.doc_id_2)) }
        ()
      }.start()
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val near = "alpha bravo charlie delta echo foxtrot golf hotel india kilo" // 9/11 tokens shared
    val far = "one two three four five six seven eight nine ten"
    val q1 = start()
    in.addData(Doc(1, ts(1), base), Doc(4, ts(1), far))
    q1.processAllAvailable()
    q1.stop() // kill: band-bucket state must survive in the checkpoint
    val q2 = start()
    in.addData(Doc(2, ts(2), near)) // near-dup of doc 1, AFTER the restart
    q2.processAllAvailable()
    in.addData(Doc(3, ts(3), near + " extra")) // near-dup of 1 and 2, later batch
    q2.processAllAvailable(); q2.stop()
    // a pair may arrive once per colliding band — dedup like the batch op
    val pairs = out.distinct.sorted.toSeq
    assert(pairs.contains((1L, 2L)),
      s"state must survive the kill-and-restart to pair 1 with 2: $out")
    assert(pairs.contains((2L, 3L)), s"cross-batch pair missing: $out")
    assert(pairs.forall { case (a, b) => a != 4L && b != 4L },
      s"distinct doc must pair with nothing: $out")
  }

  // s_stream_neardup_lsh_rocksdb: same operator, large-state store. The
  // HDFS-backed default keeps every bucket on the executor heap; RocksDB
  // is the declared scale path once LSH state outgrows it (SURVEY §4.2).
  // The provider is a session conf captured at query start — the toggle
  // is config-only, zero operator changes, and the detection semantics
  // (cross-batch pairs, kill-and-restart recovery) must be IDENTICAL.
  // GraftSession commits RocksDB state as changelogs; the second leg
  // writes the first run's checkpoint as snapshots only (as a checkpoint
  // from before that setting holds) and restarts it under the session's
  // setting.
  test("s_stream_neardup_lsh on RocksDB state store: same pairs, same restart recovery") {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = runLshRestartScenario("neardup-lsh-rocks", firstRunSnapshotsOnly = false)
      val files = stateFiles(ckpt)
      assert(files.exists(_.endsWith(".changelog")),
        s"RocksDB state must commit as changelogs: $files")
      val snapCkpt = runLshRestartScenario("neardup-lsh-rocks-snap",
        firstRunSnapshotsOnly = true)
      assert(stateFiles(snapCkpt).exists(_.endsWith(".changelog")),
        "the restarted run must commit changelogs on top of the snapshot")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  /** Every file under the checkpoint's `state/0/<partition>/` dirs. */
  private def stateFiles(ckpt: String): Seq[String] = {
    val parts = new java.io.File(s"$ckpt/state/0").listFiles()
    assert(parts != null && parts.nonEmpty, s"no state partitions under $ckpt")
    parts.toSeq.filter(_.isDirectory).flatMap(d => Option(d.list()).toSeq.flatten)
  }

  /** The kill-and-restart pair scenario on the session's state store.
    * `firstRunSnapshotsOnly` turns RocksDB changelog checkpointing off
    * for the first run only; the restart runs under the session's own
    * setting. Returns the checkpoint dir. */
  private def runLshRestartScenario(ckptName: String,
                                    firstRunSnapshotsOnly: Boolean): String = {
    val clKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val in = MemoryStream[Doc](spark)
    val ckpt = tmpDir(ckptName)
    val out = mutable.ArrayBuffer[(Long, Long)]()
    def start() = Streams.streamingNearDupLsh(in.toDF(), "text", minEstJaccard = 0.5,
      bands = 4, rowsPerBand = 4)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.NearDupHit], _: Long) =>
        out.synchronized { out ++= b.collect().map(h => (h.doc_id_1, h.doc_id_2)) }
        ()
      }.start()
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val near = "alpha bravo charlie delta echo foxtrot golf hotel india kilo"
    val far = "one two three four five six seven eight nine ten"
    val clSaved = spark.conf.getOption(clKey)
    try {
      if (firstRunSnapshotsOnly) spark.conf.set(clKey, "false")
      val q1 = start()
      in.addData(Doc(1, ts(1), base), Doc(4, ts(1), far))
      q1.processAllAvailable()
      q1.stop() // RocksDB state must survive the kill in the checkpoint
      if (firstRunSnapshotsOnly)
        assert(!stateFiles(ckpt).exists(_.endsWith(".changelog")),
          s"first run must leave snapshots only: ${stateFiles(ckpt)}")
    } finally clSaved match {
      case Some(v) => spark.conf.set(clKey, v)
      case None => spark.conf.unset(clKey)
    }
    val q2 = start()
    in.addData(Doc(2, ts(2), near))
    q2.processAllAvailable()
    in.addData(Doc(3, ts(3), near + " extra"))
    q2.processAllAvailable(); q2.stop()
    val pairs = out.distinct.sorted.toSeq
    assert(pairs.contains((1L, 2L)),
      s"RocksDB state must survive the kill-and-restart ($ckptName): $out")
    assert(pairs.contains((2L, 3L)), s"cross-batch pair missing on RocksDB ($ckptName): $out")
    assert(pairs.forall { case (a, b) => a != 4L && b != 4L },
      s"distinct doc must pair with nothing ($ckptName): $out")
    ckpt
  }

  // s_stream_neardup_lsh slot cap: a micro-batch of more source
  // partitions than task slots runs its band-shuffle map stage in one
  // wave, and emits exactly the pairs of the same documents in one
  // partition (both state functions sort each group by doc_id).
  test("s_stream_neardup_lsh: band-shuffle map stage runs at most one task per slot, same pairs") {
    val slots = spark.sparkContext.defaultParallelism
    // 3 docs per partition, each partition on its own vocabulary: a
    // fresh text, its near-dup, and a rotated copy (same token set) of
    // the previous partition's fresh text — a cross-partition pair
    def fresh(p: Int) = (0 until 10).map(i => s"t${p}x$i")
    val parts = (0 until 3 * slots).map { p =>
      val prev = fresh(p - 1)
      Seq(Doc(3L * p + 1, ts(1), fresh(p).mkString(" ")),
          Doc(3L * p + 2, ts(1), (fresh(p).init :+ s"t${p}y").mkString(" ")),
          Doc(3L * p + 3, ts(1), (prev.tail :+ prev.head).mkString(" ")))
    }
    def run(tag: String, feeds: Seq[Seq[Doc]]): (Seq[(Long, Long)], Seq[Int]) = {
      val in = MemoryStream[Doc](spark)
      val out = mutable.ArrayBuffer[(Long, Long)]()
      val q = Streams.streamingNearDupLsh(in.toDF(), "text", minEstJaccard = 0.5,
          bands = 4, rowsPerBand = 4)
        .writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", tmpDir(tag))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.NearDupHit], _: Long) =>
          out.synchronized { out ++= b.collect().map(h => (h.doc_id_1, h.doc_id_2)) }
          ()
        }.start()
      val mapTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val fenceKey = "graft.test.fence"
      val fenced = new java.util.concurrent.CountDownLatch(1)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val props = Option(e.properties)
          if (props.exists(_.getProperty(fenceKey) == tag)) fenced.countDown()
          else if (props.exists(_.getProperty("sql.streaming.queryId") == q.id.toString))
            // map stages: those another stage of the job reads from
            e.stageInfos.filter(si => e.stageInfos.exists(_.parentIds.contains(si.stageId)))
              .foreach(si => mapTasks.add(si.numTasks))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        feeds.foreach(docs => in.addData(docs))
        q.processAllAvailable()
        q.stop()
        // the listener bus is FIFO: once a job started after the batch
        // is seen, every event of the batch's jobs has been delivered
        spark.sparkContext.setLocalProperty(fenceKey, tag)
        try spark.sparkContext.parallelize(Seq(1), 1).count()
        finally spark.sparkContext.setLocalProperty(fenceKey, null)
        assert(fenced.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus drain")
      } finally spark.sparkContext.removeSparkListener(listener)
      (out.sorted.toSeq, mapTasks.asScala.toSeq)
    }
    val (split, splitTasks) = run("neardup-lsh-slots", parts)
    val (whole, _) = run("neardup-lsh-slots-one", Seq(parts.flatten))
    assert(splitTasks.nonEmpty, "the batch must run a band-shuffle map stage")
    assert(splitTasks.forall(_ <= slots),
      s"${parts.size} source partitions on $slots slots ran map stages of $splitTasks tasks")
    assert(split.contains((1L, 6L)), s"fixture must pair across partitions: $split")
    assert(split == whole, s"pairs must not depend on the source partitioning: $split vs $whole")
  }

  // The versioned state envelope: the checkpointed schema is frozen at
  // (version, payload), and the codec's evolution rules — missing
  // segments default, unknown trailing segments are ignored, newer
  // MAJOR versions are refused — are the contract future field changes
  // must follow (r6 VERDICT: field evolution must stop being a silent
  // checkpoint break).
  test("LshStateCodec: versioned envelope round-trips, reads older and additive-newer payloads") {
    import Streams.{LshBucketState, LshStateCodec, LshStateEnvelope}
    val st = LshBucketState(1234L, Map(7L -> Seq(1L, 2L, 3L), 9L -> Seq(4L, 5L)))
    assert(LshStateCodec.decode(LshStateCodec.encode(st)) == st, "round trip")
    assert(LshStateCodec.encode(st).version == LshStateCodec.Version)
    // an OLDER same-major writer that only knew maxTs: members default empty
    assert(LshStateCodec.decode(LshStateEnvelope(1, "42")) == LshBucketState(42L, Map.empty))
    // empty payload: all defaults
    assert(LshStateCodec.decode(LshStateEnvelope(1, "")) == LshBucketState(0L, Map.empty))
    // an additive same-major NEWER writer appended a segment: ignored
    assert(LshStateCodec.decode(LshStateEnvelope(1, "42;7:1 2 3;future-field")) ==
      LshBucketState(42L, Map(7L -> Seq(1L, 2L, 3L))))
    // a newer MAJOR version must be refused, not silently misread
    intercept[IllegalArgumentException] {
      LshStateCodec.decode(LshStateEnvelope(LshStateCodec.Version + 1, "42"))
    }
  }

  // s_stream_neardup_survivors: the keep-first ingest filter — shared
  // scenario run on both state-store providers (kill-and-restart in the
  // middle, suppressed set equals the batch survivor complement)
  private def runSurvivorScenario(ckptName: String): Unit = {
    // the operator disables the static watermark checker (sound for it
    // by construction — see its scaladoc); restore after so other
    // tests keep the guard
    val ccKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val ccSaved = spark.conf.getOption(ccKey)
    try runSurvivorScenarioBody(ckptName)
    finally ccSaved match {
      case Some(v) => spark.conf.set(ccKey, v)
      case None => spark.conf.unset(ccKey)
    }
  }

  private def runSurvivorScenarioBody(ckptName: String): Unit = {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val near1 = "alpha bravo charlie delta echo foxtrot golf hotel india kilo"  // dup of 1
    val near2 = "alpha bravo charlie delta echo foxtrot golf hotel lima kilo"   // dup of 2 (and 1)
    val far1 = "one two three four five six seven eight nine ten"
    val far2 = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    val docs = Seq((1L, base), (2L, near1), (3L, near2), (4L, far1), (5L, far2))
    // batch ground truth: survivors = ids minus the pair graph's doc_id_2
    // side (the q_dedup_survivors policy) at the same threshold
    val batchDf = docs.toDF("doc_id", "text")
    val removed = graft.engine.ops.Similarity
      .minhashNearDup(graft.engine.ops.Similarity.tokenSetGroups(batchDf, "doc_id", "text"), 0.5,
        ordered = false, bands = 4, rowsPerBand = 4)
      .select("doc_id_2").distinct().as[Long].collect().toSet
    val batchSurvivors = docs.map(_._1).toSet -- removed
    assert(removed.nonEmpty && batchSurvivors.nonEmpty, s"fixture must split: $removed")

    val in = MemoryStream[Doc](spark)
    val ckpt = tmpDir(ckptName)
    val out = mutable.ArrayBuffer[Long]()
    def start() = Streams.streamingNearDupSurvivors(in.toDF(), "text", minEstJaccard = 0.5,
        bands = 4, rowsPerBand = 4)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.select("doc_id").as[Long].collect() }
        ()
      }.start()
    val q1 = start()
    in.addData(Doc(1, ts(1), base), Doc(2, ts(1), near1), Doc(4, ts(1), far1))
    q1.processAllAvailable()
    q1.stop() // kill: both band-bucket state AND in-flight windows must recover
    val q2 = start()
    in.addData(Doc(3, ts(2), near2), Doc(5, ts(2), far2)) // 3 dups a SUPPRESSED doc
    q2.processAllAvailable()
    in.addData(Doc(99, ts(100), "flush flush flush")) // advance watermark, close [0,10)
    q2.processAllAvailable(); q2.stop()
    assert(out.toSet == batchSurvivors,
      s"streaming keep-first must equal the batch survivor complement: " +
        s"stream=${out.sorted} batch=${batchSurvivors.toSeq.sorted}")
  }

  test("s_stream_neardup_survivors: keep-first equals the batch complement across kill-and-restart") {
    runSurvivorScenario("neardup-surv")
  }

  test("s_stream_neardup_survivors on RocksDB state store: same survivors, same recovery") {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try runSurvivorScenario("neardup-surv-rocks")
    finally saved match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
  }

  test("s_stream_neardup_lsh: bucketCap bounds state — post-cap arrivals compare but are not stored") {
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, Long)]()
    val q = Streams.streamingNearDupLsh(in.toDF(), "text", minEstJaccard = 0.5, bucketCap = 1)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("neardup-lsh-cap"))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.NearDupHit], _: Long) =>
        out.synchronized { out ++= b.collect().map(h => (h.doc_id_1, h.doc_id_2)) }
        ()
      }.start()
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    in.addData(Doc(1, ts(2), base))
    q.processAllAvailable()
    // older-but-within-watermark arrival: must still pair with the
    // stored doc 1 (the bucket's running max event time, not this
    // batch's, governs eviction), but with cap=1 it is NOT stored
    in.addData(Doc(2, ts(1), base))
    q.processAllAvailable()
    in.addData(Doc(3, ts(3), base))
    q.processAllAvailable(); q.stop()
    val pairs = out.distinct.sorted.toSeq
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)),
      s"arrivals must compare against the stored member: $out")
    assert(!pairs.contains((2L, 3L)),
      s"a full bucket must not store post-cap arrivals: $out")
  }

  // s_stream_url_dedup (r15): crawl-frontier URL admission at ingest —
  // one Boolean of state per distinct canonical URL
  test("s_stream_url_dedup: id-ordered ingest at any batching admits the batch survivor set") {
    val corpus = graft.engine.io.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source")).as[(Long, String)]
      .collect().sortBy(_._1)
    val in = MemoryStream[LDoc](spark)
    val out = mutable.ArrayBuffer[(Long, String)]()
    // LDoc's lang slot carries the source column
    val q = Streams.streamingUrlDedup(
        in.toDF().select(col("doc_id"), col("lang").as("source")), "doc_id", "source")
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("url-dedup"))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.UrlAdmit], _: Long) =>
        out.synchronized { out ++= b.collect().map(a => (a.doc_id, a.canonical_url)) }
        ()
      }.start()
    // three uneven id-ordered batches: re-crawled URLs straddle cuts
    var from = 0
    for (to <- Seq(corpus.length / 4, (2 * corpus.length) / 3, corpus.length)) {
      in.addData(corpus.slice(from, to).map { case (id, src) =>
        LDoc(id, ts(id), src, s"body $id") }: _*)
      q.processAllAvailable()
      from = to
    }
    q.stop()
    val batch = graft.engine.ops.TextPipeline
      .urlDedup(corpus.toSeq.toDF("doc_id", "source"), "doc_id", "source")
      .select("survivor", "canonical_url").as[(Long, String)].collect().toSet
    assert(out.toSet == batch,
      s"streamed admissions must equal the batch survivor set (${out.size} vs ${batch.size})")
    assert(out.size < corpus.length,
      "parity must be non-vacuous: re-crawled URLs must have been bounced")
  }

  // s_stream_dedup_cascade (r16): the composed admission cascade at the
  // firehose — the URL gate's Boolean state plus the stateless
  // bloom/banded reference tiers, with per-tier ATTRIBUTION
  test("s_stream_dedup_cascade: per-tier verdicts are exact and batching-invariant") {
    val reference = (1L to 20L).map(i =>
      (i, s"ref tok${i}a tok${i}b alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val ref5 = s"ref tok5a tok5b alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // ref doc 3's token SET permuted: raw text differs (tier 2 misses),
    // token-set Jaccard is 1.0 (the banded tier collides deterministically)
    val near3 = s"kappa iota theta eta zeta epsilon delta gamma beta alpha tok3b tok3a ref"
    // arrivals (lang slot carries source): 100/114/107 share one
    // canonical URL (same source, ids ≡ 2 mod 7); 101 is a verbatim
    // reference copy; 102 the permuted near-dup; 103 fresh
    val arrivals = Map[Long, String](
      100L -> "fresh text one hundred with its own tokens",
      114L -> "different body, same canonical page",
      101L -> ref5,
      107L -> "yet another body on the shared page",
      102L -> near3,
      103L -> "another genuinely fresh document body")
    val expected = Map[Long, Option[String]](
      100L -> None, 114L -> Some("url"), 101L -> Some("exact"),
      107L -> Some("url"), 102L -> Some("near"), 103L -> None)
    def drive(tag: String, batches: Seq[Seq[Long]]): Map[Long, Option[String]] = {
      val in = MemoryStream[LDoc](spark)
      val out = mutable.ArrayBuffer[(Long, Option[String])]()
      val q = Streams.streamingDedupCascade(
        in.toDF().select(col("doc_id"), col("lang").as("source"), col("text")),
        "doc_id", "source", "text", reference, 0.9, tmpDir(tag),
        b => out.synchronized {
          out ++= b.collect().map(r => (r.getLong(0), Option(r.getString(1))))
        })
      batches.foreach { ids =>
        in.addData(ids.map(id => LDoc(id, ts(id), "srca", arrivals(id))): _*)
        q.processAllAvailable()
      }
      q.stop()
      out.toMap
    }
    // the URL-dup trio straddles a batch cut: 100+114 same batch
    // (min-id admits 100), 107 a later batch (state bounces it)
    val straddled = drive("cascade-a", Seq(Seq(100L, 114L, 101L), Seq(107L, 102L, 103L)))
    assert(straddled == expected, s"straddled-batch verdicts diverge: $straddled")
    // batching invariance: the whole id-ordered corpus as ONE batch
    // yields the identical verdict set
    val oneShot = drive("cascade-b", Seq(Seq(100L, 101L, 102L, 103L, 107L, 114L)))
    assert(oneShot == expected, s"one-batch verdicts diverge: $oneShot")
  }

  // s_stream_domain_cap: per-domain ingest quota, one counter per domain
  test("s_stream_domain_cap: one-batch ingest replays the batch domainCap keep set") {
    val docs = (1L to 20L).map(i =>
      LDoc(i, ts(i), if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c", s"t$i"))
    val in = MemoryStream[LDoc](spark)
    val out = mutable.ArrayBuffer[(Long, String)]()
    val q = Streams.streamingDomainCap(in.toDF(), "doc_id", "lang", cap = 3)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("domain-cap"))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.DomainAdmit], _: Long) =>
        out.synchronized { out ++= b.collect().map(a => (a.doc_id, a.domain)) }
        ()
      }.start()
    in.addData(docs: _*) // the whole corpus as ONE batch
    q.processAllAvailable(); q.stop()
    val batch = graft.engine.ops.TextPipeline
      .domainCap(docs.map(d => (d.doc_id, d.lang)).toDF("doc_id", "lang"),
        "doc_id", "lang", cap = 3)
      .select("doc_id", "domain").as[(Long, String)].collect().toSet
    assert(out.toSet == batch,
      s"single-batch ingest must replay the batch keep set: ${out.sorted} vs $batch")
    assert(out.size == 9, s"3 domains x cap 3: $out")
  }

  test("s_stream_domain_cap: quota counters survive kill-and-restart, later arrivals bounced") {
    val in = MemoryStream[LDoc](spark)
    val ckpt = tmpDir("domain-cap-restart")
    val out = mutable.ArrayBuffer[(Long, String)]()
    def start() = Streams.streamingDomainCap(in.toDF(), "doc_id", "lang", cap = 2)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.DomainAdmit], _: Long) =>
        out.synchronized { out ++= b.collect().map(a => (a.doc_id, a.domain)) }
        ()
      }.start()
    val q1 = start()
    in.addData(LDoc(1, ts(1), "x", "t1"))
    q1.processAllAvailable()
    q1.stop() // kill: the domain counter must survive in the checkpoint
    val q2 = start()
    in.addData(LDoc(2, ts(2), "x", "t2"), LDoc(3, ts(2), "x", "t3"),
               LDoc(4, ts(2), "y", "t4"))
    q2.processAllAvailable()
    in.addData(LDoc(5, ts(3), "x", "t5"), LDoc(6, ts(3), "y", "t6"))
    q2.processAllAvailable(); q2.stop()
    val admitted = out.sorted.toSeq
    val perDomain = admitted.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(perDomain("x").contains(1L),
      s"pre-kill admission must stand after restart: $admitted")
    assert(perDomain("x").size == 2,
      s"domain x quota is 2 across the restart, not per query run: $admitted")
    assert(!perDomain("x").contains(5L),
      s"post-quota arrival must bounce: $admitted")
    // within the post-restart batch, the seeded keyMix order decides
    // which of 2/3 takes x's last slot — keyMix(2) = 1013904226 <
    // keyMix(3) = 3668339987, so doc 2 wins
    assert(perDomain("x").contains(2L) && !perDomain("x").contains(3L),
      s"in-batch admission follows keyMix order: $admitted")
    assert(perDomain("y").sorted == Seq(4L, 6L),
      s"an under-cap domain admits across batches: $admitted")
  }

  // s_stream_pack: streaming sequence packing — one token counter per
  // doc; assignment == the batch window under ANY micro-batch slicing
  test("s_stream_pack: packing across batch splits equals the batch packer") {
    // 3 docs x 5 chunks of 7 tokens, budget 16: chunk boundaries land
    // mid-sequence, and the batch split below cuts doc 2 across batches
    val chunks = for (d <- 1L to 3L; i <- 1L to 5L) yield (d, i, 7L)
    val in = MemoryStream[(Long, Long, Long)](spark)
    val out = mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val q = Streams.streamingPack(
        in.toDF().toDF("doc_id", "chunk_idx", "n_toks"),
        "doc_id", "chunk_idx", "n_toks", budget = 16)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("stream-pack"))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.PackAssign], _: Long) =>
        out.synchronized {
          out ++= b.collect().map(p => (p.doc_id, p.chunk_idx, p.n_toks, p.seq_id))
        }
        ()
      }.start()
    // slice so doc 2's prefix sum MUST cross a micro-batch boundary
    val (first, rest) = chunks.partition(c => c._1 < 2 || (c._1 == 2 && c._2 <= 2))
    in.addData(first: _*); q.processAllAvailable()
    in.addData(rest: _*); q.processAllAvailable(); q.stop()
    val batch = graft.engine.ops.TextPipeline
      .packSequences(chunks.toDF("doc_id", "chunk_idx", "n_toks"),
        "doc_id", "chunk_idx", "n_toks", budget = 16)
      .select("doc_id", "chunk_idx", "n_toks", "seq_id")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out.toSet == batch,
      s"streamed assignment must equal the batch window: ${out.sorted} vs ${batch.toSeq.sorted}")
    assert(out.size == chunks.size, s"every chunk assigned exactly once: $out")
    // 5x7=35 tokens at budget 16 → seqs 0,0,0(overflowing),1,1? exact:
    // cum_before 0,7,14,21,28 → 0,0,0,1,1 per doc
    assert(out.filter(_._1 == 2L).sortBy(_._2).map(_._4).toSeq == Seq(0L, 0L, 0L, 1L, 1L),
      s"per-doc seq ids follow the token prefix sum: $out")
  }

  test("s_stream_pack: the per-doc token counter survives kill-and-restart") {
    val in = MemoryStream[(Long, Long, Long)](spark)
    val ckpt = tmpDir("stream-pack-restart")
    val out = mutable.ArrayBuffer[(Long, Long, Long)]()
    def start() = Streams.streamingPack(
        in.toDF().toDF("doc_id", "chunk_idx", "n_toks"),
        "doc_id", "chunk_idx", "n_toks", budget = 10)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.PackAssign], _: Long) =>
        out.synchronized { out ++= b.collect().map(p => (p.doc_id, p.chunk_idx, p.seq_id)) }
        ()
      }.start()
    val q1 = start()
    in.addData((7L, 1L, 6L), (7L, 2L, 6L)) // cum 0, 6 → seqs 0, 0
    q1.processAllAvailable()
    q1.stop() // kill: counter (12) must survive in the checkpoint
    val q2 = start()
    in.addData((7L, 3L, 6L), (7L, 4L, 6L)) // cum 12, 18 → seqs 1, 1
    q2.processAllAvailable(); q2.stop()
    assert(out.sorted.toSeq == Seq((7L, 1L, 0L), (7L, 2L, 0L), (7L, 3L, 1L), (7L, 4L, 1L)),
      s"restart must resume the prefix sum, not restart it: $out")
  }

  // s_stream_cluster_maintenance: per-batch incremental cluster-table
  // lifecycle — standing table == from-scratch clustering at EVERY batch
  test("s_stream_cluster_maintenance: standing table equals from-scratch clustering after every batch") {
    val fixture = graft.engine.io.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val in = MemoryStream[Doc](spark)
    val maint = new Streams.ClusterMaintenance("doc_id", "text", 0.9)
    val q = Streams.streamingClusterMaintenance(
      in.toDF().select(col("doc_id"), col("text")),
      tmpDir("cluster-maint"), maint)
    // three uneven batches — the self-similar fixture guarantees real
    // cross-batch near-dup pairs, so the incremental path (probe +
    // within-batch + ccIncremental) does real merging work
    val cuts = Seq(fixture.length / 4, fixture.length / 2, fixture.length)
    var from = 0
    for (to <- cuts) {
      in.addData(fixture.slice(from, to).map { case (id, t) => Doc(id, ts(id), t) }: _*)
      q.processAllAvailable()
      val ingested = fixture.take(to)
      val got = maint.current.get.as[(Long, Long)].collect().toMap
      val scratch = scratchClusters(ingested.toSeq.toDF("doc_id", "text"))
        .as[(Long, Long)].collect().toMap
      assert(got == scratch,
        s"standing table must equal from-scratch clustering after ${to} docs")
      from = to
    }
    q.stop()
    // the maintained table must contain real multi-doc clusters (the
    // fixture is self-similar), or the parity assertions were vacuous
    val sizes = maint.current.get.groupBy("cluster").count()
      .agg(max("count")).head().getLong(0)
    assert(sizes > 1, "fixture must produce at least one multi-doc cluster")
  }

  test("s_stream_cluster_maintenance: kill-and-restart resumes from the persisted standing tables") {
    val fixture = graft.engine.io.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val cut = fixture.length / 2
    val in = MemoryStream[Doc](spark)
    val ckpt = tmpDir("cluster-maint-restart") // ONE checkpoint across the kill
    val m1 = new Streams.ClusterMaintenance("doc_id", "text", 0.9)
    val q1 = Streams.streamingClusterMaintenance(
      in.toDF().select(col("doc_id"), col("text")), ckpt, m1)
    in.addData(fixture.take(cut).map { case (id, t) => Doc(id, ts(id), t) }: _*)
    q1.processAllAvailable()
    q1.stop() // kill
    // the production writer's persisted artifacts, round-tripped through
    // storage: the standing corpus and the cluster table
    val store = tmpDir("maint-store")
    m1.corpusDocs.get.write.parquet(s"$store/corpus")
    m1.current.get.write.parquet(s"$store/standing")
    // fresh process: re-seed from storage, resume the SAME checkpoint —
    // the source re-delivers only post-crash batches
    val m2 = new Streams.ClusterMaintenance("doc_id", "text", 0.9)
    m2.resume(spark.read.parquet(s"$store/corpus"),
              spark.read.parquet(s"$store/standing"))
    val q2 = Streams.streamingClusterMaintenance(
      in.toDF().select(col("doc_id"), col("text")), ckpt, m2)
    in.addData(fixture.drop(cut).map { case (id, t) => Doc(id, ts(id), t) }: _*)
    q2.processAllAvailable(); q2.stop()
    val got = m2.current.get.as[(Long, Long)].collect().toMap
    val scratch = scratchClusters(fixture.toSeq.toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toMap
    assert(got == scratch,
      "resumed maintenance must continue the from-scratch invariant across the restart")
  }

  // s_stream_cluster_snapshot (r11 verdict item 7): the standing table's
  // versioned upserts commit through the Compaction overlay manifest;
  // a reader pinned to the pre-batch generation sees a CONSISTENT
  // snapshot while (and after) the next batch's upsert lands — the
  // snapshot-isolation story a 100 TB standing table needs.
  test("s_stream_cluster_snapshot: a reader pinned to the pre-batch generation is isolated from a mid-flight upsert") {
    val fixture = graft.engine.io.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val landing = tmpDir("cluster-snap")
    // the production writer: each batch's `changed` slice appended as a
    // versioned keyed upsert (≥2 files so compaction always has a bin)
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (chg, v) =>
      chg.withColumn("version", lit(v)).repartition(2)
        .write.mode("append").parquet(landing)
    val in = MemoryStream[Doc](spark)
    val maint = new Streams.ClusterMaintenance("doc_id", "text", 0.9, Some(sink))
    val q = Streams.streamingClusterMaintenance(
      in.toDF().select(col("doc_id"), col("text")), tmpDir("cluster-snap-ckpt"), maint)
    // reader side: latest-per-key resolve over a manifest-pinned file set
    def resolve(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.engine.ops.TextPipeline.latestPerKey(df, "id", "version", "version")
        .select("id", "cluster").as[(Long, Long)].collect().toMap
    def scratch(n: Int): Map[Long, Long] =
      scratchClusters(fixture.take(n).toSeq.toDF("doc_id", "text"))
        .as[(Long, Long)].collect().toMap

    val cut = fixture.length / 2
    in.addData(fixture.take(cut).map { case (id, t) => Doc(id, ts(id), t) }: _*)
    q.processAllAvailable()
    val res1 = Compaction.compact(spark, landing, 512L * 1024 * 1024)
    assert(res1.gen == 1L, "first upsert commit must open generation 1")
    val v1 = resolve(Compaction.readAt(spark, landing, 1L))
    assert(v1 == scratch(cut), "generation 1 must resolve to the post-batch-1 table")

    // batch 2's upsert LANDS (files appended) but no generation commits
    // yet — the mid-upsert window
    in.addData(fixture.drop(cut).map { case (id, t) => Doc(id, ts(id), t) }: _*)
    q.processAllAvailable()
    assert(resolve(Compaction.readAt(spark, landing, 1L)) == v1,
      "a reader pinned to generation 1 must not see the in-flight upsert")
    // the CURRENT manifest-aware read picks the landed upsert up at once
    // (sink semantics), and matches the writer's own standing table
    val cur = resolve(Compaction.read(spark, landing))
    assert(cur == scratch(fixture.length))
    assert(cur == maint.current.get.as[(Long, Long)].collect().toMap)
    q.stop()

    // commit generation 2: both generations resolve, each to its own
    // consistent point-in-time table
    val res2 = Compaction.compact(spark, landing, 512L * 1024 * 1024)
    assert(res2.gen == 2L)
    assert(resolve(Compaction.readAt(spark, landing, 2L)) == scratch(fixture.length))
    assert(resolve(Compaction.readAt(spark, landing, 1L)) == v1,
      "the pinned pre-batch view must outlive the new generation's commit")
    // retention ≥ the pinned generation keeps its snapshot alive through
    // vacuum; dropping retention to 1 is the documented end of time travel
    Compaction.vacuum(spark, landing, retainGenerations = 2)
    assert(resolve(Compaction.readAt(spark, landing, 1L)) == v1)
    Compaction.vacuum(spark, landing, retainGenerations = 1)
    intercept[Exception](Compaction.readAt(spark, landing, 1L).collect())
    assert(resolve(Compaction.read(spark, landing)) == scratch(fixture.length))
  }

  // s_stream_missing_links (r11 verdict item 8): the recall-repair loop
  // as a per-batch stage — a banding-missed TRUE pair in the standing
  // graph is confirmed mid-stream exactly once, closes its wedge, and
  // the confirmation survives kill-and-restart without duplicating.
  test("s_stream_missing_links: a banding-missed pair is recovered mid-stream once, kill-and-restart safe") {
    // the batch premise (TextSimilaritySpec missingLinksVerify): B
    // near-dups A and C, A~C is a TRUE pair (jac 19/21 ≈ 0.9048) the
    // banding missed; 10-11-12 is the drift chain whose endpoints are
    // NOT a true pair (queued, verified, refuted)
    val w = (1 to 20).map(i => s"w$i").mkString(" ")
    val u = (1 to 12).map(i => s"u$i").mkString(" ")
    val seedCorpus = Seq(
      (1L, w), (2L, w + " x"),
      (3L, (1 to 19).map(i => s"w$i").mkString(" ") + " x"),
      (10L, u), (11L, u + " z"),
      (12L, (1 to 8).map(i => s"u$i").mkString(" ") + " y1 y2 y3 y4"))
      .toDF("doc_id", "text")
    // the standing graph AS BANDING LEFT IT: both bridges missing
    val seedEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L))
      .toDF("doc_id_1", "doc_id_2")
    val seedStanding = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L)).toDF("id", "cluster")

    val in = MemoryStream[Doc](spark)
    val ckpt = tmpDir("recall-repair-ckpt") // ONE checkpoint across the kill
    val m1 = new Streams.RecallRepairMaintenance("doc_id", "text", 0.9, minCommon = 1)
    m1.resume(seedCorpus, seedEdges, seedStanding)
    val q1 = Streams.streamingRecallRepair(
      in.toDF().select(col("doc_id"), col("text")), ckpt, m1)
    // batch 0: an unrelated arrival triggers the queue pass
    in.addData(Doc(100L, ts(100), (1 to 9).map(i => s"q$i").mkString(" ")))
    q1.processAllAvailable()
    val audit1 = m1.confirmedAudit.get
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(audit1 == Set((1L, 3L, 0.9048, 0L)),
      "the banding-missed pair must be confirmed mid-stream; the drift chain refuted")
    assert(m1.standingEdges.get.as[(Long, Long)].collect().toSet.contains((1L, 3L)),
      "the confirmed edge must join the standing graph")
    assert(m1.refutedPairs.get.as[(Long, Long)].collect().toSeq == Seq((10L, 12L)),
      "the refuted drift-chain pair must enter the ledger")
    // batch 1: the confirmed wedge is closed AND the refuted pair is
    // ledger-excluded — nothing is audited twice
    in.addData(Doc(101L, ts(101), (1 to 9).map(i => s"r$i").mkString(" ")))
    q1.processAllAvailable()
    assert(m1.confirmedAudit.get.count() == 1L,
      "a confirmed link must be confirmed exactly once per lifecycle")
    assert(m1.refutedPairs.get.count() == 1L,
      "a refuted pair must be audited exactly once per lifecycle — its open wedge is ledger-excluded")
    q1.stop() // kill

    // the writer's persisted artifacts, round-tripped through storage
    val store = tmpDir("repair-store")
    m1.corpusDocs.get.write.parquet(s"$store/corpus")
    m1.standingEdges.get.write.parquet(s"$store/edges")
    m1.current.get.write.parquet(s"$store/standing")
    m1.refutedPairs.get.write.parquet(s"$store/refuted")
    val m2 = new Streams.RecallRepairMaintenance("doc_id", "text", 0.9, minCommon = 1)
    m2.resume(spark.read.parquet(s"$store/corpus"),
      spark.read.parquet(s"$store/edges"),
      spark.read.parquet(s"$store/standing"),
      seedRefuted = Some(spark.read.parquet(s"$store/refuted")))
    val q2 = Streams.streamingRecallRepair(
      in.toDF().select(col("doc_id"), col("text")), ckpt, m2)
    in.addData(Doc(102L, ts(102), (1 to 9).map(i => s"s$i").mkString(" ")))
    q2.processAllAvailable(); q2.stop()
    // the committed confirmation survived the restart: the resumed
    // lifecycle re-verifies nothing it already repaired — and the
    // resumed refuted ledger keeps the drift pair excluded too
    assert(m2.confirmedAudit.forall(_.count() == 0L),
      "a restart from committed artifacts must not re-confirm the repaired link")
    assert(m2.refutedPairs.get.count() == 1L,
      "the resumed ledger must keep the refuted pair excluded, not re-audit it")
    // and the standing table stays the from-scratch fixpoint over the
    // WIDENED graph: {A,B,C} one family, the drift chain untouched
    val got = m2.current.get.as[(Long, Long)].collect().toMap
    val expect = graft.engine.ops.TextPipeline.dedupClusters(
      m2.corpusDocs.get, "doc_id", m2.standingEdges.get)
      .as[(Long, Long)].collect().toMap
    assert(got == expect, "resumed standing table must equal from-scratch over the repaired graph")
    assert(got(1L) == got(2L) && got(2L) == got(3L))
    assert(got(10L) == got(11L) && got(11L) == got(12L) && got(10L) != got(1L))
  }

  // s_stream_line_dedup: C4-style exact line dedup at ingest — batch
  // parity at any slicing, doc drop-out, kill-and-restart from the
  // persisted line registry
  test("s_stream_line_dedup: first-occurrence lines survive across batches, parity with the batch operator, restart-safe") {
    val d1 = (1L, "a b c.\nall rights reserved.\nfoo bar baz.")
    val d2 = (2L, "all rights reserved.\n\nqux quux corge.") // blank line: not a line
    val d3 = (3L, "all rights reserved.")            // loses its only line
    val d4 = (4L, "foo bar baz.\nbrand new line.\n") // trailing newline: not a line
    val in = MemoryStream[Doc](spark)
    val ckpt = tmpDir("line-dedup-ckpt")
    val m1 = new Streams.LineDedupMaintenance("doc_id", "text")
    val q1 = Streams.streamingLineDedup(
      in.toDF().select(col("doc_id"), col("text")), ckpt, m1)
    in.addData(Doc(d1._1, ts(1), d1._2), Doc(d2._1, ts(2), d2._2))
    q1.processAllAvailable()
    in.addData(Doc(d3._1, ts(3), d3._2), Doc(d4._1, ts(4), d4._2))
    q1.processAllAvailable()
    val got = m1.current.get.as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((3L, 3L, d1._2)), "the first doc keeps everything")
    assert(got(2L) == ((2L, 1L, "qux quux corge.")),
      "the within-batch duplicate line must strip")
    // dedup-only face (r14): a fully-deduped doc emits the ZERO row —
    // exactly batch Lines.lineDedup's accounting (the reflow face keeps
    // the C4 doc drop-out instead)
    assert(got(3L) == ((1L, 0L, "")), "a doc stripped of every line keeps its zero row")
    assert(got(4L) == ((2L, 1L, "brand new line.")),
      "a line standing from an earlier batch must strip")
    // batch parity: the same lines through the BATCH operator agree on
    // EVERY ingested doc's accounting (id order == arrival order)
    val allLines = Seq(d1, d2, d3, d4).toDF("doc_id", "text")
      .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("i", "line")))
      .select(col("doc_id"), (col("i") + 1).cast("long").as("line_no"), col("line"))
      .filter(length(col("line")) > 0) // the operator's empty-line contract
    val batchSide = graft.engine.ops.Lines.lineDedup(allLines)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    got.foreach { case (id, (nl, nk, _)) =>
      assert(batchSide(id) == ((nl, nk)), s"doc $id must match the batch accounting")
    }
    // exact accounting parity: the stream emits the SAME doc set as
    // the batch twin (the zero row included)
    assert(got.keySet == batchSide.keySet)
    q1.stop() // kill

    // restart from the persisted registry; the source re-delivers only
    // post-crash batches through the same checkpoint
    val store = tmpDir("linereg") + "/registry"
    m1.standingLines.get.write.parquet(store)
    val m2 = new Streams.LineDedupMaintenance("doc_id", "text")
    m2.resume(spark.read.parquet(store))
    val q2 = Streams.streamingLineDedup(
      in.toDF().select(col("doc_id"), col("text")), ckpt, m2)
    in.addData(Doc(5L, ts(5), "qux quux corge.\nfresh after restart."))
    q2.processAllAvailable(); q2.stop()
    val got2 = m2.current.get.as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got2 == Map(5L -> ((2L, 1L, "fresh after restart."))),
      "the resumed registry must keep stripping lines committed before the crash")
  }

  // r14 compaction boundary: the standing stores are lazy unions of
  // delta parts collapsed every compactEvery appends — the registry row
  // SET must be invariant to where the collapse lands (every period,
  // incl. collapsing on the final append and never collapsing at all)
  test("line registry compaction: row set invariant across compactEvery periods") {
    val docs = (1L to 9L).map { i =>
      // every third doc repeats doc 1's line — cross-batch dups exist
      val line = if (i % 3 == 0) "shared boilerplate line." else s"unique line $i."
      (i, s"$line\nalways line $i.")
    }
    def registry(compactEvery: Int): Seq[String] = {
      val m = new Streams.LineDedupMaintenance("doc_id", "text", compactEvery = compactEvery)
      docs.grouped(2).foreach { g =>
        m.ingest(g.toDF("doc_id", "text"))
      }
      m.standingLines.get.as[String].collect().sorted.toSeq
    }
    val baseline = registry(compactEvery = 100) // never collapses in 5 batches
    assert(baseline.nonEmpty && baseline.size < 18, "dups must exist for the pin to bite")
    Seq(1, 2, 3, 5).foreach { k =>
      assert(registry(k) == baseline, s"compactEvery=$k changed the registry row set")
    }
  }

  // s_stream_line_dedup (reflow face): rules + registry at ingest must
  // reproduce the batch docReflow output bit-for-bit over the whole
  // fixture corpus, at an arbitrary batch slicing
  test("s_stream_line_dedup: the reflow-at-ingest face equals batch docReflow over the streamed fixture corpus") {
    import graft.engine.ops.Lines
    val docs = graft.engine.io.Tables.documents(spark, sfDir)
    val mlDocs = Lines.mlLines(docs, "doc_id", "text")
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("line_no"), col("line")))),
        x => x.getField("line")), "\n").as("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val in = MemoryStream[Doc](spark)
    val maint = new Streams.LineDedupMaintenance("doc_id", "text", applyFilters = true)
    val q = Streams.streamingLineDedup(
      in.toDF().select(col("doc_id"), col("text")), tmpDir("reflow-ingest"), maint)
    // three uneven id-ordered batches — the batch survivor rule's order
    val cuts = Seq(mlDocs.length / 5, mlDocs.length / 2, mlDocs.length)
    var from = 0
    for (to <- cuts) {
      in.addData(mlDocs.slice(from, to).map { case (id, t) => Doc(id, ts(id), t) }: _*)
      q.processAllAvailable()
      from = to
    }
    q.stop()
    val streamed = maint.current.get
      .select("doc_id", "n_kept", "text").as[(Long, Long, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val batch = Lines.docReflow(Lines.mlLines(docs, "doc_id", "text"))
      .select("doc_id", "n_lines_kept", "text").as[(Long, Long, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(streamed == batch,
      "reflow at ingest must be bit-identical to batch docReflow (same docs kept, same text)")
    assert(streamed.nonEmpty && streamed.size < mlDocs.length,
      "parity must be non-vacuous: some docs reflow, some drop")

    // END-TO-END handoff (r14, the RefinedWeb-order pipeline): the
    // stream-ingested reflow corpus piped through the BATCH doc gates
    // must reproduce q_curation_pipeline's manifest exactly — i.e. a
    // deployment that line-curates at ingest (this maintenance) and
    // runs the doc-level gates as a downstream batch job produces the
    // same corpus build as the all-batch pipeline. r15: the batch
    // pipeline slices BEFORE curation (held-out eval docs never enter
    // the corpus line registry), so the production-ingest model here is
    // a stream carrying ONLY the trainable corpus — a second
    // maintenance ingests the doc_id >= 10 slice (the full-corpus
    // stream above keeps the unsliced batch-parity pin).
    import graft.engine.ops.TextPipeline
    val docsTbl = graft.engine.io.Tables.documents(spark, sfDir)
    val inC = MemoryStream[Doc](spark)
    val maintC = new Streams.LineDedupMaintenance("doc_id", "text", applyFilters = true)
    val qC = Streams.streamingLineDedup(
      inC.toDF().select(col("doc_id"), col("text")), tmpDir("reflow-ingest-ge10"), maintC)
    val mlCorpus = mlDocs.filter(_._1 >= 10)
    var fromC = 0
    for (to <- Seq(mlCorpus.length / 3, mlCorpus.length)) {
      inC.addData(mlCorpus.slice(fromC, to).map { case (id, t) => Doc(id, ts(id), t) }: _*)
      qC.processAllAvailable()
      fromC = to
    }
    qC.stop()
    val corpusFromStream = maintC.current.get.select(col("doc_id"), col("text"))
      .join(docsTbl.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .localCheckpoint()
    val viaStream = TextPipeline.curationPipeline(corpusFromStream, "doc_id", "text",
        docsTbl.filter(col("doc_id") < 10), Seq("lang"), nearDupPairs(corpusFromStream, 0.9),
        repCaps = Some((1000L, 500L)), lmFloor = Some(32000L))
      .as[(String, String, Long, Long)].collect().toSeq
    val allBatch = graft.SparkEntry.queries("q_curation_pipeline")(spark, sfDir)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(viaStream == allBatch,
      s"stream-fed pipeline manifest diverged from the batch pipeline:\n$viaStream\nvs\n$allBatch")
  }

  // s_stream_quality_classifier: offline-trained token weights served
  // as one broadcast map row, scored per arrival with zero state
  test("s_stream_quality_classifier: in-stream scores equal the batch classifier row-for-row") {
    val labeled = Seq(
      (1L, "red green blue yellow", true),
      (2L, "cat dog bird fish", true),
      (3L, "spam spam spam spam", false),
      (4L, "junk junk junk junk", false)).toDF("doc_id", "text", "pos")
    val model = graft.engine.ops.TextPipeline.qualityClassifierTrain(labeled, "text", "pos")
    val d = Map(10L -> "red cat blue dog", 11L -> "spam junk spam junk",
                12L -> "totally unseen words here")
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, Long, Boolean)]()
    val q = Streams.streamingQualityClassify(in.toDF(), "doc_id", "text", model)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("quality-clf"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.as[(Long, Long, Boolean)].collect() }
        ()
      }.start()
    in.addData(Doc(10, ts(1), d(10L)), Doc(11, ts(1), d(11L)))
    q.processAllAvailable()
    in.addData(Doc(12, ts(2), d(12L)))
    q.processAllAvailable(); q.stop()
    val batch = graft.engine.ops.TextPipeline.qualityClassifierScore(
        d.toSeq.map { case (id, t) => (id, t) }.toDF("doc_id", "text"),
        "doc_id", "text", model, ordered = false)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out.toSet == batch, s"stream ${out.sorted} vs batch $batch")
    assert(out.size == 3)
  }

  // s_stream_dsir: offline-trained hashed-n-gram importance weights
  // served as one broadcast map row, scored per arrival with zero state
  test("s_stream_dsir: in-stream importance scores equal the batch scorer row-for-row") {
    val corpus = Seq(
      (1L, "en", "alpha beta gamma alpha beta"),
      (2L, "en", "alpha gamma beta gamma alpha"),
      (3L, "de", "zett neun acht sieben zett"),
      (4L, "de", "neun zett sieben acht neun")).toDF("doc_id", "lang", "text")
    val table = graft.engine.ops.TextPipeline.dsirTable(
      corpus, "doc_id", "text", col("lang") === "en")
    val d = Map(10L -> "alpha beta gamma beta", 11L -> "zett acht neun neun",
                12L -> "totally unseen words here")
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, Long, Long)]()
    val q = Streams.streamingDsirScore(in.toDF(), "doc_id", "text", table)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("dsir-stream"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.as[(Long, Long, Long)].collect() }
        ()
      }.start()
    in.addData(Doc(10, ts(1), d(10L)), Doc(11, ts(1), d(11L)))
    q.processAllAvailable()
    in.addData(Doc(12, ts(2), d(12L)))
    q.processAllAvailable(); q.stop()
    val batch = graft.engine.ops.TextPipeline.dsirScore(
        d.toSeq.map { case (id, t) => (id, t) }.toDF("doc_id", "text"),
        "doc_id", "text", table, ordered = false)
      .as[(Long, Long, Long)].collect().toSet
    assert(out.toSet == batch, s"stream ${out.sorted} vs batch $batch")
    assert(out.size == 3)
    // the target-vocabulary arrival must outrank the raw-only arrival —
    // the selection semantics the broadcastable table exists to serve
    val scores = out.map(r => r._1 -> r._3).toMap
    assert(scores(10L) > scores(11L), s"ranking must survive the stream face: $scores")
  }

  // s_stream_winnow: stateless positional-copy probe of the standing
  // winnow-fingerprint index; each qualifying (ref, new) pair emits
  // exactly once (on its smallest shared fingerprint), so parity with
  // a batch recomputation over the same sets is exact
  test("s_stream_winnow: probe pairs equal a batch fingerprint-set recomputation") {
    val sh = (1 to 16).map(i => s"s$i").mkString(" ")
    val ref = Seq(
      (1L, s"a1 a2 a3 $sh a4"),
      (2L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12")).toDF("doc_id", "text")
    // the index is the persisted artifact: write, reload, probe
    val idxPath = tmpDir("winnow-index")
    graft.engine.ops.TextPipeline.winnowIndex(ref, "doc_id", "text")
      .write.mode("overwrite").parquet(idxPath)
    val index = spark.read.parquet(idxPath)
    val d = Map(
      10L -> s"c1 c2 $sh c3",          // shares the 16-token run with ref 1
      11L -> "d1 d2 d3 d4 d5 d6 d7 d8 d9", // shares nothing
      12L -> "too short")              // under k tokens: no fingerprints
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, Long, Long)]()
    val q = Streams.streamingWinnowProbe(in.toDF(), "doc_id", "text", index, minShared = 1)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("winnow-stream"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.as[(Long, Long, Long)].collect() }
        ()
      }.start()
    in.addData(Doc(10, ts(1), d(10L)), Doc(11, ts(1), d(11L)))
    q.processAllAvailable()
    in.addData(Doc(12, ts(2), d(12L)))
    q.processAllAvailable(); q.stop()
    // batch recomputation from the capped fingerprint sets (cap=64 is
    // vacuous on this corpus): shared count per (ref, new)
    def fpSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      graft.engine.ops.TextPipeline.winnowFingerprints(df, "doc_id", "text", ordered = false)
        .select("doc_id", "fp").distinct().as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val refSets = fpSets(ref)
    val newSets = fpSets(d.toSeq.map { case (id, t) => (id, t) }.toDF("doc_id", "text"))
    val expected = (for {
      (rid, rset) <- refSets.toSeq
      (nid, nset) <- newSets.toSeq
      inter = rset & nset
      if inter.nonEmpty
    } yield (rid, nid, inter.size.toLong)).toSet
    assert(out.toSet == expected, s"stream ${out.sorted} vs batch $expected")
    // the run-sharing arrival pairs with its source; the stranger and
    // the under-k doc never surface
    assert(out.exists(p => p._1 == 1L && p._2 == 10L && p._3 >= 2L))
    assert(!out.exists(p => p._2 == 11L || p._2 == 12L))
  }

  // s_stream_ppl_bucket: offline LM + offline tercile thresholds tag
  // each arrival; parity with the batch bucketing on the same docs
  test("s_stream_ppl_bucket: in-stream tercile tags equal the batch buckets doc-for-doc") {
    val corpus = (0 until 24).map { i =>
      val lang = if (i % 2 == 0) "en" else "de"
      val base = if (lang == "en") Seq("alpha", "beta", "gamma", "delta")
                 else Seq("zett", "neun", "acht", "sieben")
      (i.toLong, lang, (0 to 6).map(j => base((i + j) % (2 + i % 3))).mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val lm = graft.engine.ops.TextPipeline.lmTableBackoff(
      corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val thr = graft.engine.ops.TextPipeline.perplexityThresholds(
      corpus, "doc_id", "text", "lang", lm)
    val batch = graft.engine.ops.TextPipeline.perplexityBuckets(
        corpus, "doc_id", "text", "lang", lm)
      .as[(Long, String, Long, String)].collect().toSet
    val rows = corpus.as[(Long, String, String)].collect()
    val in = MemoryStream[LDoc](spark)
    val out = mutable.ArrayBuffer[(Long, String, Option[Long], Option[String])]()
    val q = Streams.streamingPplBucket(in.toDF(), "doc_id", "text", "lang", lm, thr)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("ppl-stream"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.as[(Long, String, Option[Long], Option[String])].collect() }
        ()
      }.start()
    rows.foreach { case (id, lang, text) => in.addData(LDoc(id, ts(id), lang, text)) }
    // sub-trigram + unseen-stratum arrivals surface with null bucket
    in.addData(LDoc(100, ts(100), "en", "tiny doc"), LDoc(101, ts(101), "fr", "quoi que ce soit ici"))
    q.processAllAvailable(); q.stop()
    val streamed = out.filter(_._1 < 100)
      .map { case (id, lang, sc, b) => (id, lang, sc.get, b.get) }.toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(out.exists(r => r._1 == 100L && r._3.isEmpty && r._4.isEmpty))
    assert(out.exists(r => r._1 == 101L && r._3.isDefined && r._4.isEmpty))
  }

  // s_stream_span_pairs: the batch generator IS the streaming face —
  // fully narrow and a pure function of the id, so the pairs generate
  // at ingest and match the batch output doc-for-doc
  test("s_stream_span_pairs: in-stream positive pairs equal the batch generator") {
    val mk = (id: Long, n: Int) => (id, (1 to n).map(i => s"t${id}_$i").mkString(" "))
    val corpus = Seq(mk(1, 20), mk(2, 16), mk(3, 10)).toDF("doc_id", "text")
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, Long, Long, Long, String, String)]()
    val q = graft.engine.ops.TextPipeline.spanPairs(in.toDF(), "doc_id", "text", ordered = false)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("span-stream"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.as[(Long, Long, Long, Long, String, String)].collect() }
        ()
      }.start()
    corpus.as[(Long, String)].collect().foreach { case (id, t) => in.addData(Doc(id, ts(id), t)) }
    q.processAllAvailable(); q.stop()
    val batch = graft.engine.ops.TextPipeline.spanPairs(corpus, "doc_id", "text")
      .as[(Long, Long, Long, Long, String, String)].collect().toSet
    assert(out.toSet == batch, s"stream ${out.sorted} vs batch $batch")
    assert(!out.exists(_._1 == 3L), "under-16-token docs must emit nothing")
    assert(out.map(_._1).toSet == Set(1L, 2L))
  }

  // s_stream_vocab_oov: the offline top-V vocab as one broadcast row;
  // arrivals fold their own OOV rate — parity with the batch audit on
  // the same docs, plus the empty-arrival surfacing the batch op lacks
  test("s_stream_vocab_oov: in-stream OOV rates equal the batch audit doc-for-doc") {
    val corpus = Seq(
      (0L, "alpha beta gamma alpha"), (2L, "alpha beta beta delta"),
      (4L, "gamma gamma alpha beta"), (1L, "alpha zeta beta"),
      (3L, "eta theta iota")).toDF("doc_id", "text")
    val vocab = graft.engine.ops.TextPipeline.vocabTable(corpus, "doc_id", "text", 3)
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, Long, Long, Option[Long])]()
    val q = Streams.streamingVocabCoverage(in.toDF(), "doc_id", "text", vocab)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("vocab-stream"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.as[(Long, Long, Long, Option[Long])].collect() }
        ()
      }.start()
    corpus.as[(Long, String)].collect().foreach { case (id, t) => in.addData(Doc(id, ts(id), t)) }
    in.addData(Doc(100, ts(100), " ")) // tokenizes to nothing
    q.processAllAvailable(); q.stop()
    val batch = graft.engine.ops.TextPipeline.vocabCoverage(corpus, "doc_id", "text", 3, ordered = false)
      .as[(Long, Long, Long, Long)].collect().toSet
    val streamed = out.filter(_._1 < 100).map { case (id, nt, no, bp) => (id, nt, no, bp.get) }.toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    // the empty arrival surfaces with zero tokens and a null rate
    assert(out.exists(r => r._1 == 100L && r._2 == 0L && r._4.isEmpty))
  }

  // s_stream_dedup_incremental: stateless delta-vs-index probe — the
  // streaming face of minhashNearDupIncremental over the SAME standing
  // index (parity is exact at any parameter point because both sides
  // compute identical band keys: they hit or miss candidates together)
  test("s_stream_dedup_incremental: stream pairs equal the batch incremental op on the same data") {
    val ref = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      (2L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    // the index is the PERSISTED artifact of the rolling build: write it
    // to parquet and probe the RELOADED copy, as production would
    val idxPath = tmpDir("dedup-inc-index")
    graft.engine.ops.Similarity.minhashBandedIndex(ref, "doc_id", "text")
      .write.mode("overwrite").parquet(idxPath)
    val index = spark.read.parquet(idxPath)
    val d10 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet" // exact dup of ref 1
    val d11 = "alpha bravo charlie delta echo foxtrot golf hotel india kilo"   // near ref 1
    val d12 = "completely novel content with nothing shared here at all"
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, Long, Double)]()
    val q = Streams.streamingNearDupIncremental(in.toDF(), "text", index, 0.5)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("dedup-inc"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.as[(Long, Long, Double)].collect() }
        ()
      }.start()
    in.addData(Doc(10, ts(1), d10), Doc(12, ts(1), d12))
    q.processAllAvailable()
    in.addData(Doc(11, ts(2), d11))
    q.processAllAvailable(); q.stop()
    val batch = graft.engine.ops.Similarity.minhashNearDupIncremental(
        ref, Seq((10L, d10), (11L, d11), (12L, d12)).toDF("doc_id", "text"),
        "doc_id", "text", 0.5, ordered = false)
      .as[(Long, Long, Double)].collect().toSet
    // per-band duplicate emissions dedup to exactly the batch pair set
    assert(out.distinct.toSet == batch, s"stream ${out.distinct.sorted} vs batch $batch")
    assert(batch.contains((1L, 10L, 1.0)), s"exact cross-slice dup must always pair: $batch")
    assert(!batch.exists(p => p._1 == 2L || p._2 == 12L),
      s"novel content must pair with nothing: $batch")
  }

  // s_stream_bm25: standing-query scoring with offline-trained stats
  test("s_stream_bm25: in-stream scores equal the batch BM25 operator score-for-score") {
    val corpus = Seq(
      (1L, "cat dog"),
      (2L, "cat cat dog dog dog dog dog dog"),
      (3L, "dog bird bird bird")).toDF("doc_id", "text")
    val qs = Seq((7L, "cat dog")).toDF("query_id", "qtext")
    val bm = graft.engine.ops.TextPipeline
    val tokens = bm.docTokens(corpus, "doc_id", "text")
    val batch = bm.bm25TopK(tokens, bm.docLengths(tokens), qs, "query_id", "qtext", 10)
      .select("doc_id", "score").as[(Long, Long)].collect().toMap
    // offline training: query-term dfs + corpus constants
    val toks = corpus.select(col("doc_id"),
        explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val termStats = toks.filter(col("token").isin("cat", "dog"))
      .groupBy("token").agg(countDistinct("doc_id").as("df"))
    val r = toks.groupBy("doc_id").count()
      .agg(count(lit(1)), sum("count")).head()
    val (nDocs, totalDl) = (r.getLong(0), r.getLong(1))
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, Long)]()
    val q = Streams.streamingBm25(in.toDF(), "doc_id", "text",
        termStats, nDocs, totalDl, minScore = 1L)
      .writeStream
      .option("checkpointLocation", tmpDir("streambm25"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.select("doc_id", "score").as[(Long, Long)].collect() }
        ()
      }.start()
    in.addData(Doc(1, ts(1), "cat dog"), Doc(3, ts(1), "dog bird bird bird"))
    q.processAllAvailable()
    in.addData(Doc(2, ts(2), "cat cat dog dog dog dog dog dog"))
    q.processAllAvailable(); q.stop()
    assert(out.toMap == batch,
      s"streamed scores must equal batch scores: stream=${out.sorted} batch=${batch.toSeq.sorted}")
  }

  // s_stream_bpe: offline-learned merge list applied at the firehose
  test("s_stream_bpe: applying the bpeLearn merge list in-stream equals chained batch steps") {
    val corpus = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    // the trained tokenizer: bpeLearn's ordered merge list IS the
    // vocabulary the stream applies (train-offline/apply-online)
    val learned = graft.engine.ops.TextPipeline.bpeLearn(corpus, "doc_id", "text", 2)
      .select("pair").as[String].collect().toSeq
    assert(learned.size == 2, s"fixture must learn 2 merges: $learned")
    val Seq(m1, m2) = learned
    // ground truth: the chained batch-step composition
    val s1 = graft.engine.ops.TextPipeline.bpeStep(corpus, "doc_id", "text")
    assert(s1.select("pair").head().getString(0) == m1,
      "bpeLearn step 1 must equal the batch argmax")
    val s2 = graft.engine.ops.TextPipeline.bpeStep(
      s1.select(col("doc_id"), col("new_text").as("text")), "doc_id", "text")
    assert(s2.select("pair").head().getString(0) == m2,
      "bpeLearn step 2 must equal the chained batch argmax")
    val batchFinal = s2.select("doc_id", "new_text").as[(Long, String)].collect().toMap
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, String)]()
    val q = Streams.streamingBpeApply(in.toDF(), "text", Seq(m1, m2))
      .writeStream
      .option("checkpointLocation", tmpDir("streambpe"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.select("doc_id", "bpe_text").as[(Long, String)].collect() }
        ()
      }.start()
    in.addData(Doc(1, ts(1), "a b c d"))
    q.processAllAvailable()
    in.addData(Doc(2, ts(2), "a b c e"))
    q.processAllAvailable(); q.stop()
    assert(out.toMap == batchFinal,
      s"in-stream tokenization must equal the chained batch steps: stream=$out batch=$batchFinal")
  }

  // s_stream_decontaminate: stateless in-stream eval-set filter
  test("s_stream_decontaminate: docs sharing >=2 benchmark shingles drop, clean docs pass") {
    val bench = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[Long]()
    val q = Streams.streamingDecontaminate(in.toDF(), "text", bench, "text")
      .writeStream
      .option("checkpointLocation", tmpDir("decon"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.select("doc_id").as[Long].collect() }
        ()
      }.start()
    in.addData(
      Doc(1, ts(1), "xx the quick brown fox jumps yy"),  // 3 shared shingles → drop
      Doc(2, ts(1), "the quick brown zz ww"),            // 1 shared shingle → keep
      Doc(3, ts(1), "completely unrelated text body"))   // 0 shared → keep
    q.processAllAvailable()
    in.addData(Doc(4, ts(2), "over the lazy dog bb cc")) // 2 shared → drop, later batch
    q.processAllAvailable(); q.stop()
    assert(out.sorted.toSeq == Seq(2L, 3L), s"got $out")
  }

  // s_stream_quantize: offline-trained stats applied online
  test("s_stream_quantize: in-stream int8 codes equal the batch quantizer bit-for-bit") {
    val mk = (s: Double) => Array.tabulate(8)(i => ((i % 5) * s).toFloat)
    val corpus = Seq((0L, mk(1.0)), (1L, mk(2.0)), (2L, mk(-1.5)))
      .toDF("vec_id", "embedding")
    val stats = graft.engine.ops.Similarity.quantizeStats(corpus, "vec_id", "embedding")
    val in = MemoryStream[(Long, Array[Float])](spark)
    val out = mutable.ArrayBuffer[(Long, Long, Long)]()
    val q = Streams.streamingQuantize(in.toDF().toDF("vid", "emb"), "vid", "emb", stats)
      .writeStream
      .option("checkpointLocation", tmpDir("streamquant"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.select("vec_id", "dim", "code").as[(Long, Long, Long)].collect()
        }
        ()
      }.start()
    in.addData((0L, mk(1.0)), (1L, mk(2.0)))
    q.processAllAvailable()
    in.addData((2L, mk(-1.5))) // later batch, same stats
    q.processAllAvailable(); q.stop()
    val batch = graft.engine.ops.Similarity
      .quantizeEmbeddings(corpus, "vec_id", "embedding")
      .as[(Long, Long, Long)].collect().toSet
    assert(out.toSet == batch, "online codes must equal offline codes")
    assert(out.size == 3 * 8)
  }

  // s_stream_tokenize: the corpus-contract normalizer at the firehose
  test("s_stream_tokenize: in-stream normalization equals the batch tokenizer") {
    val messy = Seq(
      (1L, "  Hello,\tworld!   extra \n spaces "),
      (2L, "already clean text"))
    val batch = graft.engine.ops.TextPipeline
      .tokenize(messy.toDF("doc_id", "text"), "doc_id", "text", splitPunct = true)
      .as[(Long, String, Long)].collect().toSet
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, String, Long)]()
    val q = graft.engine.ops.TextPipeline
      .tokenize(in.toDF(), "doc_id", "text", splitPunct = true, ordered = false)
      .writeStream
      .option("checkpointLocation", tmpDir("streamtok"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.select("doc_id", "text_tok", "n_tokens").as[(Long, String, Long)].collect()
        }
        ()
      }.start()
    in.addData(Doc(1, ts(1), messy.head._2))
    q.processAllAvailable()
    in.addData(Doc(2, ts(2), messy(1)._2))
    q.processAllAvailable(); q.stop()
    assert(out.toSet == batch,
      s"stream and batch must normalize identically: stream=$out batch=$batch")
  }

  // s_stream_pq: offline-trained PQ codebook applied online
  test("s_stream_pq: in-stream PQ codes equal the batch encoder code-for-code") {
    // train on the real fixture embeddings so the codebook is non-trivial
    val corpus = graft.engine.io.Tables.embeddings(spark, sfDir).limit(64)
    val cb = graft.engine.ops.Similarity.pqCodebook(corpus, "vec_id", "embedding")
    val batch = graft.engine.ops.Similarity
      .pqEncode(corpus, "vec_id", "embedding", cb)
      .as[(Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    val rows = corpus.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val in = MemoryStream[(Long, Array[Float])](spark)
    val out = mutable.ArrayBuffer[(Long, Long, Long)]()
    val q = Streams.streamingPqEncode(in.toDF().toDF("vid", "emb"), "vid", "emb", cb)
      .writeStream
      .option("checkpointLocation", tmpDir("streampq"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.select("vec_id", "subspace", "code").as[(Long, Long, Long)].collect()
        }
        ()
      }.start()
    in.addData(rows.take(32): _*)
    q.processAllAvailable()
    in.addData(rows.drop(32): _*) // later batch, same codebook
    q.processAllAvailable(); q.stop()
    assert(out.toSet == batch,
      s"online PQ codes must equal offline codes (missing=${batch -- out.toSet} extra=${out.toSet -- batch})")
    assert(out.size == rows.size * 8)
  }

  // s_stream_split: stateless deterministic split routing
  test("s_stream_split: in-stream split assignment equals the batch bucket on the same ids") {
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, String)]()
    val q = Streams.streamingSplit(in.toDF(), "doc_id").writeStream
      .option("checkpointLocation", tmpDir("streamsplit"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.select("doc_id", "split").as[(Long, String)].collect() }
        ()
      }.start()
    val ids = (1L to 200L).toSeq
    in.addData(ids.map(i => Doc(i, ts(i), s"doc $i")): _*)
    q.processAllAvailable(); q.stop()
    val batch = Streams.streamingSplit(
      ids.map(i => (i, s"doc $i")).toDF("doc_id", "text"), "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(out.size == 200 && out.forall { case (id, s) => batch(id) == s })
    assert(out.map(_._2).toSet == Set("train", "val", "test"),
      "200 ids must hit all three splits")
  }

  // s_stream_repetition: the narrow repetition scorer composes on streams
  test("s_stream_repetition: batch repetition scorer filters a stream in append mode") {
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[Long]()
    val scored = graft.engine.ops.TextPipeline.repetitionMetrics(
        in.toDF(), "doc_id", "text", ordered = false)
      .filter(col("dup_trigram_bp") < 5000)
    val q = scored.writeStream
      .option("checkpointLocation", tmpDir("streamrep"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.select("doc_id").as[Long].collect() }
        ()
      }.start()
    in.addData(
      Doc(1, ts(1), "spam spam spam spam spam spam"), // dup trigrams → drop
      Doc(2, ts(1), "a perfectly normal varied sentence here"))
    q.processAllAvailable(); q.stop()
    assert(out.sorted.toSeq == Seq(2L), s"got $out")
  }

  // s_stream_chunk: the batch curation ops compose unchanged on streams
  test("s_stream_chunk: batch chunker runs on a streaming frame (narrow, append mode)") {
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, Long, Long)]()
    val chunked = graft.engine.ops.TextPipeline.chunkDocuments(
      in.toDF(), "doc_id", "text", chunkSize = 4, overlap = 1, ordered = false)
    val q = chunked.writeStream
      .option("checkpointLocation", tmpDir("streamchunk"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.select("doc_id", "chunk_idx", "n_toks")
            .as[(Long, Long, Long)].collect()
        }
        ()
      }.start()
    in.addData(Doc(1, ts(1), (1 to 10).map(i => s"w$i").mkString(" ")))
    q.processAllAvailable(); q.stop()
    // 10 tokens, size 4, stride 3 → starts 1,4,7,10 → lengths 4,4,4,1
    assert(out.sortBy(_._2).toSeq ==
      Seq((1L, 1L, 4L), (1L, 2L, 4L), (1L, 3L, 4L), (1L, 4L, 1L)), s"got $out")
  }

  // s_stream_quality: the quality scorer is a narrow projection, so the
  // batch op runs unchanged as an in-stream curation filter
  test("s_stream_quality: batch quality scorer filters a document stream in append mode") {
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, String)]()
    val scored = graft.engine.ops.TextPipeline.qualityScore(
      in.toDF().withColumn("n_chars", length(col("text"))),
      "doc_id", "text", "n_chars", ordered = false)
      .filter(col("quality_band") === "high")
    val q = scored.writeStream
      .option("checkpointLocation", tmpDir("streamquality"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.select("doc_id", "quality_band").as[(Long, String)].collect()
        }
        ()
      }.start()
    in.addData(
      Doc(1, ts(1), "all tokens here are fully distinct words"), // distinct_ratio 1.0
      Doc(2, ts(1), "spam spam spam spam spam spam spam spam"),  // distinct_ratio 0.125
      Doc(3, ts(2), "mixed mixed mixed mixed content content content content"))
    q.processAllAvailable(); q.stop()
    assert(out.toSeq == Seq((1L, "high")),
      s"only the diverse doc passes the high-band filter: $out")
  }

  // s_stream_langid_segments (r17): the code-switch detector as a pure
  // per-row ARRAY projection (no explode, no agg) — append mode, zero
  // state, pinned equal to the batch explode+groupBy operator
  test("s_stream_langid_segments: in-stream majority/mixed equals the batch operator") {
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, Long, String, Long, Long)]()
    val scored = Streams.streamingLangIdSegments(in.toDF(), "doc_id", "text")
    val q = scored.writeStream
      .option("checkpointLocation", tmpDir("streamlangseg"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.select("doc_id", "n_segments", "majority_lang",
            "n_majority", "mixed_ppm").as[(Long, Long, String, Long, Long)].collect()
        }
        ()
      }.start()
    val de = Seq.fill(6)("der die und nicht katze").mkString(" ") // 30 tokens
    val en = Seq.fill(6)("the a of and house").mkString(" ")      // 30 tokens
    val texts = Seq(1L -> (de + " " + en), 2L -> (en + " " + en + " " + de),
      3L -> "zzz qqq www")
    in.addData(texts.map { case (id, t) => Doc(id, ts(1), t) }: _*)
    q.processAllAvailable(); q.stop()
    val batch = graft.engine.ops.TextPipeline.langIdSegments(
      texts.toDF("doc_id", "text").withColumn("lang", lit("xx")),
      "doc_id", "text", "lang")
      .select("doc_id", "n_segments", "majority_lang", "n_majority", "mixed_ppm")
      .as[(Long, Long, String, Long, Long)].collect().toSeq
    assert(out.sortBy(_._1).toSeq == batch,
      s"stream ${out.sortBy(_._1).toSeq} vs batch $batch")
    // the tie and the dissent both fire: de|en ties to de at half mixed,
    // en-majority doc carries one dissenting segment
    assert(out.exists(r => r._1 == 1L && r._3 == "de" && r._5 == 500000L))
    assert(out.exists(r => r._1 == 2L && r._3 == "en" && r._5 == 333333L))
  }

  // s_stream_scrub: the regex scrubber is a narrow projection — PII
  // masking runs at the ingest firehose before anything persists
  test("s_stream_scrub: regex masking scrubs a document stream in append mode") {
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, Long, String)]()
    val scrubbed = graft.engine.ops.TextPipeline.regexScrub(
      in.toDF(), "doc_id", "text", "\\b(secret|token)\\b", "<X>", ordered = false)
    val q = scrubbed.writeStream
      .option("checkpointLocation", tmpDir("streamscrub"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.select("doc_id", "n_hits", "clean_text").as[(Long, Long, String)].collect()
        }
        ()
      }.start()
    in.addData(Doc(1, ts(1), "a secret token leaks"), Doc(2, ts(1), "nothing sensitive"))
    q.processAllAvailable(); q.stop()
    assert(out.sortBy(_._1).toSeq ==
      Seq((1L, 2L, "a <X> <X> leaks"), (2L, 0L, "nothing sensitive")), s"got $out")
  }

  // s_stream_lm: offline-trained LM applied at the firehose
  test("s_stream_lm: in-stream LM fluency equals the batch scorer score-for-score") {
    val corpus = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val lm = graft.engine.ops.TextPipeline.lmTable(corpus, "doc_id", "text")
    val batch = graft.engine.ops.TextPipeline.lmScore(corpus, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, Long, Option[Long])]()
    val q = Streams.streamingLmScore(in.toDF(), "doc_id", "text", lm)
      .writeStream
      .option("checkpointLocation", tmpDir("streamlm"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.select("doc_id", "n_bigrams", "lm_score")
            .as[(Long, Long, Option[Long])].collect()
        }
        ()
      }.start()
    in.addData(Doc(1, ts(1), "a b a b"))
    q.processAllAvailable()
    in.addData(Doc(2, ts(2), "a c"), Doc(3, ts(2), "zz qq"))  // doc 3: no known bigram
    q.processAllAvailable(); q.stop()
    val got = out.sortBy(_._1).toSeq
    assert(got.take(2).map(r => r._1 -> (r._2, r._3.get)).toMap == batch,
      s"streamed LM scores must equal batch: stream=$got batch=$batch")
    assert(got(2) == (3L, 0L, None), s"unknown-bigram doc scores null: $got")
  }

  // s_stream_lm_backoff: the back-off-table upgrade of s_stream_lm
  test("s_stream_lm_backoff: in-stream back-off scoring equals the batch scorer score-for-score") {
    // train on a corpus that does NOT contain the scored docs' trigrams
    // uniformly: doc 10 hits level 3 ("a b c") and level 2 ("a b d"
    // backs off to the SEEN bigram "b d"); doc 11 is fully unseen → 0;
    // doc 13 hits level 1 ("x y e": trigram and bigram "y e" unseen,
    // unigram "e" seen) — all four back-off levels stream
    val train = Seq((1L, "a b c a b c"), (2L, "b d e")).toDF("doc_id", "text")
    val lm = graft.engine.ops.TextPipeline.lmTableBackoff(train, "doc_id", "text")
    val scoreDocs = Seq((10L, "a b c a b d"), (11L, "z z z z"), (13L, "x y e"))
      .toDF("doc_id", "text")
    val batch = graft.engine.ops.TextPipeline
      .lmScoreBackoff(scoreDocs, "doc_id", "text", lm)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(batch.nonEmpty)
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, Long, Option[Long])]()
    val q = Streams.streamingLmScoreBackoff(in.toDF(), "doc_id", "text", lm)
      .writeStream
      .option("checkpointLocation", tmpDir("streamlmbo"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.select("doc_id", "n_trigrams", "lm_score")
            .as[(Long, Long, Option[Long])].collect()
        }
        ()
      }.start()
    in.addData(Doc(10, ts(1), "a b c a b d"))
    q.processAllAvailable()
    in.addData(Doc(11, ts(2), "z z z z"), Doc(12, ts(2), "xy"),  // 12: too short
      Doc(13, ts(2), "x y e"))
    q.processAllAvailable(); q.stop()
    val got = out.sortBy(_._1).toSeq
    assert(got.filter(_._1 != 12L).map(r => r._1 -> (r._2, r._3.get)).toMap == batch,
      s"streamed back-off scores must equal batch: stream=$got batch=$batch")
    assert(got.find(_._1 == 12L).contains((12L, 0L, None)),
      s"sub-trigram doc surfaces with null score: $got")
    // the unigram level genuinely fired: doc 13's score is floor(1.6e5·c(e)/T)
    assert(batch(13L)._2 > 0L && batch(13L)._2 < 400000L,
      s"doc 13 must score strictly at the unigram level: ${batch(13L)}")
  }

  // s_stream_curate: the composed curation chain on an unbounded frame —
  // quality band, repetition caps, the offline-trained LM floor and the
  // offline-trained learned classifier each gate a doc the earlier
  // gates pass, then decon/scrub/split
  test("s_stream_curate: quality + repetition + LM gates -> decontaminate -> scrub -> split compose in one streaming query") {
    val bench = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    // offline LM training corpus = the fluent docs' text, so their
    // trigrams are all level-3 hits and unseen-trigram docs score 0;
    // negText is IN the LM corpus (passes the LM floor) but labeled
    // negative for the classifier — only the learned gate drops it
    val negText = "spamlike lowgrade filler chaff dross dreck"
    val train = Seq(
      (1L, "a secret report with distinct diverse words"),
      (3L, "xx the quick brown fox jumps yy zz"),
      (4L, "clean and useful later content"),
      (7L, negText)).toDF("doc_id", "text")
    val lmTable = graft.engine.ops.TextPipeline.lmTableBackoff(train, "doc_id", "text")
    val clf = graft.engine.ops.TextPipeline.qualityClassifierTrain(Seq(
        (1L, "a secret report with distinct diverse words", true),
        (4L, "clean and useful later content", true),
        (7L, negText, false)).toDF("doc_id", "text", "pos"),
      "text", "pos")
    val repText = "alpha beta alpha beta alpha beta gamma delta epsilon zeta"
    val gibberish = "zulu yankee xray whiskey victor uniform"
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, String, String)]()
    val q = Streams.streamingCurate(in.toDF(), "doc_id", "text",
        bench, "text", "\\bsecret\\b", "<X>",
        repCaps = Some((1000L, 500L)), lmGate = Some((lmTable, 1000L)),
        classifier = Some(clf))
      .writeStream
      .option("checkpointLocation", tmpDir("streamcurate"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.select("doc_id", "clean_text", "split").as[(Long, String, String)].collect()
        }
        ()
      }.start()
    in.addData(
      Doc(1, ts(1), "a secret report with distinct diverse words"),   // passes, scrubbed
      Doc(2, ts(1), "spam spam spam spam spam spam spam spam"),       // low band -> gated out
      Doc(3, ts(1), "xx the quick brown fox jumps yy zz"),            // contaminated -> dropped
      Doc(5, ts(1), repText),                                         // high band, repetition-capped
      Doc(6, ts(1), gibberish),                                       // rep-clean, LM scores 0 -> dropped
      Doc(7, ts(1), negText))                                         // passes band/rep/LM; classifier drops
    q.processAllAvailable()
    in.addData(Doc(4, ts(2), "clean and useful later content"))       // later batch passes
    q.processAllAvailable(); q.stop()
    val got = out.sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(1L, 4L), s"gates+decon must drop docs 2, 3, 5, 6, 7: $out")
    // the classifier gate is the ONLY gate that drops doc 7: it clears
    // band/rep (varied tokens) and the LM floor (trained trigrams), and
    // the batch scorer agrees sign-for-sign
    val clfBatch = graft.engine.ops.TextPipeline.qualityClassifierScore(
        Seq((1L, "a secret report with distinct diverse words"), (7L, negText))
          .toDF("doc_id", "text"), "doc_id", "text", clf)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r._3).toMap
    assert(!clfBatch(7L) && clfBatch(1L), s"batch classifier verdicts: $clfBatch")
    assert(got.head._2 == "a <X> report with distinct diverse words", s"scrub ran: $out")
    // each streaming gate decision matches its BATCH operator on the same input
    val tp = graft.engine.ops.TextPipeline
    val rep5 = tp.repetitionMetrics(Seq((5L, repText)).toDF("doc_id", "text"),
      "doc_id", "text").select("dup_bigram_bp").head().getLong(0)
    assert(rep5 > 1000L, s"doc 5 must exceed the batch repetition cap: $rep5")
    val lmBatch = tp.lmScoreBackoff(
      Seq((6L, gibberish), (1L, "a secret report with distinct diverse words"))
        .toDF("doc_id", "text"), "doc_id", "text", lmTable)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(lmBatch(6L) < 1000L, s"doc 6 must score below the batch LM floor: $lmBatch")
    assert(lmBatch(1L) >= 1000L, s"kept doc 1 must clear the batch LM floor: $lmBatch")
    // split is the same pure key function the batch manifest uses
    val expectSplits = Seq(1L, 4L).map { id =>
      val b = graft.engine.ops.TextPipeline
      spark.range(1).select(
        when(b.keyBucket(lit(id)) < 80, "train")
          .when(b.keyBucket(lit(id)) < 90, "val").otherwise("test")).head().getString(0)
    }
    assert(got.map(_._3) == expectSplits, s"split routing must match the batch bucket: $out")
  }

  // s_stream_mixture: running mixture accounting, Update output mode
  test("s_stream_mixture: per-stratum doc/token counts accumulate across micro-batches") {
    val in = MemoryStream[LDoc](spark)
    val latest = mutable.Map[String, (Long, Long)]()
    val q = Streams.streamingMixture(in.toDF(), "text", Seq("lang")).writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", tmpDir("streammixture"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        latest.synchronized {
          b.select("lang", "n_docs", "n_tokens").as[(String, Long, Long)].collect()
            .foreach { case (l, d, t) => latest(l) = (d, t) }
        }
        ()
      }.start()
    in.addData(LDoc(1, ts(1), "en", "one two three"), LDoc(2, ts(1), "de", "eins zwei"))
    q.processAllAvailable()
    in.addData(LDoc(3, ts(2), "en", "four five"))
    q.processAllAvailable(); q.stop()
    assert(latest("en") == ((2L, 5L)), s"en accumulates across batches: $latest")
    assert(latest("de") == ((1L, 2L)), s"de unchanged by the second batch: $latest")
  }

  // s_stream_cluster_assign: the nearest-centroid router is stateless
  // (codebook = plan literals), so vectors route to cells in-stream and
  // per-cell populations accumulate in Update mode
  test("s_stream_cluster_assign: streaming vectors route to cells, populations accumulate") {
    val in = MemoryStream[(Long, Array[Float])](spark)
    val latest = mutable.Map[Long, Long]()
    val assigned = graft.engine.ops.Similarity.assignCells(
      in.toDF().toDF("vid", "emb"), "vid", "emb")
    val q = assigned.groupBy("cell").agg(count(lit(1)).as("n")).writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", tmpDir("streamassign"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        latest.synchronized {
          b.select("cell", "n").as[(Long, Long)].collect()
            .foreach { case (c, n) => latest(c) = n }
        }
        ()
      }.start()
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(j => (((seed * 31 + j) % 17) - 8).toFloat / 8f)
    in.addData((1L, vec(1)), (2L, vec(2)), (3L, vec(1)))
    q.processAllAvailable()
    in.addData((4L, vec(1)))
    q.processAllAvailable(); q.stop()
    assert(latest.keys.forall(c => c >= 1 && c <= 16), s"cells in range: $latest")
    assert(latest.values.sum >= 1 && latest.nonEmpty)
    // identical vectors land in one cell: ids 1,3,4 share vec(1) — that
    // cell's population must be >= 3 after the second batch
    assert(latest.values.max >= 3, s"identical vectors must co-route: $latest")
  }

  // s_stream_cluster_assign_trained: the trained-codebook router
  test("s_stream_cluster_assign_trained: in-stream routing equals the batch trained argmax cell-for-cell") {
    val corpus = graft.engine.io.Tables.embeddings(spark, sfDir).limit(48)
    val cb = graft.engine.ops.Similarity.ivfCodebook(corpus, "vec_id", "embedding", 2)
    // batch ground truth: the annIvfBroadcast assignment rule over the
    // same trained codebook (max dot, first-tie-lowest-cell)
    val batch = corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cb))
      .select(col("vec_id"),
        struct(graft.engine.functions.GraftFunctions
            .arrayDot(col("embedding"), col("centroid")).as("d"),
          (-col("cell")).as("negc")).as("sc"))
      .groupBy("vec_id").agg(max("sc").as("m"))
      .select(col("vec_id"), (-col("m.negc")).as("cell"))
      .as[(Long, Long)].collect().toMap
    val rows = corpus.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val in = MemoryStream[(Long, Array[Float])](spark)
    val out = mutable.Map[Long, Long]()
    val q = Streams.streamingClusterAssignTrained(
        in.toDF().toDF("vid", "emb"), "vid", "emb", cb)
      .writeStream
      .option("checkpointLocation", tmpDir("streamassigntrained"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          b.select("vec_id", "cell").as[(Long, Long)].collect()
            .foreach { case (v, c) => out(v) = c }
        }
        ()
      }.start()
    in.addData(rows.take(24): _*)
    q.processAllAvailable()
    in.addData(rows.drop(24): _*)
    q.processAllAvailable(); q.stop()
    assert(out.toMap == batch,
      s"online routing must equal the batch trained argmax (diff=${out.toSet -- batch.toSet})")
    assert(out.values.toSet.size > 1, "fixture must spread across cells")
  }

  // s_stream_ann: the standing-query retrieval face of the trained
  // IVFPQ index — the full three-stage batch stack (trained coarse
  // probe -> integer ADC -> exact rerank) replayed per arriving vector,
  // row-identical to the batch serve path on the same codebooks.
  test("s_stream_ann: standing kNN answers equal the batch trained IVFPQ stack row-for-row") {
    val corpus = graft.engine.io.Tables.embeddings(spark, sfDir).limit(64)
    val coarseCb = graft.engine.ops.Similarity.ivfCodebook(corpus, "vec_id", "embedding", 2)
    val pqCb = graft.engine.ops.Similarity.pqCodebook(corpus, "vec_id", "embedding")
    val queryIds = Seq(0L, 5L, 17L)
    // batch ground truth: the oracled annIvfPqRerankWith composition,
    // one run per standing query over the SAME codebook frames
    val batch: Map[Long, Seq[(Long, Long, Double, Long)]] = queryIds.map { qid =>
      qid -> graft.engine.ops.Similarity
        .annIvfPqRerankWith(corpus, "vec_id", "embedding", coarseCb, pqCb, qid, 10, 5)
        .as[(Long, Long, Double, Long)].collect().toSeq
    }.toMap
    assert(batch.values.forall(_.size == 5), s"batch stack must fill top-5: $batch")
    val vecs = corpus.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    val in = MemoryStream[(Long, Array[Float])](spark)
    val out = mutable.ArrayBuffer[(Long, Long, Long, Double, Long)]()
    val q = Streams.streamingAnnTopK(in.toDF().toDF("qid", "qvec"), "qid", "qvec",
        corpus, "vec_id", "embedding", coarseCb, pqCb, nProbe = 4, nCand = 10, k = 5)
      .writeStream
      .option("checkpointLocation", tmpDir("streamann"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.select("query_id", "rk", "vec_id", "cos_sim", "adist")
            .as[(Long, Long, Long, Double, Long)].collect()
        }
        ()
      }.start()
    in.addData((0L, vecs(0L)))                       // first batch: one query
    q.processAllAvailable()
    in.addData((5L, vecs(5L)), (17L, vecs(17L)))     // later batch, same index
    q.processAllAvailable(); q.stop()
    val streamed = out.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(t => (t._2, t._3, t._4, t._5)).toSeq).toMap
    queryIds.foreach { qid =>
      assert(streamed.get(qid).contains(batch(qid)),
        s"standing query $qid diverged: stream=${streamed.get(qid)} batch=${batch(qid)}")
    }
    // sanity: answers are genuine neighbors, not self-matches
    assert(out.forall { case (qid, _, vid, _, _) => vid != qid })
  }

  // s_stream_static_join
  test("s_stream_static_join: stream enriched against a static dimension") {
    val dim = Seq((1L, "GOLD"), (2L, "SILVER")).toDF("user_id", "tier")
    val in = MemoryStream[Ev](spark)
    val q = Streams.streamStaticJoin(in.toDF(), dim, "user_id").writeStream
      .format("memory").queryName("enriched").outputMode(OutputMode.Append).start()
    in.addData(Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(2), 9, "view", 1.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("enriched").select("event_id", "tier")
      .as[(Long, Option[String])].collect().toMap
    assert(rows == Map(1L -> Some("GOLD"), 2L -> None))
  }

  // s_stateful_agg: custom keyed state via flatMapGroupsWithState
  test("s_stateful_agg: running per-type stats accumulate across micro-batches") {
    val in = MemoryStream[Ev](spark)
    val q = Streams.statefulTypeStats(in.toDF()).writeStream
      .format("memory").queryName("stateful").outputMode(OutputMode.Update).start()
    in.addData(Ev(1, ts(1), 1, "click", 2.0), Ev(2, ts(2), 1, "click", 3.0))
    q.processAllAvailable()
    in.addData(Ev(3, ts(3), 2, "click", 5.0), Ev(4, ts(4), 2, "view", 7.0))
    q.processAllAvailable(); q.stop()
    // memory sink in Update mode appends each batch's emissions; the
    // LAST emission per key is the accumulated state
    val last = spark.table("stateful").as[(String, Long, Double)].collect()
      .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
    assert(last("click") == ("click", 3L, 10.0), s"state must survive batches: $last")
    assert(last("view") == ("view", 1L, 7.0))
  }

  // s_stream_stream_join: watermarked interval join of two streams
  test("s_stream_stream_join: right events within 10s after a left event match") {
    val lin = MemoryStream[Ev](spark)
    val rin = MemoryStream[Ev](spark)
    val q = Streams.streamStreamJoin(lin.toDF(), rin.toDF()).writeStream
      .format("memory").queryName("ssjoin").outputMode(OutputMode.Append).start()
    lin.addData(Ev(10, ts(100), 1, "click", 1.0))
    rin.addData(Ev(20, ts(105), 1, "view", 1.0),  // +5s, same user → match
                Ev(21, ts(120), 1, "view", 1.0),  // +20s → outside range
                Ev(22, ts(105), 2, "view", 1.0))  // other user → no match
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ssjoin").select("left_id", "right_id")
      .as[(Long, Long)].collect().toSet
    assert(rows == Set((10L, 20L)), s"exactly the in-range same-user pair joins: $rows")
  }

  // s_stream_stream_join_outer: the left-outer variant — null-padded left
  // rows fire exactly once, and only after the watermark proves no match
  // can still arrive; stable across a kill-and-restart because eviction
  // rides the checkpointed watermark, not wall-clock.
  test("s_stream_stream_join_outer: unmatched left emits null-padded once, after watermark expiry, across restart") {
    val lin = MemoryStream[Ev](spark)
    val rin = MemoryStream[Ev](spark)
    val ckpt = tmpDir("ssjoin-outer")
    val out = mutable.ArrayBuffer[(Long, Option[Long])]()
    def start() = Streams.streamStreamJoinOuter(lin.toDF(), rin.toDF())
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select("left_id", "right_id")
          .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        out.synchronized { out ++= rows }
        ()
      }.start()
    val q1 = start()
    lin.addData(Ev(10, ts(100), 1, "click", 1.0),  // will match
                Ev(11, ts(100), 2, "click", 1.0))  // never matches
    rin.addData(Ev(20, ts(105), 1, "view", 1.0))
    q1.processAllAvailable()
    // the match emits immediately; the unmatched left must NOT leak a
    // premature null row — its match could still arrive
    assert(out.synchronized(out.toSet) == Set((10L, Some(20L))),
      s"only the matched pair before expiry: $out")
    q1.stop() // kill between batches; held left row lives in join state
    val q2 = start()
    // advance BOTH watermarks well past 100 + 10 s range + 10 s delay; the
    // watermark Spark applies to a batch comes from the PREVIOUS batch's
    // max event time, so nudge until eviction lands (bounded attempts)
    var nudge = 0
    while (nudge < 5 && !out.synchronized(out.exists(r => r._1 == 11L && r._2.isEmpty))) {
      nudge += 1
      val t = 200L + nudge
      lin.addData(Ev(100L + nudge, ts(t), 100L + nudge, "click", 1.0))
      rin.addData(Ev(200L + nudge, ts(t), 200L + nudge, "view", 1.0))
      q2.processAllAvailable()
    }
    q2.stop()
    val forEleven = out.synchronized(out.filter(_._1 == 11L))
    assert(forEleven == Seq((11L, None)),
      s"the unmatched left row emits null-padded EXACTLY once after expiry: $forEleven")
    assert(out.synchronized(out.count(_ == (10L, Some(20L)))) == 1,
      s"the matched pair is not re-emitted across the restart: $out")
  }

  // Catch-up drain (reference restart pattern R:160-176, generalized)
  test("s_drain_available: drainAvailable processes the backlog then self-terminates; restart sees only new data") {
    val ckpt = tmpDir("drain")
    val in = MemoryStream[(String, String)](spark)
    val seen = mutable.ArrayBuffer[String]()
    def drain() = {
      val q = Streams.drainAvailable(in.toDF().toDF("key", "value"), ckpt) { (b, _) =>
        seen.synchronized { seen ++= b.collect().map(_.getString(1)) }
        ()
      }
      q.awaitTermination() // AvailableNow exits on its own when drained
    }
    in.addData(("k", "a"), ("k", "b"))
    drain()
    assert(seen.sorted == Seq("a", "b"), s"backlog drained: $seen")
    in.addData(("k", "c"))
    drain() // second catch-up run resumes from the checkpoint
    assert(seen.sorted == Seq("a", "b", "c"), s"no reprocessing, no gap: $seen")
  }

  // Large-state path: the scaladoc commits to RocksDB at cluster scale;
  // prove the engine's stateful operators actually run on it.
  test("stateful dedup runs on the RocksDB state store provider") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev](spark)
      val out = mutable.ArrayBuffer[Long]()
      val q = Streams.streamingDedup(in.toDF()).writeStream
        .option("checkpointLocation", tmpDir("rocks"))
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          out.synchronized { out ++= b.select("event_id").as[Long].collect() }
          ()
        }.start()
      in.addData(Ev(1, ts(1), 1, "click", 1.0), Ev(1, ts(1), 1, "click", 1.0))
      q.processAllAvailable()
      in.addData(Ev(1, ts(2), 1, "click", 1.0), Ev(2, ts(2), 1, "view", 1.0))
      q.processAllAvailable()
      val progress = q.lastProgress
      q.stop()
      assert(out.sorted.toSeq == Seq(1L, 2L), s"dedup semantics intact on RocksDB: $out")
      val providers = Option(progress).toSeq.flatMap(_.stateOperators.toSeq)
      assert(providers.nonEmpty, "stateful operator must report state metrics")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  // s_source_latest_first_run (O1, K:64-65): config-only — this
  // environment ships no spark-sql-kafka connector (SURVEY §7.4 risk 4),
  // so the builder must at least route to the kafka source by name; all
  // offset/restart semantics are exercised above through MemoryStream,
  // which drives the identical offset-WAL/commit-log machinery.
  test("s_source_latest_first_run: kafka source builder routes to the kafka format") {
    val err = intercept[Exception] {
      Streams.kafkaSource(spark, "fake:9092", "t1,t2").schema
    }
    assert(err.getMessage.toLowerCase.contains("kafka"),
      s"expected the kafka data-source lookup, got: ${err.getMessage}")
  }

  // O1 waiver probe (r13 verdict item 7): the config-only Kafka source
  // is waived BECAUSE the sandbox ships no connector jar. Assert that
  // basis every round — the day /opt/spark/jars gains spark-sql-kafka
  // (or kafka-clients), this fails loudly and O1 must be upgraded to a
  // MemoryStream-parity integration test against an embedded broker.
  test("O1 waiver probe: /opt/spark/jars still ships no Kafka connector") {
    val jars = Option(new java.io.File("/opt/spark/jars").listFiles())
      .map(_.map(_.getName).toSeq).getOrElse(Seq.empty)
    assert(jars.nonEmpty, "/opt/spark/jars unreadable — the waiver's basis changed, re-probe")
    val kafka = jars.filter(n =>
      n.contains("sql-kafka") || n.contains("kafka-clients") ||
        n.contains("token-provider-kafka"))
    assert(kafka.isEmpty,
      s"Kafka jars appeared (${kafka.mkString(", ")}): the SURVEY §7.4.4 waiver no " +
        "longer holds — implement the real Kafka integration test for O1")
  }

  // s_stream_temperature: offline rates model broadcast at ingest,
  // zero state — streamed admission must equal the batch sampler
  test("s_stream_temperature: streamed admission replays the batch keep set exactly") {
    val corpus = (1L to 40L).map(i =>
      LDoc(i, ts(i), if (i % 4 == 0) "de" else "en", s"doc $i"))
    val corpusDf = corpus.map(d => (d.doc_id, d.lang)).toDF("doc_id", "lang")
    val rates = graft.engine.ops.TextPipeline
      .temperatureRates(corpusDf, "doc_id", "lang", targetN = 20)
    val in = MemoryStream[LDoc](spark)
    val out = mutable.ArrayBuffer[(Long, String, Long)]()
    val q = Streams.streamingTemperature(in.toDF(), "doc_id", "lang", rates)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("temp-mix"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.as[(Long, String, Long)].collect() }
        ()
      }.start()
    // split across two batches: admission is stateless, so batching
    // boundaries must not change the keep set
    in.addData(corpus.take(25): _*)
    q.processAllAvailable()
    in.addData(corpus.drop(25): _*)
    q.processAllAvailable(); q.stop()
    val batch = graft.engine.ops.TextPipeline
      .temperatureSample(corpusDf, "doc_id", "lang", targetN = 20)
      .as[(Long, String, Long)].collect().toSet
    assert(out.toSet == batch, s"stream/batch divergence: ${out.sorted} vs $batch")
    assert(out.nonEmpty && out.size < corpus.size,
      s"sampling must be non-trivial: kept ${out.size}/${corpus.size}")
  }

  // s_stream_anomaly: offline (median, MAD) per-type model folded into
  // CASE literals; watermarked tumbling counts gated live
  test("s_stream_anomaly: the spike hour is flagged with the batch gate's exact score") {
    var id = 0L
    def evs(hour: Long, typ: String, n: Int): Seq[Ev] =
      (1 to n).map { i => id += 1; Ev(id, ts(hour * 3600 + i), 1L, typ, 1.0) }
    val all = evs(0, "click", 3) ++ evs(1, "click", 3) ++ evs(2, "click", 30) ++
      evs(0, "view", 2) ++ evs(1, "view", 2) ++ evs(2, "view", 2)
    // offline model: the SAME hourly-count table the batch query gates on
    val wc = all.map(e => (e.ts, e.event_type)).toDF("ts", "event_type")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("n"))
    val model = graft.engine.ops.Analytics.madModel(wc, "event_type", "n")
    val in = MemoryStream[Ev](spark)
    val q = Streams.streamingAnomaly(in.toDF(), model).writeStream
      .format("memory").queryName("anomaly").outputMode(OutputMode.Complete).start()
    in.addData(all: _*)
    q.processAllAvailable(); q.stop()
    val rows = spark.table("anomaly")
      .select("win_start_s", "event_type", "n", "is_anomaly", "mad_score")
      .as[(Long, String, Long, Boolean, Double)].collect()
    assert(rows.length == 6, "every (window, type) emitted with a verdict")
    val flagged = rows.filter(_._4)
    // click [3,3,30]: med 3, MAD 0 → only the spike deviates; score 27/0.5
    assert(flagged.toSeq == Seq((7200L, "click", 30L, true, 54.0)), rows.mkString(", "))
  }

  // s_stream_file_sink: exactly-once parquet landing via the
  // _spark_metadata manifest — no dupes across restart, orphans invisible
  test("s_stream_file_sink: manifest-committed rows exactly once; orphan files invisible") {
    val in = MemoryStream[Doc](spark)
    val dir = tmpDir("filesink-out")
    val stage = tmpDir("filesink-stage")
    val ckpt = tmpDir("filesink-ckpt")
    def start() = Streams.parquetSink(
      in.toDF().select(col("doc_id"), col("text")), dir, ckpt).start()
    val q1 = start()
    in.addData(Doc(1, ts(1), "alpha"), Doc(2, ts(2), "bravo"))
    q1.processAllAvailable()
    q1.stop() // kill between batches
    val q2 = start()
    in.addData(Doc(3, ts(3), "charlie"))
    q2.processAllAvailable(); q2.stop()
    assert(new java.io.File(dir, "_spark_metadata").exists(),
      "the atomic commit manifest must exist")
    val got = spark.read.parquet(dir).select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 3L),
      s"each row exactly once across the restart: ${got.toSeq}")
    // a torn write leaves an uncommitted data file: metadata-aware reads
    // must not see it — that invisibility IS the exactly-once guarantee
    Seq((99L, "orphan")).toDF("doc_id", "text")
      .write.mode("append").parquet(stage)
    val orphan = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(orphan.toPath,
      new java.io.File(dir, "part-99999-orphan.snappy.parquet").toPath)
    val after = spark.read.parquet(dir).select("doc_id").as[Long].collect().sorted
    assert(after.toSeq == Seq(1L, 2L, 3L),
      s"uncommitted files must be invisible to manifest-aware readers: ${after.toSeq}")
  }

  // s_sink_compact: OPTIMIZE-style bin-packing of the landing's small
  // per-batch files — fewer/larger files, identical row set, and the
  // atomic manifest swap means a reader sees old or new layout, never a
  // mix; the stream keeps landing batches afterwards.
  test("s_sink_compact: landing compaction preserves rows, swaps atomically, survives further batches") {
    val in = MemoryStream[Doc](spark)
    val dir = tmpDir("compact-out")
    val ckpt = tmpDir("compact-ckpt")
    val q = Streams.parquetSink(
      in.toDF().select(col("doc_id"), col("text")), dir, ckpt).start()
    (1 to 6).foreach { i => // 6 micro-batches → ≥6 small files
      in.addData(Doc(i * 2L, ts(i), s"doc-${i * 2}"), Doc(i * 2L + 1, ts(i), s"doc-${i * 2 + 1}"))
      q.processAllAvailable()
    }
    val before = Compaction.committedFiles(spark, dir)
    assert(before.size >= 6, s"fixture must be fragmented: ${before.size} files")
    val rowsBefore = Compaction.read(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect().sorted.toSeq
    // a concurrent reader resolves its file list BEFORE the swap…
    val oldView = before
    val res = Compaction.compact(spark, dir, targetBytes = 1L << 30)
    assert(res.binsRewritten >= 1 && res.filesAfter < res.filesBefore,
      s"compaction must shrink the file count: $res")
    val after = Compaction.committedFiles(spark, dir)
    assert(after.size == 1, s"one giant bin → one file: ${after.size}")
    val fs0 = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val avgBefore = before.map(p => fs0.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen).sum / before.size
    val avgAfter = after.map(p => fs0.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen).sum / after.size
    assert(avgAfter > avgBefore, s"files must get LARGER: $avgBefore → $avgAfter")
    // (b) row-set identity
    val rowsAfter = Compaction.read(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect().sorted.toSeq
    assert(rowsAfter == rowsBefore, "compaction must not add/drop/dupe a single row")
    // (c) …and the old resolved layout still reads the same rows (compact
    // deletes nothing), so pre-swap and post-swap readers both see one
    // complete consistent generation — never a mix
    val oldRead = spark.read.parquet(oldView: _*)
      .select("doc_id", "text").as[(Long, String)].collect().sorted.toSeq
    assert(oldRead == rowsBefore, "a reader holding the old file list must be unaffected")
    // the stream keeps landing: new batches surface through the manifest-
    // aware read without recompaction
    in.addData(Doc(100L, ts(100), "doc-100"))
    q.processAllAvailable()
    val withNew = Compaction.read(spark, dir).select("doc_id").as[Long].collect().sorted
    assert(withNew.toSeq == rowsBefore.map(_._1) :+ 100L,
      s"post-compaction batches must be visible immediately: ${withNew.toSeq}")
    // …but a TIME-TRAVEL read of generation 1 pins the snapshot as of its
    // commit: the later batch is invisible, the row set byte-reproducible
    val atGen1 = Compaction.readAt(spark, dir, res.gen)
      .select("doc_id").as[Long].collect().sorted
    assert(atGen1.toSeq == rowsBefore.map(_._1),
      s"generation ${res.gen} must pin its committed snapshot: ${atGen1.toSeq}")
    // threshold policy: one small straggler file is below a 3-file
    // trigger — no new generation, no rewrite
    assert(Compaction.maybeCompact(spark, dir, 1L << 30, minSmallFiles = 3).isEmpty,
      "a healthy landing must not pay a rewrite")
    // a second compaction folds the new small file into the stand-in —
    // this one clustered (OPTIMIZE … ORDER BY): the rewritten file must
    // read back in key order, the layout min-max pruning feeds on
    val res2 = Compaction.compact(spark, dir, targetBytes = 1L << 30,
      sortCols = Seq("doc_id"))
    assert(res2.gen == res.gen + 1 && Compaction.committedFiles(spark, dir).size == 1, s"$res2")
    val compactedIds = spark.read.parquet(Compaction.committedFiles(spark, dir).head)
      .select("doc_id").as[Long].collect().toSeq
    assert(compactedIds == compactedIds.sorted,
      s"clustered compaction must land rows in key order: $compactedIds")
    // …and vacuum reclaims every unreferenced file; the manifest-aware
    // read still serves the full row set
    q.stop()
    assert(Compaction.vacuum(spark, dir) > 0, "vacuum must delete the replaced small files")
    val postVacuum = Compaction.read(spark, dir).select("doc_id").as[Long].collect().sorted
    assert(postVacuum.toSeq == rowsBefore.map(_._1) :+ 100L,
      s"vacuum must not disturb the live generation: ${postVacuum.toSeq}")
  }

  // r10: vacuum's two concurrency/retention guards, plus commit-crash
  // safety of the monotonic-manifest protocol. (a) retainGenerations
  // keeps a pinned readAt snapshot alive through vacuum; (b) outputs of
  // an IN-FLIGHT generation (> current manifest) are never reclaimed —
  // the compact()-vs-vacuum() race; (c) a torn manifest write (crash
  // before the commit rename) is invisible: the prior generation stays
  // current.
  test("s_sink_vacuum_retention: pinned snapshots, in-flight gens and torn commits are all safe") {
    val in = MemoryStream[Doc](spark)
    val dir = tmpDir("compact-ret-out")
    val q = Streams.parquetSink(
      in.toDF().select(col("doc_id"), col("text")), dir, tmpDir("compact-ret-ckpt")).start()
    (1 to 4).foreach { i =>
      in.addData(Doc(i.toLong, ts(i), s"doc-$i")); q.processAllAvailable()
    }
    val res1 = Compaction.compact(spark, dir, targetBytes = 1L << 30)
    in.addData(Doc(100L, ts(100), "doc-100")); q.processAllAvailable(); q.stop()
    val res2 = Compaction.compact(spark, dir, targetBytes = 1L << 30)
    assert(res1.gen == 1 && res2.gen == 2, s"$res1 / $res2")
    val fs0 = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // (c) torn commit: a crashed compactor left MANIFEST-3.json.tmp —
    // readers must keep resolving gen 2
    val torn = new org.apache.hadoop.fs.Path(s"$dir/_graft_compaction/MANIFEST-3.json.tmp")
    val o = fs0.create(torn, true); o.write("{torn".getBytes); o.close()
    assert(Compaction.currentManifest(spark, dir).map(_.gen).contains(2L),
      "a torn .tmp manifest must not become current")
    // (b) an in-flight gen-3 output (its manifest not yet committed)
    val inflight = new org.apache.hadoop.fs.Path(
      s"$dir/_graft_compaction/gen=3/bin=0/part-00000-inflight.snappy.parquet")
    val o2 = fs0.create(inflight, true); o2.write("parquet-bytes-pending".getBytes); o2.close()
    // (a) retain 2 generations: gen-1's pinned snapshot survives vacuum
    val del2 = Compaction.vacuum(spark, dir, retainGenerations = 2)
    assert(del2 > 0, "vacuum must reclaim the replaced per-batch sink files")
    val atGen1 = Compaction.readAt(spark, dir, 1L).select("doc_id").as[Long].collect().sorted
    assert(atGen1.toSeq == Seq(1L, 2L, 3L, 4L),
      s"a snapshot inside the retention window must stay readable: ${atGen1.toSeq}")
    assert(fs0.exists(inflight), "vacuum must never touch a generation newer than current")
    // tighten retention to 1: gen-1's superseded stand-in is reclaimed,
    // the live read is untouched, the in-flight gen still survives
    assert(Compaction.vacuum(spark, dir, retainGenerations = 1) > 0,
      "dropping retention must reclaim the now-unreferenced gen-1 output")
    assert(fs0.exists(inflight), "in-flight outputs survive every vacuum")
    val live = Compaction.read(spark, dir).select("doc_id").as[Long].collect().sorted
    assert(live.toSeq == Seq(1L, 2L, 3L, 4L, 100L),
      s"the current generation must be untouched: ${live.toSeq}")
    intercept[Exception](Compaction.readAt(spark, dir, 1L).collect()) // time travel ends at retention
  }

  // r10: compaction on a PARTITIONED landing — bins never cross a
  // partition dir, the directory-encoded partition values ride into the
  // compacted files, and no compacted file mixes partitions (the
  // pruning story survives the rewrite).
  test("s_sink_compact: partitioned landing compacts within partitions, values and layout intact") {
    val in = MemoryStream[LDoc](spark)
    val dir = tmpDir("compact-part-out")
    val q = Streams.parquetSink(
      in.toDF().select(col("doc_id"), col("lang"), col("text")),
      dir, tmpDir("compact-part-ckpt"), partitionCols = Seq("lang")).start()
    (1 to 4).foreach { i =>
      in.addData(LDoc(i * 2L, ts(i), "en", s"en-${i * 2}"),
                 LDoc(i * 2L + 1, ts(i), "de", s"de-${i * 2 + 1}"))
      q.processAllAvailable()
    }
    q.stop()
    val before = Compaction.read(spark, dir)
      .select("doc_id", "lang", "text").as[(Long, String, String)].collect().sorted.toSeq
    val res = Compaction.compact(spark, dir, targetBytes = 1L << 30)
    assert(res.binsRewritten == 2, s"one bin per partition: $res")
    val after = Compaction.committedFiles(spark, dir)
    assert(after.size == 2, s"two partitions -> two files: ${after.size}")
    val rows = Compaction.read(spark, dir)
      .select("doc_id", "lang", "text").as[(Long, String, String)].collect().sorted.toSeq
    assert(rows == before, "partition values must ride into the compacted files")
    after.foreach { p =>
      val langs = spark.read.parquet(p).select("lang").distinct().as[String].collect()
      assert(langs.length == 1, s"a compacted file must not mix partitions: $p -> ${langs.toSeq}")
    }
    assert(Compaction.vacuum(spark, dir) > 0, "vacuum must reclaim the per-batch files")
    val postVac = Compaction.read(spark, dir)
      .select("doc_id", "lang", "text").as[(Long, String, String)].collect().sorted.toSeq
    assert(postVac == before, "post-vacuum read must serve the identical row set")
  }

  // file sink + partitionBy: the landing layout downstream scans prune
  // on, written by the same exactly-once manifest path
  test("s_stream_file_sink lands a partitioned layout that a filtered read prunes") {
    val in = MemoryStream[LDoc](spark)
    val dir = tmpDir("filesink-part")
    val q = Streams.parquetSink(
      in.toDF().select(col("doc_id"), col("lang"), col("text")),
      dir, tmpDir("filesink-part-ckpt"), partitionCols = Seq("lang")).start()
    in.addData(LDoc(1, ts(1), "en", "alpha"), LDoc(2, ts(2), "de", "beta"),
      LDoc(3, ts(3), "en", "gamma"))
    q.processAllAvailable(); q.stop()
    // hive-style lang=... directories exist — the layout partition pruning eats
    val langDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("lang=")).map(_.getName).sorted
    assert(langDirs.toSeq == Seq("lang=de", "lang=en"))
    val en = spark.read.parquet(dir).filter(col("lang") === "en")
    val scan = en.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang") ||
           scan.contains("PartitionFilters: [(lang"),
      s"the landing layout must prune on the partition column:\n${scan.take(1200)}")
    assert(en.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  // s_stream_anomaly in Append: watermarked window state must survive a
  // kill-and-restart, each finalized window emitted exactly once
  test("s_stream_anomaly: windows finalize exactly once across a kill-and-restart") {
    var id = 1000L
    def evs(hour: Long, typ: String, n: Int): Seq[Ev] =
      (1 to n).map { i => id += 1; Ev(id, ts(hour * 3600 + i), 1L, typ, 1.0) }
    val hist = evs(0, "click", 3) ++ evs(0, "view", 2) ++
      evs(1, "click", 3) ++ evs(1, "view", 2) ++
      evs(2, "click", 30) ++ evs(2, "view", 2)
    val wc = hist.map(e => (e.ts, e.event_type)).toDF("ts", "event_type")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("n"))
    val model = graft.engine.ops.Analytics.madModel(wc, "event_type", "n")
    val in = MemoryStream[Ev](spark)
    val ckpt = tmpDir("anomaly-restart")
    val out = mutable.ArrayBuffer[(Long, String, Long, Boolean)]()
    def start() = Streams.streamingAnomaly(in.toDF(), model).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.select("win_start_s", "event_type", "n", "is_anomaly")
            .as[(Long, String, Long, Boolean)].collect()
        }
        ()
      }.start()
    val q1 = start()
    in.addData(hist.filter(_.ts.getTime < 3600 * 1000L): _*)
    q1.processAllAvailable()
    q1.stop() // kill: in-flight hour-0 window state lives in the checkpoint
    val q2 = start()
    in.addData(hist.filter(_.ts.getTime >= 3600 * 1000L): _*)
    q2.processAllAvailable()
    // watermark tick far past hour 2 finalizes the remaining windows;
    // its own (unfinalized) window never emits
    in.addData(Ev(1L, ts(5 * 3600), 1L, "tick", 1.0))
    q2.processAllAvailable(); q2.stop()
    assert(out.size == 6, s"each (hour, type) window exactly once: $out")
    val flagged = out.filter(_._4)
    assert(flagged.toSeq == Seq((7200L, "click", 30L, true)),
      s"only the spike window is anomalous: $out")
  }

  // s_stream_containment: reference token-hash sets under the stream,
  // per-arrival merge-walk verify, zero state — quote detection at ingest
  test("s_stream_containment: arrivals mostly inside a reference doc are attributed to it") {
    val reference = Seq(
      (100L, "en", "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "en", "iota kappa lambda"),
      (102L, "de", "alpha beta gamma")).toDF("doc_id", "lang", "text")
    val in = MemoryStream[LDoc](spark)
    val out = mutable.ArrayBuffer[(Long, Long, Double)]()
    val q = Streams.streamingContainment(in.toDF(), reference,
        "doc_id", "text", Seq("lang"), 0.8)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("containment-stream"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.as[(Long, Long, Double)].collect() }
        ()
      }.start()
    in.addData(
      LDoc(1, ts(1), "en", "alpha beta gamma"),        // ⊂ ref 100 → 1.0
      LDoc(2, ts(1), "en", "alpha beta zz"))           // 2/3 → below gate
    q.processAllAvailable()
    in.addData(
      LDoc(3, ts(2), "de", "alpha beta gamma"),        // ⊂ ref 102 (de block)
      LDoc(4, ts(2), "en", "iota kappa lambda mu"))    // 3/4 → below gate
    q.processAllAvailable(); q.stop()
    // the en copy of "alpha beta gamma" never meets the de reference —
    // blocking is part of the contract, not an optimization detail
    assert(out.toSet == Set((1L, 100L, 1.0), (3L, 102L, 1.0)),
      s"got ${out.sorted}")
  }

  // s_stream_outlier: offline (median, MAD) location model broadcast at
  // ingest, zero state — verdicts must replay the batch gate exactly
  test("s_stream_outlier: flagged set and scores equal the batch MAD gate; every doc emitted") {
    // lang en: lengths cluster at ~10 with one wild doc; de: tight cluster
    val corpus = Seq(
      (1L, "en", 10L), (2L, "en", 11L), (3L, "en", 9L), (4L, "en", 10L),
      (5L, "en", 60L),                                    // the outlier
      (6L, "de", 20L), (7L, "de", 21L), (8L, "de", 19L), (9L, "de", 20L)
    ).toDF("doc_id", "lang", "n_chars")
    val model = graft.engine.ops.Analytics.madModel(corpus, "lang", "n_chars")
    val in = MemoryStream[LDoc](spark)
    val out = mutable.ArrayBuffer[(Long, String, Long, Boolean, Double)]()
    val stream = Streams.streamingOutlier(
      in.toDF().withColumn("n_chars", length(col("text")).cast("long")),
      "doc_id", "lang", "n_chars", model)
    val q = stream.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("outlier-stream"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.as[(Long, String, Long, Boolean, Double)].collect() }
        ()
      }.start()
    // arrivals whose text lengths replay the corpus rows
    val docs = corpus.as[(Long, String, Long)].collect().map { case (id, lang, n) =>
      LDoc(id, ts(id), lang, "x" * n.toInt)
    }
    in.addData(docs.take(5): _*)
    q.processAllAvailable()
    in.addData(docs.drop(5): _*)
    q.processAllAvailable(); q.stop()
    assert(out.size == corpus.count(), "router shape: every arrival emitted with a verdict")
    val batch = graft.engine.ops.Analytics
      .madOutliers(corpus, model, "doc_id", "lang", "n_chars", k = 2.0)
      .select("doc_id", "mad_score").as[(Long, Double)].collect().toMap
    val flagged = out.filter(_._4).map(r => r._1 -> r._5).toMap
    assert(flagged == batch, s"stream verdicts $flagged vs batch gate $batch")
    assert(flagged.keySet == Set(5L), "exactly the wild doc is flagged")
  }

  // s_stream_bloom_dedup: bloom-literal probe + stream-static confirm
  // join — exact verdicts, zero state
  test("s_stream_bloom_dedup: verdicts equal the batch bloom dedup across batches") {
    val reference = Seq((1L, "alpha bravo"), (2L, "charlie delta"), (3L, "echo foxtrot"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      Doc(10, ts(1), "alpha bravo"),     // true dup
      Doc(11, ts(1), "golf hotel"),      // fresh
      Doc(12, ts(2), "charlie delta"),   // true dup, second batch
      Doc(13, ts(2), "india juliet"))    // fresh
    val in = MemoryStream[Doc](spark)
    val out = mutable.ArrayBuffer[(Long, Boolean)]()
    val q = Streams.streamingBloomDedup(in.toDF(), reference, "doc_id", "text")
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("bloom-dedup"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.as[(Long, Boolean)].collect() }
        ()
      }.start()
    in.addData(arrivals.take(2): _*)
    q.processAllAvailable()
    in.addData(arrivals.drop(2): _*)
    q.processAllAvailable(); q.stop()
    val batch = graft.engine.ops.TextPipeline.bloomDedup(
        reference, arrivals.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
        "doc_id", "text")
      .as[(Long, Boolean)].collect().toSet
    assert(out.toSet == batch, s"stream/batch divergence: ${out.sorted} vs $batch")
    assert(out.toMap == Map(10L -> true, 11L -> false, 12L -> true, 13L -> false))
  }

  // s_stream_funnel: per-user funnel state machine on transformWithState
  test("s_stream_funnel: stage unlocks match the batch funnel and survive restart") {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev](spark)
      val ckpt = tmpDir("funnel")
      val out = mutable.ArrayBuffer[(Long, String, Long)]()
      def start() = Streams.streamingFunnel(in.toDF())
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.FunnelHit], _: Long) =>
          out.synchronized { out ++= b.collect().map(h => (h.user_id, h.stage, h.tus)) }
          ()
        }.start()
      val q1 = start()
      // user 1: full conversion split across a restart; user 2: click
      // before any view must NOT unlock; pre-t1 clicks ignored
      in.addData(Ev(1, ts(10), 1, "view", 1.0), Ev(2, ts(11), 1, "click", 1.0),
                 Ev(3, ts(5), 2, "click", 1.0))
      q1.processAllAvailable()
      q1.stop() // funnel state survives in the checkpoint
      val q2 = start()
      in.addData(Ev(4, ts(12), 1, "purchase", 1.0), // unlocks only if t2 survived
                 Ev(5, ts(13), 1, "view", 1.0),     // second view: no re-emit
                 Ev(6, ts(20), 2, "view", 1.0),
                 Ev(7, ts(21), 2, "purchase", 1.0)) // no click yet: locked
      q2.processAllAvailable(); q2.stop()
      val got = out.sorted.toSeq
      assert(got == Seq(
        (1L, "1_view", 10000000L), (1L, "2_click", 11000000L),
        (1L, "3_purchase", 12000000L), (2L, "1_view", 20000000L)),
        s"funnel state machine drifted: $got")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  // s_stream_funnel_ttl: registered event-time timers — stale users
  // expire off the watermark with NO arriving data for their key, emit
  // one abandonment sentinel, and restart clean afterwards. RocksDB
  // provider, kill-and-restart in the middle (timers are checkpointed).
  test("s_stream_funnel_ttl: idle incomplete users expire exactly once via timers, across restart") {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev](spark)
      val ckpt = tmpDir("funnel-ttl")
      val out = mutable.ArrayBuffer[(Long, String, Long)]()
      def start() = Streams.streamingFunnelTtl(in.toDF(), "10 seconds", gapMs = 30000L)
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.FunnelHit], _: Long) =>
          out.synchronized { out ++= b.collect().map(h => (h.user_id, h.stage, h.tus)) }
          ()
        }.start()
      val q1 = start()
      // user 1 stalls after click (deadline = 105 s + 30 s); user 2
      // completes (must evict silently, never emit the sentinel)
      in.addData(Ev(1, ts(100), 1, "view", 1.0), Ev(2, ts(105), 1, "click", 1.0),
                 Ev(3, ts(100), 2, "view", 1.0), Ev(4, ts(103), 2, "click", 1.0),
                 Ev(5, ts(106), 2, "purchase", 1.0))
      q1.processAllAvailable()
      assert(out.synchronized(out.count(_._2 == "0_expired")) == 0,
        s"nothing expires before the watermark reaches a deadline: $out")
      q1.stop() // kill: armed timers live only in the checkpoint now
      val q2 = start()
      // push the watermark past 135 s (deadline) + 10 s delay; watermark
      // applies from the NEXT batch, so nudge until the timer fires
      var nudge = 0
      while (nudge < 5 && !out.synchronized(out.exists(_._2 == "0_expired"))) {
        nudge += 1
        in.addData(Ev(100L + nudge, ts(200L + nudge), 100L + nudge, "scroll", 1.0))
        q2.processAllAvailable()
      }
      // after expiry the user's state is GONE: a fresh view re-opens stage 1
      in.addData(Ev(50, ts(250), 1, "view", 1.0))
      q2.processAllAvailable(); q2.stop()
      val expired = out.synchronized(out.filter(_._2 == "0_expired"))
      assert(expired == Seq((1L, "0_expired", 135000000L)),
        s"exactly the stalled user expires, exactly once, at its armed deadline: $expired")
      val u1Views = out.synchronized(out.filter(r => r._1 == 1L && r._2 == "1_view"))
      assert(u1Views.map(_._3) == Seq(100000000L, 250000000L),
        s"post-expiry arrival must restart the funnel from stage 1: $u1Views")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  // r10: the corpus fingerprint IS a streaming operator as written —
  // xor and the reduced sum are commutative/associative, so the same
  // declarative aggregate runs over the landing stream in Complete
  // mode and, at every batch boundary, equals the batch stamp of
  // everything landed so far (pinned at two checkpoints).
  test("s_stream_fingerprint: the running stamp equals the batch stamp at every boundary") {
    val docs = graft.engine.io.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)](spark)
    val seen = mutable.ArrayBuffer[(Long, Long, Long)]()
    val q = graft.engine.ops.TextPipeline
      .corpusFingerprint(in.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.outputMode(OutputMode.Complete)
      .option("checkpointLocation", tmpDir("fingerprint-ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized {
          seen ++= b.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        }
        ()
      }.start()
    def batchStamp(rows: Seq[(Long, String)]): (Long, Long, Long) = {
      val df = rows.toDF("doc_id", "text")
      val r = graft.engine.ops.TextPipeline
        .corpusFingerprint(df, "doc_id", "text").head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val cut = docs.size / 2
    in.addData(docs.take(cut): _*); q.processAllAvailable()
    in.addData(docs.drop(cut): _*); q.processAllAvailable()
    q.stop()
    val stamps = seen.synchronized(seen.toSeq)
    assert(stamps.size == 2, s"one stamp per batch: $stamps")
    assert(stamps(0) == batchStamp(docs.take(cut)),
      "mid-stream stamp must equal the batch stamp of what landed")
    assert(stamps(1) == batchStamp(docs),
      "final stamp must equal the whole-corpus batch stamp")
  }

  // r10: the CUSUM changepoint monitor online — two longs of keyed
  // state reproduce the batch closed form EXACTLY, independent of how
  // the observation stream slices into micro-batches (incl. a restart
  // mid-stream via the checkpointed state).
  test("s_stream_cusum: online keyed state equals the batch closed form across batch slicing") {
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q_rate_cusum")(spark, sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(batch.nonEmpty)
    val rates = batch.map(r => Streams.RateRow(r._1, r._2, r._3))
    val means = rates.groupBy(_.event_type)
      .map { case (t, rs) => t -> (rs.map(_.n).sum, rs.size.toLong) }
    val in = MemoryStream[Streams.RateRow](spark)
    val out = mutable.ArrayBuffer[(String, Long, Long, Long)]()
    val ckpt = tmpDir("cusum-ckpt")
    def start() = Streams.streamingCusum(in.toDS(), means)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.CusumHit], _: Long) =>
        out.synchronized {
          out ++= b.collect().map(h => (h.event_type, h.win_start_s, h.n, h.cusum))
        }
        ()
      }.start()
    // three time-ordered slices — per-key order preserved, batch
    // boundaries land mid-series for every key — with a KILL between
    // slice 1 and 2: the (p, minp) state must ride the checkpoint
    val ordered = rates.sortBy(_.win_start_s)
    val cut1 = ordered.size / 3; val cut2 = 2 * ordered.size / 3
    val q1 = start()
    in.addData(ordered.take(cut1): _*); q1.processAllAvailable()
    q1.stop(); q1.awaitTermination()
    val q2 = start()
    in.addData(ordered.slice(cut1, cut2): _*); q2.processAllAvailable()
    in.addData(ordered.drop(cut2): _*); q2.processAllAvailable()
    q2.stop()
    assert(out.synchronized(out.sorted.toSeq) == batch.sorted,
      s"online CUSUM must equal the batch closed form across a restart (${out.size} vs ${batch.size} rows)")
  }

  // r10 regression: the inactivity deadline is monotone in the MAX event
  // time seen — a late-but-within-watermark batch whose events predate
  // earlier arrivals must not move the deadline backward and expire the
  // user early.
  test("s_stream_funnel_ttl: a late in-watermark batch never moves the deadline backward") {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
    val in = MemoryStream[Ev](spark)
    val out = mutable.ArrayBuffer[(Long, String, Long)]()
    val q = Streams.streamingFunnelTtl(in.toDF(), "100 seconds", gapMs = 30000L)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("funnel-ttl-late"))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.FunnelHit], _: Long) =>
        out.synchronized { out ++= b.collect().map(h => (h.user_id, h.stage, h.tus)) }
        ()
      }.start()
    in.addData(Ev(1, ts(100), 1, "view", 1.0)) // true deadline: 100 s + 30 s
    q.processAllAvailable()
    // late arrival at 50 s (inside the 100 s allowance): a regressed
    // re-arm would move the deadline back to 80 s
    in.addData(Ev(2, ts(50), 1, "scroll", 1.0))
    q.processAllAvailable()
    // advance the watermark to ~86 s — past the WRONG deadline (80 s),
    // before the true one (130 s): nothing may expire
    in.addData(Ev(3, ts(185), 99, "scroll", 1.0)); q.processAllAvailable()
    in.addData(Ev(4, ts(186), 98, "scroll", 1.0)); q.processAllAvailable()
    assert(out.synchronized(out.count(_._2 == "0_expired")) == 0,
      s"the late batch must not drag the deadline backward: ${out.synchronized(out.toSeq)}")
    // …and past the true deadline the user expires exactly there
    var nudge = 0
    while (nudge < 5 && !out.synchronized(out.exists(_._2 == "0_expired"))) {
      nudge += 1
      in.addData(Ev(100L + nudge, ts(300L + nudge), 100L + nudge, "scroll", 1.0))
      q.processAllAvailable()
    }
    q.stop()
    val expired = out.synchronized(out.filter(_._2 == "0_expired"))
    assert(expired == Seq((1L, "0_expired", 130000000L)),
      s"expiry must land at max-seen event time + gap: $expired")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  // s_transform_state_ttl: named-state TTL — the declarative eviction
  // tier (state store GCs idle entries; no timer code). Within-TTL
  // arrivals accumulate; an idle gap past the TTL restarts from zero.
  // Driven as Trigger.Once runs: a ProcessingTime-mode operator
  // schedules batches CONTINUOUSLY to advance its clock (verified: both
  // the default trigger and AvailableNow loop thousands of empty
  // batches), so neither `processAllAvailable` nor an AvailableNow
  // drain ever returns. One-batch runs are the deterministic harness —
  // and double as the kill-and-restart proof: the TTL'd entry, with its
  // expiry, lives in the checkpoint between runs.
  test("s_transform_state_ttl: state accumulates inside the TTL and resets after it") {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev](spark)
      val ckpt = tmpDir("tws-ttl")
      val latest = mutable.Map[String, (Long, Double)]()
      // Trigger.Once is deprecated in favor of AvailableNow, but
      // AvailableNow never terminates under a ProcessingTime-mode
      // stateful operator (see above) — Once's exactly-one-batch
      // contract is the point here
      @annotation.nowarn("cat=deprecation")
      def drain(): Unit = {
        val q = Streams.typeStatsWithTtl(in.toDF(), java.time.Duration.ofSeconds(15))
          .writeStream.outputMode(OutputMode.Update)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.Once())
          .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.TypeStat], _: Long) =>
            latest.synchronized {
              b.collect().foreach(t => latest(t.event_type) = (t.n, t.total))
            }
            ()
          }.start()
        q.awaitTermination()
      }
      in.addData(Ev(1, ts(1), 1, "click", 2.0))
      drain()
      in.addData(Ev(2, ts(2), 1, "click", 3.0)) // well inside the 15 s TTL
      drain()
      assert(latest.synchronized(latest("click")) == (2L, 5.0),
        s"within-TTL arrivals must accumulate: $latest")
      Thread.sleep(16000) // idle past the TTL — the entry is GC-fodder
      in.addData(Ev(3, ts(3), 1, "click", 7.0))
      drain()
      assert(latest.synchronized(latest("click")) == (1L, 7.0),
        s"an expired entry must read as absent (count restarts): $latest")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  // s_transform_state: the transformWithState successor API must agree
  // with the flatMapGroupsWithState twin and survive kill-and-restart.
  // transformWithState requires the RocksDB state-store provider.
  test("s_transform_state: running stats match the fMGWS twin and survive restart") {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev](spark)
      val ckpt = tmpDir("tws")
      // latest state row per key wins (Update mode emits one row per
      // touched key per batch)
      val latest = mutable.Map[String, (Long, Double)]()
      def start() = Streams.typeStatsTransformWithState(in.toDF())
        .writeStream.outputMode(OutputMode.Update)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.TypeStat], _: Long) =>
          latest.synchronized {
            b.collect().foreach(t => latest(t.event_type) = (t.n, t.total))
          }
          ()
        }.start()
      val q1 = start()
      in.addData(Ev(1, ts(1), 1, "click", 2.0), Ev(2, ts(1), 2, "click", 3.0),
                 Ev(3, ts(1), 1, "view", 5.0))
      q1.processAllAvailable()
      q1.stop() // the ValueState must survive in the RocksDB checkpoint
      val q2 = start()
      in.addData(Ev(4, ts(2), 2, "click", 4.0), Ev(5, ts(2), 3, "scroll", 1.0))
      q2.processAllAvailable(); q2.stop()
      assert(latest("click") == (3L, 9.0),
        s"restart must resume the running count: $latest")
      assert(latest("view") == (1L, 5.0) && latest("scroll") == (1L, 1.0), s"$latest")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
  }
}
