package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.engine.stream.Streams

/** The open-loop streaming ingest workload.
  *
  * Warm-up, part of set-up: a throwaway query of the same pipeline, on
  * its own stream, checkpoint and offset store, commits [[PrimeBatches]]
  * batches and is then [[PrimeRestarts]] times stopped, restarted from its
  * checkpoint and given a backlog. It triggers as soon as data is there,
  * so no trigger interval is waited out; codegen, state-store opening,
  * the restart path and JIT land there.
  *
  * Then a generator thread appends one `addData` of [[DocsPerTick]]
  * documents to a MemoryStream every [[TickMs]], on a fixed schedule
  * whatever the query does; each tick is stamped with the time it was
  * due. Every 5th document is a planted copy of the document 3 ids
  * earlier: the same token set in another order, so LSH must pair it in
  * every band. The pipeline is `Streams.streamingNearDupLsh` on the
  * RocksDB state store landing in `Streams.parquetSink`, triggered every
  * [[TriggerMs]] (the reference's production batch interval is 1 s),
  * with a `DurableOffsetMirror` over an `AtomicFileOffsetStore` reached
  * through the `OffsetStore` trait.
  *
  * After `seconds` of steady ingest, [[Restarts]] times: the query is
  * stopped gracefully, between two batches, and stays down for
  * [[OutageMs]] while the generator keeps producing; it is then
  * restarted from the same checkpoint and run until every tick due
  * before the restart is committed. After the last cycle it runs
  * [[TailMs]] longer, the generator stops and the query drains. Ticks,
  * trigger progress, offset-store writes and read-backs, and the sink's
  * pair counts are written as raw records. */
object StreamIngest {
  /** 200 docs/s, about half of what a 4-core host drains in backlog
    * triggers. Each `addData` becomes one input partition of the next
    * trigger, so much finer ticks would measure task overhead. */
  val TickMs = 40L
  val DocsPerTick = 8
  val TriggerMs = 1000L
  val PrimeBatches = 2
  /** The restart path kept getting faster over the first three restarts. */
  val PrimeRestarts = 3
  val Restarts = 3
  val OutageMs = 2000L
  val TailMs = 300L
  /** A restart not caught up by then counts as failed, and as this long. */
  val MaxRecoverMs = 60000L
  val Tokens = 16
  val Vocab = 5000

  /** Document text: [[Tokens]] tokens drawn from the seed; a planted copy
    * (id % 5 == 0) rotates the token order of document id − 3. */
  def docText(seed: Long, id: Long): String = {
    val base = if (id % 5 == 0 && id > 3) id - 3 else id
    val toks = (0 until Tokens).map { i =>
      var h = seed * 0x9E3779B97F4A7C15L + base * 6364136223846793005L + i * 1442695040888963407L
      h ^= h >>> 29; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 32
      s"w${java.lang.Math.floorMod(h, Vocab.toLong)}"
    }
    if (base == id) toks.mkString(" ") else (toks.tail :+ toks.head).mkString(" ")
  }

  /** The bench's own offset store: delegates to the engine's store and
    * records how long each write took. */
  final class TimedStore(inner: Streams.OffsetStore, out: Records) extends Streams.OffsetStore {
    override def write(rec: Streams.OffsetRecord, sourceIdx: Int): Unit = {
      val t0 = System.nanoTime()
      inner.write(rec, sourceIdx)
      out.emit("mirror_write", "batch_id" -> rec.batchId, "end_ms" -> System.currentTimeMillis(),
        "ms" -> (System.nanoTime() - t0) / 1e6)
    }
    override def readBack(): Seq[Streams.OffsetRecord] = inner.readBack()
  }

  private type Doc = (Long, String, java.sql.Timestamp)

  /** The pipeline under test, over `in`, landing in `dir`. */
  private def pipeline(spark: SparkSession, in: MemoryStream[Doc], dir: String,
                       trigger: Trigger): () => StreamingQuery = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val hits = Streams.streamingNearDupLsh(in.toDF().toDF("doc_id", "text", "ts"), "text").toDF()
    () => Streams.parquetSink(hits, s"$dir/sink", s"$dir/ckpt")
      .trigger(trigger).start()
  }

  /** The warm-up query: [[PrimeBatches]] batches shaped like steady
    * triggers (one second of ticks, one `addData` each), then
    * [[PrimeRestarts]] times a restart and one batch shaped like a
    * recovery backlog ([[OutageMs]] of ticks). */
  private def warmUp(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val store = new Streams.AtomicFileOffsetStore(s"$dir/offsets")
    val mirror = new Streams.DurableOffsetMirror(store)
    spark.streams.addListener(mirror)
    val in = MemoryStream[Doc](spark)
    val start = pipeline(spark, in, dir, Trigger.ProcessingTime(0L))
    var q = start()
    var id = 0L
    def batch(ticks: Long): Unit = {
      val now = new java.sql.Timestamp(System.currentTimeMillis())
      (1L to ticks).foreach { _ =>
        // negative ids, so never planted
        in.addData((1 to DocsPerTick).map { _ => id -= 1; (id, docText(seed, id), now) })
      }
      q.processAllAvailable()
    }
    (1 to PrimeBatches).foreach(_ => batch(1000 / TickMs))
    (1 to PrimeRestarts).foreach { _ =>
      q.stop(); q.awaitTermination()
      Streams.resumeOffsets(store)
      q = start()
      batch(OutageMs / TickMs)
    }
    q.stop(); q.awaitTermination()
    org.apache.spark.perfbenchhooks.BusDrain.drain(spark.sparkContext)
    spark.streams.removeListener(mirror)
  }



  def run(spark: SparkSession, seconds: Double, seed: Long, work: String, out: Records): Unit = {
    import spark.implicits._
    val w0 = System.nanoTime()
    warmUp(spark, seed, s"$work/warmup")
    out.emit("warmup", "s" -> (System.nanoTime() - w0) / 1e9)

    val store = new TimedStore(new Streams.AtomicFileOffsetStore(s"$work/stream/offsets"), out)
    val mirror = new Streams.DurableOffsetMirror(store)
    spark.streams.addListener(mirror)
    val in = MemoryStream[Doc](spark)
    val start = pipeline(spark, in, s"$work/stream", Trigger.ProcessingTime(TriggerMs))
    val sinkDir = s"$work/stream/sink"

    def endOffset(p: StreamingQueryProgress): Long =
      Option(p).flatMap(_.sources.headOption).flatMap(s => Option(s.endOffset))
        .flatMap(_.toLongOption).getOrElse(-1L)
    def triggerEnd(p: StreamingQueryProgress): Long =
      java.time.Instant.parse(p.timestamp).toEpochMilli +
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)

    val q1 = start()
    // generator: tick i is due at t0 + i·TickMs and becomes offset i
    val ticks = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    @volatile var generating = true
    val t0 = System.currentTimeMillis() + TickMs
    val gen = new Thread(() => {
      var i = 0
      while (generating) {
        val due = t0 + i * TickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val batch = (1 to DocsPerTick).map { j =>
          val id = i.toLong * DocsPerTick + j
          (id, docText(seed, id), new java.sql.Timestamp(due))
        }
        in.addData(batch)
        ticks.add((i.toLong, due, System.currentTimeMillis()))
        i += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)

    gen.start()
    val stopAt = t0 + (seconds * 1000).toLong
    while (System.currentTimeMillis() < stopAt) Thread.sleep(10)

    // `Restarts` outage cycles: graceful stop, outage, read-back, restart
    // from the checkpoint, wait until every tick due before the restart
    // is committed; the next cycle's stop follows directly
    val runs = scala.collection.mutable.ArrayBuffer(q1)
    (1 to Restarts).foreach { cycle =>
      val q = runs.last
      // graceful: between batches, as soon as one more has committed and
      // the next has not started (every cycle then recovers the same
      // way); if the host never leaves a gap, stop after a few seconds
      val lastBatch = q.lastProgress.batchId
      val giveUp = System.currentTimeMillis() + 5000L
      while ((q.lastProgress.batchId == lastBatch || q.status.isTriggerActive) &&
             q.isActive && System.currentTimeMillis() < giveUp) Thread.sleep(1)
      val stop0 = System.currentTimeMillis()
      q.stop(); q.awaitTermination()
      val stop1 = System.currentTimeMillis()
      out.emit("stream_event", "name" -> "stop", "cycle" -> cycle, "start_ms" -> stop0, "end_ms" -> stop1)

      while (System.currentTimeMillis() < stop1 + OutageMs) Thread.sleep(10)
      val rb0 = System.nanoTime()
      val before = store.readBack()
      val resume = Streams.resumeOffsets(store)
      val readbackMs = (System.nanoTime() - rb0) / 1e6
      val restartMs = System.currentTimeMillis()
      val next = start()
      runs += next
      val target = ticks.asScala.filter(_._2 < restartMs).map(_._1).maxOption.getOrElse(0L)
      out.emit("stream_event", "name" -> "restart", "cycle" -> cycle, "start_ms" -> restartMs,
        "readback_ms" -> readbackMs, "records_before" -> before.size,
        "resume_offset" -> resume.getOrElse(""), "target_offset" -> target)
      val deadline = restartMs + MaxRecoverMs
      var caught: Option[StreamingQueryProgress] = None
      while (caught.isEmpty && System.currentTimeMillis() < deadline && next.isActive) {
        caught = next.recentProgress.find(endOffset(_) >= target)
        if (caught.isEmpty) Thread.sleep(20)
      }
      out.emit("stream_event", "name" -> "caught_up", "cycle" -> cycle, "ok" -> caught.isDefined,
        "end_ms" -> caught.map(triggerEnd).getOrElse(deadline))
    }
    val last = runs.last
    val tailUntil = System.currentTimeMillis() + TailMs
    while (System.currentTimeMillis() < tailUntil) Thread.sleep(10)
    generating = false
    gen.join()
    if (last.isActive) last.processAllAvailable()
    last.stop(); last.awaitTermination()
    // the mirror and the tracer are listeners: let them see every event
    org.apache.spark.perfbenchhooks.BusDrain.drain(spark.sparkContext)
    spark.streams.removeListener(mirror)

    ticks.asScala.toSeq.sortBy(_._1).foreach { case (offset, due, added) =>
      out.emit("tick", "offset" -> offset, "due_ms" -> due, "added_ms" -> added)
    }
    runs.zipWithIndex.flatMap { case (q, k) => q.recentProgress.toSeq.map(k + 1 -> _) }.foreach { case (run, p) =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      out.emit("progress", "run" -> run, "batch_id" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "durations" -> d, "input_rows" -> p.numInputRows,
        "start_offset" -> p.sources.headOption.map(s => String.valueOf(s.startOffset)).getOrElse(""),
        "end_offset" -> endOffset(p),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum)
    }
    store.readBack().foreach { r =>
      out.emit("readback", "batch_id" -> r.batchId, "source" -> r.source,
        "start_offset" -> r.startOffset, "end_offset" -> r.endOffset)
    }
    // sink check: every planted pair exactly once per band, nothing else
    val lastId = ticks.size.toLong * DocsPerTick
    val found = spark.read.parquet(sinkDir)
      .groupBy("doc_id_1", "doc_id_2").count()
      .as[(Long, Long, Long)].collect()
    val planted = (5L to lastId by 5L).map(d => (d - 3, d)).toSet
    val counts = found.map { case (a, b, n) => (a, b) -> n }.toMap
    out.emit("sink", "rows" -> found.map(_._3).sum, "pairs" -> found.length,
      "planted" -> planted.size, "found_planted" -> planted.count(counts.contains),
      "unplanted_pairs" -> counts.keys.count(k => !planted(k)),
      "pair_row_counts" -> counts.values.groupBy(identity).map { case (n, xs) => n.toString -> xs.size },
      "bands" -> 2)
  }
}
