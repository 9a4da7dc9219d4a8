package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the id of the span that caused it
  * (0 for a root); times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      startMs: Long, endMs: Long, attrs: Map[String, Any])

/** Engine work attributed to one span: scheduling counts, executor time,
  * bytes moved, and the planning phases of the actions it ran. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, peakMem = 0L
  var analysisMs, optimizeMs, planMs = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> runMs, "task_cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "peak_exec_mem_bytes" -> peakMem,
    "analysis_ms" -> analysisMs, "optimize_ms" -> optimizeMs, "plan_ms" -> planMs)
}

/** The traced run's recorder. The harness opens a span around each call
  * into a layer; Spark, query-execution and streaming listeners attach
  * jobs, stages, task metrics, planning phases and triggers to the span
  * that was open when the work was submitted. Everything stays in memory
  * until [[write]] at the end of the run. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val SpanProp = "perfbench.span"
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val stageOwner = new ConcurrentHashMap[Int, Long]()
  private val stageJobSpan = new ConcurrentHashMap[Int, Long]()
  private val openJobs = new ConcurrentHashMap[Int, (Long, Long, Long)]()
  @volatile private var current = 0L

  private def countersOf(id: Long): Counters = counters.computeIfAbsent(id, _ => new Counters)

  private def owner(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)

  /** Runs `f` inside a new span under `parent`. Work submitted from this
    * thread meanwhile is attributed to the span; the listener bus is
    * drained before the span closes so its counters are complete. */
  def span[A](name: String, kind: String, parent: Long)(f: Long => A): A = {
    val id = ids.incrementAndGet()
    val prev = sc.getLocalProperty(SpanProp)
    val t0 = System.currentTimeMillis()
    sc.setLocalProperty(SpanProp, id.toString)
    current = id
    try f(id)
    finally {
      org.apache.spark.perfbenchhooks.BusDrain.drain(sc)
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(SpanProp, prev)
      current = parent
      spans.add(Span(id, parent, name, kind, t0, t1, Map.empty))
    }
  }

  /** Records an interval measured elsewhere (a trigger, from its progress). */
  private def record(name: String, kind: String, parent: Long, startMs: Long, endMs: Long,
             attrs: Map[String, Any] = Map.empty): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, name, kind, startMs, endMs, attrs))
    id
  }

  /** Sums the counters of `roots` and every span beneath them. */
  def totals(roots: Seq[Long]): Counters = {
    val children = spans.asScala.groupBy(_.parent)
    val out = new Counters
    def walk(id: Long): Unit = {
      Option(counters.get(id)).foreach { c =>
        c.synchronized {
          out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
          out.runMs += c.runMs; out.cpuNs += c.cpuNs; out.gcMs += c.gcMs
          out.shuffleRead += c.shuffleRead; out.shuffleWrite += c.shuffleWrite
          out.spill += c.spill; out.peakMem = math.max(out.peakMem, c.peakMem)
          out.analysisMs += c.analysisMs; out.optimizeMs += c.optimizeMs
          out.planMs += c.planMs
        }
      }
      children.getOrElse(id, Nil).foreach(s => walk(s.id))
    }
    roots.foreach(walk)
    out
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = owner(e.properties)
      val jobSpan = ids.incrementAndGet()
      openJobs.put(e.jobId, (jobSpan, op, e.time))
      e.stageIds.foreach(s => stageJobSpan.put(s, jobSpan))
      val c = countersOf(op); c.synchronized { c.jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach { case (jobSpan, op, t0) =>
        spans.add(Span(jobSpan, op, s"job ${e.jobId}", "job", t0, e.time, Map.empty))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stageOwner.put(e.stageInfo.stageId, owner(e.properties)); ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val op = stageOwner.getOrDefault(info.stageId, 0L)
      val c = countersOf(op); c.synchronized { c.stages += 1 }
      for (s <- info.submissionTime; t <- info.completionTime)
        spans.add(Span(ids.incrementAndGet(), stageJobSpan.getOrDefault(info.stageId, op),
          s"stage ${info.stageId}", "stage", s, t, Map("tasks" -> info.numTasks)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val c = countersOf(stageOwner.getOrDefault(e.stageId, 0L))
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled
          c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        }
      }
    }
  }

  /** Planning phases of every action, from its QueryExecution tracker. */
  private val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val c = countersOf(current)
      c.synchronized {
        c.analysisMs += ms("analysis"); c.optimizeMs += ms("optimization"); c.planMs += ms("planning")
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** One span per trigger, its phases laid end to end in execution order
    * (the progress record carries their durations, not their starts). */
  private val streamListener = new StreamingQueryListener {
    private val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val total: Long = Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val trig = record(s"trigger ${p.batchId}", "trigger", 0L, start, start + total,
        Map("batch_id" -> p.batchId, "input_rows" -> p.numInputRows,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
      var t = start
      Phases.foreach { k =>
        Option(d.get(k)).map(_.longValue).filter(_ > 0).foreach { ms =>
          record(k, "phase", trig, t, t + ms); t += ms
        }
      }
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Sessions derived with `newSession()` keep their own listener manager. */
  def attachTo(session: SparkSession): Unit = session.listenerManager.register(queryListener)

  def detach(): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def write(path: String, extra: Map[String, Any]): Unit = {
    val all = spans.asScala.toSeq.sortBy(s => (s.startMs, s.id))
    val body = Json.enc(Map(
      "spans" -> all.map { s =>
        val c = Option(counters.get(s.id)).map(_.toMap).getOrElse(Map.empty)
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> (s.attrs ++ c))
      }) ++ extra)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
