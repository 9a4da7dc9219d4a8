package perfbench

import java.math.{MathContext, RoundingMode}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.engine.ops.TextPipeline

/** Order-insensitive content hash of a result: every row is rendered
  * canonically (doubles rounded to 6 significant digits, map entries
  * sorted), hashed to 64 bits, and the row hashes are summed, so row
  * order and float summation order do not change it. */
object RowHash {
  private val Digits = new MathContext(6, RoundingMode.HALF_EVEN)

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Digits).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case bytes: Array[Byte] => bytes.map(b => f"$b%02x").mkString("0x", "", "")
    case other => other.toString
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.stringHash(s, 0x0b5e).toLong & 0xffffffffL)
  }

  /** (row count, hex hash) of the whole result. */
  def apply(df: DataFrame): (Long, String) = {
    val (n, h) = df.rdd.mapPartitions { it =>
      var n = 0L; var h = 0L
      it.foreach { r => n += 1; h += rowHash(r) }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    (n, java.lang.Long.toHexString(h))
  }
}

/** The batch workload: shared artifacts built in their declared order,
  * each timed under its own label, then a fixed list of query keys
  * evaluated through the noop sink (all operators run, nothing is
  * written). One such pass runs in a fresh session, since artifacts are
  * memoized per session. A pass's time is the sum of its calls' times.
  *
  * The first [[WarmupPasses]] passes are the warm-up, part of set-up:
  * they pay codegen, JIT and first-use costs. Pass 0 evaluates each call
  * through its output check (row count and [[RowHash]]) instead of the
  * noop sink. The passes after the warm-up are measured, at least
  * [[MinPasses]] and until `seconds` of pass time is measured.
  *
  * Each call is split into construction (binding call until the
  * DataFrame is returned, eager actions included) and execution. */
object Batch {
  /** Warm-up passes: after one, a pass still ran ~20% slower than the
    * next (JIT still compiling, noop-sink plans new). */
  val WarmupPasses = 2
  /** Measured passes at least, so that their median drops one outlier. */
  val MinPasses = 3

  def run(spark: SparkSession, sfDir: String, keys: Seq[String], artifacts: Seq[String],
          seconds: Double, out: Records, tracer: Option[Tracer]): Unit = {
    val queries = SparkEntry.queries
    keys.foreach(k => require(queries.contains(k), s"unknown query key $k"))
    var measured = 0.0
    var pass = 0
    while (pass < WarmupPasses + MinPasses || measured < seconds) {
      val session = spark.newSession()
      tracer.foreach(_.attachTo(session))
      val p = pass
      def body(passSpan: Long): Double = {
        val builders = TextPipeline.sharedArtifactBuilders(session, sfDir).toMap
        artifacts.foreach(a => require(builders.contains(a), s"unknown artifact $a"))
        val built = artifacts.map(a => op(session, "artifact", a, p, passSpan, out, tracer)(builders(a)()))
        out.emit("baseline", "pass" -> p, "cached_blocks" -> cachedBlocks(spark))
        (built ++ keys.map(k => op(session, "query", k, p, passSpan, out, tracer)(queries(k)(session, sfDir)))).sum
      }
      val wall = tracer match {
        case Some(t) => t.span(s"pass $p", "pass", 0L)(body)
        case None => body(0L)
      }
      if (p < WarmupPasses) out.emit("warmup", "pass" -> p, "s" -> wall)
      else {
        measured += wall
        out.emit("pass", "pass" -> p, "wall_s" -> wall, "cached_blocks" -> cachedBlocks(spark))
      }
      // a pass must not hand its cached frames to the next one
      session.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      pass += 1
    }
  }

  private def cachedBlocks(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum

  /** Times one call (construction, then execution) and writes its
    * record; returns the timed seconds. Execution is the noop write, or
    * in pass 0 the output check. */
  private def op(session: SparkSession, kind: String, name: String, pass: Int, parent: Long,
                 out: Records, tracer: Option[Tracer])(build: => DataFrame): Double = {
    def step[A](label: String, stepKind: String, par: Long)(f: Long => A): (A, Double, Long) = {
      val t0 = System.nanoTime()
      val (a, id) = tracer match {
        case Some(t) => t.span(label, stepKind, par)(sid => (f(sid), sid))
        case None => (f(0L), 0L)
      }
      (a, (System.nanoTime() - t0) / 1e9, id)
    }
    val fields = scala.collection.mutable.LinkedHashMap[String, Any](
      "kind" -> kind, "name" -> name, "pass" -> pass)
    var timedS = 0.0
    try {
      val ((constructS, executeS, constructSpan), _, opSpan) = step(name, kind, parent) { sid =>
        val (df, c, cs) = step("construct", "construct", sid)(_ => build)
        // pass 0 evaluates the frame once, through its output check
        val (checked, e, _) = step("execute", "execute", sid)(_ =>
          if (pass == 0) Some(RowHash(df))
          else { df.write.format("noop").mode("overwrite").save(); None })
        checked.foreach { case (rows, hash) => fields ++= Seq("rows" -> rows, "hash" -> hash) }
        (c, e, cs)
      }
      timedS = constructS + executeS
      fields ++= Seq("construct_s" -> constructS, "execute_s" -> executeS)
      tracer.foreach(t => fields ++= traceFields(t, opSpan, constructSpan))
      fields += "ok" -> true
    } catch { case e: Throwable => fields ++= Seq("ok" -> false, "error" -> e.toString.take(500)) }
    fields += "cached_blocks" -> cachedBlocks(session)
    out.emit("op", fields.toSeq: _*)
    timedS
  }

  /** The traced counters of one call. Planning phases are those of the
    * actions the call ran (eager ones during construction, then the noop
    * write); the returned frame's own analysis at construction is inside
    * `construct_s`. */
  private def traceFields(t: Tracer, opSpan: Long, constructSpan: Long): Seq[(String, Any)] =
    t.totals(Seq(opSpan)).toMap.toSeq :+ ("construct_jobs" -> t.totals(Seq(constructSpan)).jobs)
}
