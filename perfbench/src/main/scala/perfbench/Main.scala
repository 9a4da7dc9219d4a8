package perfbench

import org.apache.spark.sql.SparkSession

import graft.engine.GraftSession
import graft.engine.io.Tables

/** Benchmark process for one workload run. `perfbench/run.py` launches
  * it, passes the seeded inputs, and turns the raw records it writes
  * into metrics; this side only drives the engine's public entry points
  * and times each call from outside.
  *
  * Arguments (all `--name value`):
  *   workload   batch | stream_ingest
  *   seed       the run's seed (stream document text)
  *   seconds    minimum measured time
  *   trace      1 attaches the listeners and writes `trace-out`
  *   cores      worker threads of the local session
  *   fixtures   the fixture table directory
  *   keys       comma-separated query keys, already in run order (batch)
  *   artifacts  comma-separated shared-artifact labels built first (batch)
  *   launch-ms  epoch milliseconds at which the JVM was launched
  *   work       the run's working directory (stream checkpoint and sink)
  *   out        raw-record file (JSON lines)
  *   trace-out  trace file (traced runs)
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val mainEntryMs = System.currentTimeMillis()
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    val traced = args.getOrElse("trace", "0") == "1"
    val seconds = args("seconds").toDouble
    val sfDir = new java.io.File(args("fixtures")).getAbsolutePath
    def list(name: String): Seq[String] = args.getOrElse(name, "").split(',').filter(_.nonEmpty).toSeq
    val out = new Records(args("out"))
    try {
      val batch = workload == "batch"
      val spark = setUp(out, args("cores").toInt, if (batch) Some(sfDir) else None,
        (mainEntryMs - args("launch-ms").toLong) / 1e3)
      val tracer = if (traced) Some(new Tracer(spark)) else None
      tracer.foreach(_.attach())
      if (traced && batch) tableLoads(spark, sfDir, out)
      workload match {
        case "batch" =>
          Batch.run(spark, sfDir, list("keys"), list("artifacts"), seconds, out, tracer)
        case "stream_ingest" =>
          StreamIngest.run(spark, seconds, args("seed").toLong, args("work"), out)
        case other => sys.error(s"unknown workload $other")
      }
      tracer.foreach { t =>
        t.detach()
        t.write(args("trace-out"), Map("workload" -> workload, "seed" -> args("seed")))
      }
      spark.stop()
      out.emit("done")
    } finally out.close()
  }

  /** Set-up, once per run: JVM start-up (launch until `main`), a fresh
    * session, and every fixture table resolved when the workload reads
    * them (`sfDir`). Each workload then warms up on the session and
    * records that as part of set-up too (batch: see [[Batch]]; stream:
    * see [[StreamIngest]]). */
  private def setUp(out: Records, cores: Int, sfDir: Option[String], jvmS: Double): SparkSession = {
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores)
    val t1 = System.nanoTime()
    sfDir.foreach(d => Tables.all.foreach(n => Tables.load(spark, d, n).schema))
    out.emit("setup", "jvm_s" -> jvmS, "session_s" -> (t1 - t0) / 1e9,
      "resolve_s" -> (System.nanoTime() - t1) / 1e9)
    spark
  }

  /** Direct `Tables.load` calls, three rounds over every table: the io
    * layer's own cost, outside any query. */
  private def tableLoads(spark: SparkSession, sfDir: String, out: Records): Unit =
    (1 to 3).foreach { round =>
      Tables.all.foreach { n =>
        val t0 = System.nanoTime()
        Tables.load(spark, sfDir, n).schema
        out.emit("table_load", "round" -> round, "table" -> n, "ms" -> (System.nanoTime() - t0) / 1e6)
      }
    }
}
