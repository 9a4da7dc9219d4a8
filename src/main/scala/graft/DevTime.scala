package graft
import graft.engine.GraftSession

/** Dev-loop timer: `runMain graft.DevTime q_a q_b ...` times the named
  * SparkEntry queries (default sf0.1, override SPARK_GRAFT_SF_DIR),
  * two runs each, against the same noop-sink evaluation Bench uses.
  * Each run also reports the job/stage/task counts and summed executor
  * task time the query scheduled (from a SparkListener), so a "slow"
  * query can be split into scheduling floor vs real executor work
  * without the (disabled) UI, and the change in the context's cached
  * RDD count (`cached=+N`): a query that leaves cached blocks behind
  * shows a non-zero delta on every run (a session artifact's first
  * build shows its own registry persist once). Not part of the driver
  * contract — local iteration only. */
object DevTime {
  private class CountListener extends org.apache.spark.scheduler.SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L   // summed executor runTime across tasks
    @volatile var gcTimeMs = 0L
    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0; gcTimeMs = 0 }
    override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }
    override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      synchronized {
        tasks += 1
        val m = t.taskMetrics
        if (m != null) { taskTimeMs += m.executorRunTime; gcTimeMs += m.jvmGCTime }
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    val listener = new CountListener
    spark.sparkContext.addSparkListener(listener)
    val names = if (args.nonEmpty) args.toSeq else Seq("q_agg_group")
    names.foreach { name =>
      // "<query>!explain" dumps the formatted plan instead of timing
      if (name.endsWith("!explain")) {
        val q = name.stripSuffix("!explain")
        System.err.println(s"DEVPLAN $q\n" +
          SparkEntry.queries(q)(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      } else {
        val fn = SparkEntry.queries(name)
        val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
        (1 to runs).foreach { i =>
          listener.reset()
          val cached0 = spark.sparkContext.getPersistentRDDs.size
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          // listener bus is async and has no public drain hook; poll
          // until the counters are stable across two 100 ms samples
          // (r18 ADVICE: a fixed 300 ms sleep undercounted on a loaded
          // host where the bus backlog outlasts it), capped at 5 s
          var snap = (-1, -1, -1, -1L, -1L)
          var waited = 0
          var stable = false
          while (!stable && waited < 5000) {
            Thread.sleep(100); waited += 100
            val cur = (listener.jobs, listener.stages, listener.tasks,
              listener.taskTimeMs, listener.gcTimeMs)
            stable = cur == snap
            snap = cur
          }
          System.err.println(f"DEVTIME $name run$i $dt%.2f s " +
            f"jobs=${listener.jobs} stages=${listener.stages} tasks=${listener.tasks} " +
            f"taskTime=${listener.taskTimeMs / 1000.0}%.2f s gc=${listener.gcTimeMs / 1000.0}%.2f s " +
            f"cached=${spark.sparkContext.getPersistentRDDs.size - cached0}%+d")
        }
      }
    }
    spark.stop()
  }
}
