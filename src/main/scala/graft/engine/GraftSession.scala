package graft.engine

import org.apache.spark.sql.SparkSession

/** The blessed session configuration for the engine — one place for the
  * settings every entry point (Verify, Bench, Smoke, tests, library
  * users) must agree on:
  *
  *  - `shuffle.partitions` sized to the core count, not Spark's default
  *    200 (local mode; at cluster scale this is tuned to data volume);
  *  - UTC session timezone (the oracle determinism contract);
  *  - ANSI off for DuckDB-compatible cast/overflow semantics;
  *  - `nanosAsLong` because the events fixture carries TIMESTAMP(NANOS),
  *    which Spark 4 otherwise refuses to read (Tables.events then
  *    truncates ns→µs, matching DuckDB's read behavior);
  *  - µs parquet timestamps on write (INT96 would confuse comparators);
  *  - AQE on (runtime re-planning, skew handling, partition coalescing);
  *  - RocksDB state commits as changelogs: a commit appends one changelog
  *    file per state partition instead of flushing, checkpointing,
  *    fsyncing and zipping a full snapshot (on a 4-core host, a steady
  *    ingest trigger's state commit over 4 partitions fell from
  *    ~340–440 ms to ~20 ms); the state-store maintenance thread
  *    uploads snapshots in the background, and a restart loads the last
  *    snapshot and replays the changelogs after it. The HDFS-backed
  *    provider ignores the setting, and Spark restarts a checkpoint
  *    written in either mode under the other.
  */
object GraftSession {
  def builder(master: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      // inject the engine's native expression kernels at SESSION BUILD
      // (r10 verdict #7): a pure-SQL user reaches poly_hash62 /
      // simhash_text64 / char_diversity_stats / gimg_decode / … from
      // `spark.sql` text without any engine operator having run first —
      // the same GraftExtensions a cluster job passes via
      // --conf spark.sql.extensions (runtime register() remains for
      // sessions built outside this builder)
      .config("spark.sql.extensions", "graft.engine.functions.GraftExtensions")
      // let AQE coalesce shuffle partitions INSIDE persisted plans too
      // (off by default): iterative operators persist small hot tables
      // (dedup edge lists, label tables) and without this every cached
      // count-free `repartition(col)` pins the session's full shuffle
      // partition count onto kilobyte-sized data, so each loop round
      // schedules near-empty tasks per stage
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")

  /** Local session with `cores` worker threads (the driver-contract
    * shape: `local[n]` with shuffle partitions = n). */
  def local(cores: Int): SparkSession = {
    // Shuffle + localCheckpoint blocks default to /tmp, and co-tenant
    // cleaners on shared hosts purge them MID-JOB (observed live: a
    // blockmgr subtree deleted during a running stage → every task in it
    // fails on its index file → stage retry recomputes from the source —
    // the likely cause of r2's unstable q_dedup_clusters measurement).
    // Keep scratch under the project workdir instead; SPARK_LOCAL_DIRS,
    // when set by an operator, still takes precedence inside Spark.
    val scratch = new java.io.File("target/sparklocal").getAbsolutePath
    val base = builder(s"local[$cores]", cores)
      .config("spark.local.dir", scratch)
    // Streaming checkpoint writes (offset WAL + commit log, 2/trigger)
    // default to the FileContext-based manager, whose createAtomic
    // measures a flat ~35 ms/write on this host's local fs — 4× the
    // FileSystem-based manager's ~9 ms (probed directly; raw
    // fsync+rename is 0.3 ms, so this is manager overhead, not disk).
    // On a POSIX local fs rename is atomic either way, so the cheap
    // manager is semantics-identical HERE — but ONLY here: FileContext
    // is what makes rename-over-existing atomic on HDFS, and that
    // property is load-bearing for checkpoint correctness there. So the
    // override is GATED on the Hadoop default filesystem actually being
    // the local one (a local() session whose environment points
    // fs.defaultFS at HDFS/S3 — e.g. a dev box with a live
    // HADOOP_CONF_DIR — keeps Spark's safe default, because a relative
    // checkpointLocation would resolve onto that remote fs). Env
    // override SPARK_GRAFT_CKPT_FM=fast|default forces either way for
    // operators who know their checkpoint scheme better than the gate.
    val spark = base.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The gate reads the SESSION's effective Hadoop configuration (which
    // folds in spark.hadoop.* from properties/defaults), not a bare
    // `new Configuration()` — the two can disagree exactly when it
    // matters (fs.defaultFS supplied via spark.hadoop.fs.defaultFS
    // rather than a classpath core-site.xml), and disagreeing the wrong
    // way would install the non-atomic manager on a remote checkpoint
    // fs. checkpointFileManagerClass is a runtime SQLConf, so deciding
    // after getOrCreate is safe.
    val defaultFsIsLocal = spark.sparkContext.hadoopConfiguration
      .get("fs.defaultFS", "file:///").startsWith("file:")
    val useFastCkptFm = sys.env.get("SPARK_GRAFT_CKPT_FM") match {
      case Some("fast") => true
      case Some("default") => false
      case _ => defaultFsIsLocal
    }
    if (useFastCkptFm)
      spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    spark
  }
}
