package graft.engine.io

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Pins the `Tables.load` events-timestamp adapter across BOTH fixture
  * layouts the driver has shipped (TIMESTAMP(NANOS) read as nanos-long
  * under the legacy flag, and TIMESTAMP(MICROS) surfacing as NTZ) — the
  * branch not exercised by the current fixture must not regress until
  * the next regeneration flips the layout back. */
class TablesSpec extends SparkSuite {
  import spark.implicits._

  // two instants, exact in microseconds; the nanos layout adds sub-µs
  // noise that the adapter must truncate away (DuckDB read behavior)
  private val micros = Seq(1700000000000000L, 1700000123456789L)

  private def loadTs(dir: String): Seq[Long] =
    Tables.load(spark, dir, "events")
      .select(unix_micros(col("ts"))).as[Long].collect().toSeq.sorted

  test("events ts: nanos-as-long and micros-NTZ layouts yield the identical microsecond timeline") {
    // layout A — TIMESTAMP(NANOS): under nanosAsLong Spark surfaces the
    // column as BIGINT nanoseconds; writing a BIGINT column reproduces
    // exactly what the adapter's LongType branch receives
    val nanosDir = tmpDir("ev-nanos")
    micros.zipWithIndex
      .map { case (us, i) => (i.toLong, us * 1000L + 777L) } // sub-µs noise
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$nanosDir/events.parquet")
    // layout B — TIMESTAMP(MICROS) NTZ
    val microsDir = tmpDir("ev-micros")
    micros.zipWithIndex
      .map { case (us, i) => (i.toLong, us) }
      .toDF("event_id", "us")
      .withColumn("ts", to_timestamp_ntz(expr("timestamp_micros(us)")))
      .drop("us")
      .write.mode("overwrite").parquet(s"$microsDir/events.parquet")
    assert(loadTs(nanosDir) == micros.sorted, "nanos layout must truncate ns -> us")
    assert(loadTs(microsDir) == micros.sorted, "micros NTZ layout must cast value-preserving")
    assert(loadTs(nanosDir) == loadTs(microsDir), "both layouts: one timeline")
    // both branches land on the session TimestampType so downstream
    // operators never see a layout difference
    assert(Tables.load(spark, nanosDir, "events").schema("ts").dataType ==
      Tables.load(spark, microsDir, "events").schema("ts").dataType)
  }

  test("events ts: a non-UTC session fails fast instead of silently shifting the NTZ timeline") {
    val microsDir = tmpDir("ev-tz")
    micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
      .toDF("event_id", "us")
      .withColumn("ts", to_timestamp_ntz(expr("timestamp_micros(us)")))
      .drop("us")
      .write.mode("overwrite").parquet(s"$microsDir/events.parquet")
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "America/New_York")
      val e = intercept[IllegalStateException](Tables.load(spark, microsDir, "events"))
      assert(e.getMessage.contains("requires spark.sql.session.timeZone=UTC"))
    } finally spark.conf.set(key, saved)
  }

  test("events ts: an unexpected fixture type fails loudly instead of coercing to nulls") {
    val badDir = tmpDir("ev-bad")
    Seq((1L, "2023-11-14 22:13:20")).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$badDir/events.parquet")
    val e = intercept[IllegalStateException](Tables.load(spark, badDir, "events"))
    assert(e.getMessage.contains("unexpected events.ts type"))
  }
}
