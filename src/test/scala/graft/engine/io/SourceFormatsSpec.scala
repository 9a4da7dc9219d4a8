package graft.engine.io

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Beyond parquet: the engine reads the same relational data from JSON
  * lines and CSV with explicit schemas (schema inference is forbidden at
  * scale — a schema-inferring read is a full extra pass over 100 TB). */
class SourceFormatsSpec extends SparkSuite {

  private lazy val base = Tables.nation(spark, sfDir)

  test("JSON lines round-trip with explicit schema matches the parquet rows") {
    val dir = tmpDir("json") + "/nation"
    base.write.mode("overwrite").json(dir)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    val back = spark.read.schema(schema).json(dir)
      .select("n_nationkey", "n_name", "n_regionkey")
    val orig = base.select("n_nationkey", "n_name", "n_regionkey")
    assert(back.exceptAll(orig).count() == 0 && orig.exceptAll(back).count() == 0)
  }

  test("CSV round-trip with explicit schema and header matches the parquet rows") {
    val dir = tmpDir("csv") + "/nation"
    base.select("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").option("header", "true").csv(dir)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    val back = spark.read.schema(schema).option("header", "true").csv(dir)
    val orig = base.select("n_nationkey", "n_name", "n_regionkey")
    assert(back.exceptAll(orig).count() == 0 && orig.exceptAll(back).count() == 0)
  }

  test("ORC round-trip preserves rows and pushes filters into the scan") {
    val dir = tmpDir("orc") + "/nation"
    base.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir).select("n_nationkey", "n_name", "n_regionkey")
    val orig = base.select("n_nationkey", "n_name", "n_regionkey")
    assert(back.exceptAll(orig).count() == 0 && orig.exceptAll(back).count() == 0)
    val p = spark.read.orc(dir).filter(col("n_nationkey") > 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [") && p.contains("n_nationkey"),
      s"ORC scan must receive the pushed predicate:\n${p.take(1200)}")
  }

  test("partitioned parquet write round-trips and exposes the partition column") {
    val dir = tmpDir("part") + "/orders"
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == o.count())
    // per-partition counts survive the layout round-trip
    val a = o.groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = back.groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("from_json parses a JSON string column with a declared schema (streaming decode path)") {
    import spark.implicits._
    val payloads = Seq("""{"k": 7, "tag": "x"}""", """{"k": 9, "tag": "y"}""").toDF("value")
    val schema = StructType(Seq(StructField("k", LongType), StructField("tag", StringType)))
    val parsed = payloads.select(from_json(col("value"), schema).as("j"))
      .select(col("j.k"), col("j.tag"))
    assert(parsed.as[(Long, String)].collect().toSet == Set((7L, "x"), (9L, "y")))
  }
}
