package graft.engine.io

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Demonstrates the date-partitioned layout SURVEY §4.2 commits to for the
  * 100 TB events table: static partition pruning (a date filter touches
  * only matching directories) and dynamic partition pruning (a join
  * against a filtered dimension prunes fact partitions at runtime). */
class PartitioningSpec extends SparkSuite {

  private lazy val factDir: String = {
    val dir = tmpDir("part")
    Tables.events(spark, sfDir)
      .withColumn("event_date", col("ts").cast("date"))
      .write.partitionBy("event_date").mode("overwrite").parquet(dir)
    dir
  }

  test("static partition pruning: a date predicate prunes directories at plan time") {
    val days = spark.read.parquet(factDir)
      .select(col("event_date")).distinct().count()
    assert(days > 1, "fixture must span multiple days for pruning to mean anything")

    val oneDay = spark.read.parquet(factDir)
      .filter(col("event_date") === spark.read.parquet(factDir)
        .agg(min("event_date")).head().getDate(0))
    val plan = oneDay.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scanLine.contains("PartitionFilters: [isnotnull(event_date") ||
           plan.contains("PartitionFilters: [isnotnull(event_date"),
      s"date filter must become a partition filter:\n${plan.take(1500)}")
    // row-level check: only that day's rows are read
    val expected = spark.read.parquet(factDir)
      .withColumn("d", col("event_date"))
      .groupBy("d").count().orderBy("d").head().getLong(1)
    assert(oneDay.count() == expected)
  }

  test("dynamic partition pruning: a filtered dim join prunes fact partitions at runtime") {
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    try {
      val fact = spark.read.parquet(factDir)
      // independent date dimension on disk, with a selective predicate —
      // the shape DPP requires (filter on dim side, join on partition key)
      val dimDir = tmpDir("dim")
      val w = org.apache.spark.sql.expressions.Window.orderBy("event_date")
      fact.select(col("event_date")).distinct()
        .withColumn("day_no", row_number().over(w))
        .write.mode("overwrite").parquet(dimDir)
      val dim = spark.read.parquet(dimDir).filter(col("day_no") <= 2)
      val joined = fact.join(dim, Seq("event_date"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning") ||
             plan.toLowerCase.contains("dynamicpruningexpression"),
        s"expected a dynamic pruning subquery on the fact scan:\n${plan.take(2000)}")
    } finally spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
  }

  test("z-order writer layout bounds BOTH dimensions per file; a 1-D sort bounds only its own") {
    // the writer path the q_zorder audit documents:
    // repartitionByRange(zkey) + sortWithinPartitions(zkey)
    import org.apache.spark.sql.DataFrame
    val dims = Tables.orders(spark, sfDir).select(
      pmod(col("o_custkey"), lit(1024L)).as("x"),
      pmod(datediff(to_date(col("o_orderdate")),
        lit(java.sql.Date.valueOf("1992-01-01"))).cast("long"), lit(1024L)).as("y"))
    def fileWidths(df: DataFrame, sortCol: String): Seq[(Long, Long)] = {
      val dir = tmpDir(s"z-$sortCol")
      df.repartitionByRange(8, col(sortCol)).sortWithinPartitions(sortCol)
        .write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg((max("x") - min("x")).as("wx"), (max("y") - min("y")).as("wy"))
        .select("wx", "wy").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val zed = fileWidths(
      dims.withColumn("zkey",
        graft.engine.ops.Relational.zOrder2(col("x"), col("y"))), "zkey")
    val oneD = fileWidths(dims, "x")
    def mean(s: Seq[Long]): Double = s.sum.toDouble / s.size
    // z-order: EVERY file bounds both dims well under the 1024 domain
    // (√-share law; range boundaries may straddle two aligned blocks)
    assert(mean(zed.map(_._1)) < 450 && mean(zed.map(_._2)) < 450,
      s"z-layout must bound both dims: $zed")
    // the 1-D sort bounds its own key tightly but leaves y near-full-width
    assert(mean(oneD.map(_._1)) < 200, s"x-sort must bound x: $oneD")
    assert(mean(oneD.map(_._2)) > 800,
      s"x-sort cannot bound the other dimension — that asymmetry is the point: $oneD")
  }
}
