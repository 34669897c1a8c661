package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The storage-layout patterns that matter at cluster scale, proven on
  * the local engine: bucketed co-located joins (no Exchange), partition
  * pruning on date-partitioned output, and streaming ingestion into the
  * idempotent sink. */
class ScalePatternsSpec extends SparkTestBase {

  test("bucketed tables join WITHOUT a shuffle (co-located join)") {
    // isolated SQL conf: disable auto-broadcast so the join would
    // otherwise need a shuffle; newSession shares the context but not
    // conf mutations with the other suites.
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.read.parquet(s"$sf/orders.parquet")
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_bucketed")
    s.read.parquet(s"$sf/lineitem.parquet")
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_bucketed")
    val joined = s.table("lineitem_bucketed")
      .join(s.table("orders_bucketed"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    // the join itself must not exchange: both sides are pre-bucketed on
    // the join key (only the final 1-key aggregation may shuffle)
    val joinSection = plan.split("HashAggregate").last
    assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey") &&
           !joinSection.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join must not shuffle join keys:\n$plan")
    assert(joined.collect().map(_.getAs[Long]("n")).sum ==
      s.read.parquet(s"$sf/lineitem.parquet").count())
  }

  test("date-partitioned output prunes partitions on read") {
    val dir = graft.TempDirs.create("graft_part").toString + "/weekly"
    val records = graft.etl.WodEtl.pipelineE2E(spark, sf)
    records.write.mode("overwrite").partitionBy("date").parquet(dir)
    val someDate = records.select("date").head().getString(0)
    val pruned = spark.read.parquet(dir).filter(col("date") === someDate)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(date"),
      s"expected partition filter in scan:\n${plan.take(1500)}")
    assert(pruned.count() == records.filter(col("date") === someDate).count())
  }

  test("json-lines round-trip preserves the weekly records; corrupt lines quarantined") {
    val dir = graft.TempDirs.create("graft_jsonl").toString + "/weekly"
    val records = graft.etl.WodEtl.pipelineE2E(spark, sf)
    JsonLines.write(records, dir)
    val back = JsonLines.read(spark, dir, records.schema).cache()
    assert(back.filter(col("_corrupt_record").isNotNull).count() == 0)
    assert(back.count() == records.count())
    // value fidelity on a sampled row
    val want = records.orderBy("doc_id", "date").limit(1).collect()(0)
    val got = back.orderBy("doc_id", "date").select(records.columns.map(col): _*)
      .limit(1).collect()(0)
    assert(got == want)
    // a corrupt line is quarantined, not fatal (unpersist first: the
    // cached plan is identical and would otherwise serve the old file list)
    back.unpersist(blocking = true)
    val f = new java.io.File(dir, "corrupt.json")
    val wtr = new java.io.PrintWriter(f); wtr.println("{not json"); wtr.close()
    val withBad = JsonLines.read(spark, dir, records.schema).cache()
    assert(withBad.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(withBad.count() == records.count() + 1)
  }

  test("csv round-trip with explicit schema; malformed rows quarantined") {
    val dir = graft.TempDirs.create("graft_csv").toString + "/t"
    val src = spark.read.parquet(s"$sf/customer.parquet")
    CsvSource.write(src, dir)
    val back = CsvSource.read(spark, dir, src.schema).cache()
    assert(back.filter(col("_corrupt_record").isNotNull).count() == 0)
    assert(back.count() == src.count())
    assert(back.select(src.columns.map(col): _*).schema == src.schema)
    back.unpersist(blocking = true)
    // a malformed line lands in the corrupt-record column, not a crash
    // (header=true skips the first line per file, so prepend one)
    val f = new java.io.File(dir, "corrupt.csv")
    val wtr = new java.io.PrintWriter(f)
    wtr.println(src.columns.mkString(","))
    wtr.println("not,a,valid,row"); wtr.close()
    val withBad = CsvSource.read(spark, dir, src.schema).cache()
    assert(withBad.filter(col("_corrupt_record").isNotNull).count() == 1)
  }

  test("orc round-trip preserves schema and rows; predicates push into the ORC scan") {
    val dir = graft.TempDirs.create("graft_orc").toString + "/t"
    val src = spark.read.parquet(s"$sf/orders.parquet")
    OrcSource.write(src, dir)
    // schema-pinned read: the production posture (see OrcSource)
    val back = OrcSource.read(spark, dir, src.schema)
    assert(back.count() == src.count())
    assert(back.schema == src.schema)
    // discovery read recovers the same schema from the footers
    assert(OrcSource.read(spark, dir).schema == src.schema)
    val plan = back.filter(col("o_totalprice") > 1000.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), s"ORC scan must take pushed filters:\n$plan")
  }

  test("two-phase salted aggregation equals direct aggregation under key skew") {
    // every row shares ONE key — worst-case skew; the salted plan fans
    // the hot key across 16 partial groups before the final combine.
    val skewed = graft.Tables.events(spark, sf)
      .select(lit("hot").as("k"), col("value").cast("decimal(18,2)").as("v"))
    val direct = skewed.groupBy("k").agg(sum("v").as("total"), count(lit(1)).as("n"))
    val salted = skewed
      .withColumn("salt", pmod(crc32(col("v").cast("string")), lit(16)))
      .groupBy("k", "salt").agg(sum("v").as("pt"), count(lit(1)).as("pn"))
      .groupBy("k").agg(sum("pt").as("total"), sum("pn").as("n"))
    val dr = direct.head(); val sr = salted.head()
    assert(dr.getAs[java.math.BigDecimal]("total").compareTo(
      sr.getAs[java.math.BigDecimal]("total")) == 0)
    assert(dr.getAs[Long]("n") == sr.getAs[Long]("n"))
  }

  test("streaming batches land through the idempotent sink exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.streaming.Ev
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val dir = graft.TempDirs.create("graft_stream_sink").toString + "/t"
    val input = MemoryStream[Ev]
    val q = input.toDS().writeStream
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Ev], _: Long) =>
        IdempotentSink.writeKeyed(
          batch.toDF().withColumn("idem_key",
            sha2(concat(lit("ev:"), col("user_id"), lit(":"), col("ts_s")), 256)),
          "idem_key", "ts_s", dir): Unit
      }
      .start()
    input.addData(Ev(1, 100, 1.0), Ev(1, 200, 1.0))
    q.processAllAvailable()
    // replayed batch (same keys) plus one genuinely new event
    input.addData(Ev(1, 100, 1.0), Ev(1, 200, 1.0), Ev(2, 300, 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(dir)
    assert(out.count() == 3, "replayed events must not duplicate")
    assert(out.select("idem_key").distinct().count() == 3)
  }
}
