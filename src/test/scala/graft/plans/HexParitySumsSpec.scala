package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class HexParitySumsSpec extends SparkTestBase {

  test("fused parity sums equal the composed 32-column aggregate") {
    val s = spark
    Natives.ensure(s)
    val tok = s.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("m", md5(col("tok")))
    val fused = tok.groupBy("doc_id")
      .agg(call_function("graft_parity_sums", col("m"), lit(32)).as("sums"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // the reference: one sum(CASE ...) aggregate column per bit — the
    // exact formulation the fused aggregate replaced
    val refAggs = (1 to 32).map { j =>
      sum(expr(s"2 * ((instr('0123456789abcdef', substring(m, $j, 1)) - 1) % 2) - 1"))
        .as(s"s$j")
    }
    val ref = tok.groupBy("doc_id").agg(refAggs.head, refAggs.tail: _*).collect()
    assert(ref.nonEmpty)
    ref.foreach { r =>
      val id = r.getLong(0)
      (1 to 32).foreach { j =>
        assert(fused(id)(j - 1) == r.getLong(j),
          s"doc $id bit $j: fused=${fused(id)(j - 1)} ref=${r.getLong(j)}")
      }
    }
  }

  test("nBits=16 prefix matches the first 16 of nBits=32") {
    val s = spark
    Natives.ensure(s)
    val tok = s.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), md5(col("text")).as("m"))
    val both = tok.groupBy("doc_id")
      .agg(call_function("graft_parity_sums", col("m"), lit(16)).as("s16"),
           call_function("graft_parity_sums", col("m"), lit(32)).as("s32"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2).take(16))
    }
  }

  test("the aggregate plans hash-based (ObjectHashAggregate), not sort-based") {
    val plan = graft.operators.DedupOps.dedupSimhash(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      "fused parity sums should run under ObjectHashAggregateExec")
    assert(!plan.contains("SortAggregate"),
      "array-typed buffer must not force a sort-based aggregate")
  }
}
