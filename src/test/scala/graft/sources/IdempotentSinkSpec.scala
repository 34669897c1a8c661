package graft.sources

import graft.SparkTestBase
import graft.etl.WodEtl

class IdempotentSinkSpec extends SparkTestBase {

  test("first write lands, replay skips everything, new keys append") {
    import org.apache.spark.sql.functions._
    val dir = graft.TempDirs.create("idem_sink").toString + "/t"
    // per-doc unique keys, reference formula (sha256 of op:identifier)
    val keyed = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        sha2(concat(lit("save_doc:"), col("doc_id").cast("string")), 256).as("idem_key"))

    val first = keyed.filter("doc_id < 100")
    val (w1, s1) = IdempotentSink.writeKeyed(first, "idem_key", "doc_id", dir)
    assert(w1 == 100 && s1 == 0)

    // exact replay: everything skipped, target unchanged
    val (w2, s2) = IdempotentSink.writeKeyed(first, "idem_key", "doc_id", dir)
    assert(w2 == 0 && s2 == 100)
    assert(spark.read.parquet(dir).count() == 100)

    // overlapping batch: only the 50 new keys land
    val second = keyed.filter("doc_id >= 50 AND doc_id < 150")
    val (w3, s3) = IdempotentSink.writeKeyed(second, "idem_key", "doc_id", dir)
    assert(w3 == 50 && s3 == 50)
    assert(spark.read.parquet(dir).count() == 150)
    // keys are unique in the target (first-writer-wins held)
    assert(spark.read.parquet(dir).select("idem_key").distinct().count() == 150)
  }

  test("duplicate keys inside one batch resolve first-writer-wins") {
    import org.apache.spark.sql.functions._
    val dir = graft.TempDirs.create("idem_sink_dup").toString + "/t"
    // WodEtl's synthetic slugs cycle with period lcm(12,20,5)=60, so the
    // reference-derived keys genuinely collide — exactly the case the
    // in-batch dedupe covers.
    val keyed = WodEtl.idempotencyKeys(spark, sf).filter("doc_id < 100")
    val (w, s) = IdempotentSink.writeKeyed(keyed, "idem_key", "doc_id", dir)
    assert(w == 60 && s == 40)
    val kept = spark.read.parquet(dir)
    assert(kept.select("idem_key").distinct().count() == 60)
    // winner per key is the smallest doc_id (the deterministic tiebreak)
    assert(kept.agg(max(col("doc_id"))).head().getLong(0) <= 59)
  }

  test("each incoming row is computed once per call") {
    import org.apache.spark.sql.functions._
    val dir = graft.TempDirs.create("idem_sink_once").toString + "/t"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val nDocs = docs.count()
    // the input plan's filter counts every row it evaluates
    val evals = spark.sparkContext.longAccumulator("idem_sink_input_rows")
    val keep = udf { (id: Long) => evals.add(1); id < 100 }
    val input = docs.filter(keep(col("doc_id")))
      .select(col("doc_id"), sha2(col("doc_id").cast("string"), 256).as("idem_key"))

    assert(IdempotentSink.writeKeyed(input, "idem_key", "doc_id", dir) == ((100L, 0L)))
    assert(evals.sum == nDocs)
    evals.reset()
    // replay: the target exists, everything is skipped, still one pass
    assert(IdempotentSink.writeKeyed(input, "idem_key", "doc_id", dir) == ((0L, 100L)))
    assert(evals.sum == nDocs)
  }
}
