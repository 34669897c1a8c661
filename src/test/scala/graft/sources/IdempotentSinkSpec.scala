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

class CosineSimilaritySpec extends SparkTestBase {
  import org.apache.spark.sql.functions._

  test("native expression matches the fold form bit-for-bit and codegens") {
    graft.plans.Natives.ensure(spark)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(200)
    val a = emb.select(col("vec_id").as("ida"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("idb"), col("embedding").as("eb"))
    def fold(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val joined = a.join(b, col("ida") < col("idb")).limit(5000)
      .select(
        call_function("graft_cosine", col("ea"), col("eb")).as("native"),
        (fold(col("ea"), col("eb")) /
          (sqrt(fold(col("ea"), col("ea"))) * sqrt(fold(col("eb"), col("eb"))))).as("folded"))
    val rows = joined.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getDouble(0) == r.getDouble(1)),
      "native and fold cosine must be bit-identical")
  }

  // cos([1, 2], [3, 4]): the clean case both edge tests carry along
  private val clean = 11.0 / (math.sqrt(5.0) * math.sqrt(25.0))

  test("mismatched lengths, a zero norm or a null element yield NULL via codegen") {
    graft.plans.Natives.ensure(spark)
    // rows from range, not VALUES: a local relation is evaluated by the
    // interpreter at optimization time and never reaches codegen
    val df = spark.range(1, 6).selectExpr("id",
      """CASE id
        |  WHEN 1 THEN array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))
        |  WHEN 2 THEN array(CAST(1.0 AS FLOAT))
        |  WHEN 3 THEN array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT))
        |  WHEN 4 THEN array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT))
        |END AS a""".stripMargin)
      .selectExpr("id", "graft_cosine(a, array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS c")
    assert(df.queryExecution.executedPlan.find(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]).isDefined)
    val out = df.collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L).contains(clean))
    assert(out(2L).isEmpty, "mismatched lengths must yield NULL")
    assert(out(3L).isEmpty, "a zero norm must yield NULL")
    assert(out(4L).isEmpty, "a null element must yield NULL, not count as 0.0")
    assert(out(5L).isEmpty, "a null vector must yield NULL")
  }

  test("mismatched lengths, a zero norm or a null element yield NULL via interpreted eval") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val t = ArrayType(FloatType, containsNull = true)
    val e = graft.plans.CosineSimilarity(
      BoundReference(0, t, nullable = true), BoundReference(1, t, nullable = true))
    def ev(a: Array[Any], b: Array[Any]): Any =
      e.eval(InternalRow(new GenericArrayData(a), new GenericArrayData(b)))
    assert(ev(Array[Any](1.0f, 2.0f), Array[Any](3.0f, 4.0f)) == clean)
    assert(ev(Array[Any](1.0f), Array[Any](3.0f, 4.0f)) == null, "mismatched lengths")
    assert(ev(Array[Any](0.0f, 0.0f), Array[Any](3.0f, 4.0f)) == null, "zero norm")
    assert(ev(Array[Any](1.0f, null), Array[Any](3.0f, 4.0f)) == null, "null element")
    assert(ev(Array[Any](3.0f, 4.0f), Array[Any](1.0f, null)) == null, "null element, right side")
  }
}
