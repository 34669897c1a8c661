package graft.plans

import graft.SparkTestBase

class CosineSimilaritySpec extends SparkTestBase {
  import org.apache.spark.sql.functions._

  test("native expression matches the fold form bit-for-bit and codegens") {
    Natives.ensure(spark)
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
    Natives.ensure(spark)
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
    val e = NativesEvalSpec.node("graft_cosine",
      BoundReference(0, t, nullable = true), BoundReference(1, t, nullable = true)).replacement
    def ev(a: Array[Any], b: Array[Any]): Any =
      e.eval(InternalRow(new GenericArrayData(a), new GenericArrayData(b)))
    assert(ev(Array[Any](1.0f, 2.0f), Array[Any](3.0f, 4.0f)) == clean)
    assert(ev(Array[Any](1.0f), Array[Any](3.0f, 4.0f)) == null, "mismatched lengths")
    assert(ev(Array[Any](0.0f, 0.0f), Array[Any](3.0f, 4.0f)) == null, "zero norm")
    assert(ev(Array[Any](1.0f, null), Array[Any](3.0f, 4.0f)) == null, "null element")
    assert(ev(Array[Any](3.0f, 4.0f), Array[Any](1.0f, null)) == null, "null element, right side")
  }
}
