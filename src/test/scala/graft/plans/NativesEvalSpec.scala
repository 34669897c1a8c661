package graft.plans

import graft.{GraftSession, SparkTestBase}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Every scalar native on edge inputs (NULL, empty, mismatched length,
  * non-ASCII, a NULL array element) gives the same rows under
  * whole-stage codegen and under the interpreter, and new literal
  * arguments reuse the generated classes. */
class NativesEvalSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType), StructField("text2", StringType),
    StructField("fv", ArrayType(FloatType)), StructField("fv2", ArrayType(FloatType)),
    StructField("lv", ArrayType(LongType)), StructField("js", StringType)))

  private def f(xs: java.lang.Float*): Seq[java.lang.Float] = xs
  private def l(xs: java.lang.Long*): Seq[java.lang.Long] = xs

  /** The edge rows as a parquet table: a scan, not a local relation the
    * optimizer would evaluate before codegen. */
  private lazy val dir: String = {
    val d = graft.TempDirs.create("graft_natives_eval").toString + "/t"
    spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "a b c a b c", "a b d", f(1f, 2f), f(3f, 4f), l(1L, 2L), """{"k": 7, "j": 3}"""),
      Row(2L, null, "x", null, f(3f, 4f), null, null),
      Row(3L, "", "", f(), f(), l(0L, 5L), ""),
      Row(4L, "é ü a é ü", "e u a", f(1f), f(3f, 4f), l(5L, 5L), """{"k": "12", "j": "x"}"""),
      Row(5L, "a  b ", null, f(1f, null), f(3f, 4f), l(1L, null), """{"j": {"k": 1}, "k": -3}"""),
      Row(6L, "x y z x y z x", "x y z", f(0f, 0f), f(1f, 1f), l(9L, 9L), """{"k": 1.5}""")),
      schema).write.parquet(d)
    d
  }

  private def table: DataFrame = spark.read.parquet(dir)

  private val bloom: BloomFilter = {
    val bf = BloomFilter.create(100, 0.01)
    Seq("x", "", "a  b ").foreach(bf.putString)
    bf
  }

  /** One column per native: the function name and its call. */
  private val cases: Seq[(String, Column)] = Seq(
    "graft_cosine" -> expr("graft_cosine(fv, fv2)"),
    "graft_sign_bits" -> expr("graft_sign_bits(fv, 4, 2)"),
    "graft_km_argmin" -> call_function("graft_km_argmin", col("lv"),
      typedlit(Seq(Seq(1L, 2L), Seq(8L, 9L))), typedlit(Seq(10L, 11L))),
    "graft_json_long" -> expr("graft_json_long(js, 'k')"),
    "graft_gram_stats" -> expr("graft_gram_stats(text, 2)"),
    "graft_gram_hash_counts" -> expr("graft_gram_hash_counts(text, 2)"),
    "graft_qm_buckets" -> expr("graft_qm_buckets(text, 4)"),
    "graft_token_entropy" -> expr("graft_token_entropy(text)"),
    "graft_shingle_hashes" -> expr("graft_shingle_hashes(text)"),
    "graft_token_hashes" -> expr("graft_token_hashes(text)"),
    "graft_candidate_shingles" ->
      expr("graft_candidate_shingles(text, array(xxhash64('a', 'b', 'c'), xxhash64('y', 'z', 'x')))"),
    "graft_bag_lb" -> expr("graft_bag_lb(text, text2)"),
    "graft_lev64" -> expr("graft_lev64(text, text2, 3)"),
    "graft_bloom_might_contain" -> Natives.bloomMightContain(col("text"), bloom))

  private def rows(c: Column): Seq[String] = {
    Natives.ensure(spark)
    table.select(col("id"), c.as("v")).collect().map(_.toString).sorted.toSeq
  }

  test("the cases cover every registered scalar native") {
    val scalars = Natives.all.map(_._1.funcName).filterNot(_ == "graft_parity_sums")
    assert(scalars.toSet == cases.map(_._1).toSet - "graft_bloom_might_contain")
  }

  for ((name, c) <- cases)
    test(s"$name: generated code and the interpreter give the same rows") {
      Natives.ensure(spark)
      val df = table.select(col("id"), c.as("v"))
      val plan = df.queryExecution.executedPlan
      assert(plan.find(_.isInstanceOf[WholeStageCodegenExec]).isDefined, plan.toString)
      assert(df.queryExecution.optimizedPlan.expressions.exists(_.exists {
        case s: StaticInvoke => s.staticObject.getName.startsWith("graft.plans.")
        case _ => false
      }), s"$name must plan as a StaticInvoke of its kernel")
      val generated = rows(c)
      val interpreted = GraftSession.withConfs(spark, Map(
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))(rows(c))
      assert(generated.length == 6)
      assert(generated == interpreted)
    }

  test("new centroids, key, candidates and filter compile no new class") {
    Natives.ensure(spark)
    def project(cents: Seq[Seq[Long]], key: String, cands: String, bf: BloomFilter): Array[Row] =
      table.select(col("id"),
        call_function("graft_km_argmin", col("lv"), typedlit(cents), typedlit(Seq(10L, 11L)))
          .as("cid"),
        expr(s"graft_json_long(js, '$key')").as("k"),
        expr(s"graft_candidate_shingles(text, array($cands))").as("sh"),
        Natives.bloomMightContain(col("text"), bf).as("b")).collect()
    val first = project(Seq(Seq(1L, 2L), Seq(8L, 9L)), "k", "1L, 2L", bloom)
    val other = BloomFilter.create(100, 0.01)
    other.putString("a b c a b c")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = project(Seq(Seq(0L, 0L), Seq(5L, 5L)), "j",
      "xxhash64('a', 'b', 'c'), 3L", other)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "decoded literals must reach the generated code as references")
    assert(first.length == 6 && second.length == 6)
    assert(first.map(_.toString).toSet != second.map(_.toString).toSet,
      "the second projection must read its own literals")
  }

  test("a wrong type fails at analysis, naming the function and its usage") {
    Natives.ensure(spark)
    val e = intercept[Exception](table.select(expr("graft_token_entropy(id)")))
    assert(e.getMessage.contains("graft_token_entropy expects graft_token_entropy(string text)"),
      e.getMessage)
  }
}

object NativesEvalSpec {

  /** The node the registered scalar `name` builds over `args`. */
  def node(name: String, args: Expression*): NativeCall =
    Natives.all.collectFirst { case (id, _, build) if id == FunctionIdentifier(name) => build(args) }
      .get.asInstanceOf[NativeCall]
}
