package graft.operators

import graft.SparkTestBase
import org.apache.spark.graft.BusDrain
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** The repetition rules' ≥3-token domain is stated on the text, so each
  * lane sorts a document's 3-gram windows once: its executed plans hold
  * `graft_gram_stats(text, 3)` exactly once, and on edge texts the lanes
  * keep exactly the documents with at least one 3-gram. */
class GramDomainSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val lanes = Seq("text_repetition", "pretrain_quality_fused", "pretrain_quality_features")

  // doc_ids are multiples of the feature-trace modulus, so the features
  // lane reports every edge document it keeps
  private val edgeTexts: Seq[String] = Seq(null, "", "a", "a b", " a", "a ", " ",
    "  ", "   ", "a  b", " a b", "a b ", "a  ", "  a", "a b c", "é ü a", "a\tb c")

  /** sf0.001's documents plus the edge texts, as a table dir. */
  private lazy val edgeDir: String = {
    val dir = graft.TempDirs.create("graft_gram_domain").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val edges = spark.createDataFrame(
      java.util.Arrays.asList(edgeTexts.zipWithIndex.map { case (t, i) =>
        Row((i + 1) * PretrainOps.QM_FEAT_MOD * 1000000L, t, "en", "edge",
          Option(t).fold(0L)(_.length.toLong))
      }: _*), docs.schema)
    docs.unionByName(edges).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def lane(name: String, dir: String): DataFrame = graft.SparkEntry.queries(name)(spark, dir)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Every `graft_gram_stats(…, 3)` in the plans `body` executes. */
  private def gram3Count(body: => Unit): Int = {
    val plans = mutable.ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; BusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toSeq).map { qe =>
      flatMap(qe.executedPlan)(_.expressions.flatMap(_.collect {
        case g: StaticInvoke if g.functionName == "gramStats" && g.arguments(1) == Literal(3) => g
      })).size
    }.sum
  }

  for (name <- lanes)
    test(s"$name executes graft_gram_stats(text, 3) once") {
      assert(gram3Count(lane(name, sf).collect(): Unit) == 1)
    }

  test("edge texts: the lanes keep exactly the documents with a 3-gram") {
    graft.plans.Natives.ensure(spark)
    val inDomain = spark.read.parquet(s"$edgeDir/documents.parquet")
      .filter("graft_gram_stats(text, 3).n_grams >= 1")
    val kept = lane("text_repetition", edgeDir).select("doc_id")
    assert(rows(kept) == rows(inDomain.select("doc_id")))
    assert(inDomain.filter("source = 'edge'").count() == 9)
    // the same lanes over the corpus cut to the struct-stated domain
    val cut = graft.TempDirs.create("graft_gram_domain_cut").toString
    inDomain.write.parquet(s"$cut/documents.parquet")
    for (name <- lanes) assert(rows(lane(name, edgeDir)) == rows(lane(name, cut)), name)
  }
}
