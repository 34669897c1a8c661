package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  * Each module contributes (queries, oracle) pairs; keys and output
  * column names are kept identical between the Spark plan and the
  * DuckDB oracle SQL (the driver sorts columns by name before hashing).
  * Every lane name is registered by exactly one module: the one that
  * holds its oracle.
  */
object SparkEntry {

  type Lane = (SparkSession, String) => DataFrame

  private def modules =
    Seq(
      operators.CoreQueries.queries -> operators.CoreQueries.oracle,
      etl.WodEtl.queries -> etl.WodEtl.oracle,
      operators.ExtendedQueries.queries -> operators.ExtendedQueries.oracle,
      operators.DedupOps.queries -> operators.DedupOps.oracle,
      operators.TextOps.queries -> operators.TextOps.oracle,
      operators.SimilarityOps.queries -> operators.SimilarityOps.oracle,
      operators.MultimodalOps.queries -> operators.MultimodalOps.oracle,
      operators.OlapQueries.queries -> operators.OlapQueries.oracle,
      operators.GraphOps.queries -> operators.GraphOps.oracle,
      operators.BehaviorOps.queries -> operators.BehaviorOps.oracle,
      operators.PretrainOps.queries -> operators.PretrainOps.oracle,
      streaming.StreamOps.queries -> streaming.StreamOps.oracle,
      streaming.StreamIngest.queries -> streaming.StreamIngest.oracle,
      sources.StatsIndex.queries -> sources.StatsIndex.oracle
    )

  /** The union of `maps`, or an error naming every key that more than
    * one of them registers (a plain `++` would let the later map win
    * silently). */
  private[graft] def disjoint[V](maps: Seq[Map[String, V]]): Map[String, V] = {
    val dups = maps.flatMap(_.keys).groupBy(identity).collect { case (k, ks) if ks.size > 1 => k }
    if (dups.nonEmpty)
      throw new IllegalStateException(s"lane names registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    maps.reduce(_ ++ _)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    etl.WodEtl.pipelineE2E(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, Lane] = disjoint(modules.map(_._1))

  /** The plain-scan reference twin of each lane whose declared plan reads
    * a bucketed layout (`operators.BucketedQueries`): the lane's own
    * plan over the raw parquet tables. Bench times them outside its
    * total and PlanDump resolves them, so every promotion stays
    * re-measurable in the same window. */
  val layoutTwins: Map[String, Lane] =
    Map(
      "q18_plain" -> (operators.OlapQueries.q18LargeOrders _),
      "q5_plain" -> (operators.CoreQueries.q5MultiJoin _),
      "q_skyline_plain" -> (operators.OlapQueries.qSkyline _),
      "q7_plain" -> (operators.OlapQueries.q7Volume _),
      "text_logprob_plain" -> (operators.TextOps.textLogprob _),
      "text_bigram_logprob_plain" -> (operators.TextOps.textBigramLogprob _))

  /** Every name a timing or plan tool resolves: the declared lanes and
    * their plain twins. */
  lazy val lanes: Map[String, Lane] = disjoint(Seq(queries, layoutTwins))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] = disjoint(modules.map(_._2))
}
