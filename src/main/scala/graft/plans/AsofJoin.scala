package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** Point-in-time (as-of) join as a first-class physical operator.
  *
  * Semantics: for every left row, attach the right-side time of the
  * LATEST right row with the same key whose (time, tiebreak) is <= the
  * left row's (time, tiebreak), or null if none — i.e. the reference
  * "latest prior-or-equal event" lookup (e.g. purchase → last signup).
  *
  * Why a custom operator: the composable window form
  * (CoreQueries.qAsofJoin) must UNION both streams and run a running
  * conditional max over every row; this exec instead merge-scans two
  * independently sorted streams once — O(|L|+|R|) per partition with
  * no combined sort, the classic time-series as-of join (cf. pandas
  * merge_asof).
  *
  * Scale posture: both sides are hash-partitioned on the key with an
  * EXPLICIT partition count (declared via requiredNumPartitions, so
  * the children are guaranteed co-partitioned and AQE cannot coalesce
  * the sides differently), and sorted within partitions by (key, time,
  * tiebreak) — declared as requiredChildOrdering so EnsureRequirements
  * inserts (or elides) the sorts. Per-partition state is O(1).
  *
  * Key/time/tiebreak are LongType (checked at the API); null keys or
  * times are not matched.
  */
case class AsofJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute, leftTime: Attribute, leftTie: Attribute,
    rightKey: Attribute, rightTime: Attribute, rightTie: Attribute,
    outAttr: Attribute) extends BinaryNode {

  override def output: Seq[Attribute] = left.output :+ outAttr

  // outAttr is minted by this node, not read from a child — without
  // declaring it produced, CheckAnalysis reports MISSING_ATTRIBUTES
  override def producedAttributes: AttributeSet = AttributeSet(outAttr)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

case class AsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Attribute, leftTime: Attribute, leftTie: Attribute,
    rightKey: Attribute, rightTime: Attribute, rightTie: Attribute,
    outAttr: Attribute,
    numParts: Int) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ outAttr

  override def producedAttributes: AttributeSet = AttributeSet(outAttr)

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(Seq(leftKey), requiredNumPartitions = Some(numParts)),
    ClusteredDistribution(Seq(rightKey), requiredNumPartitions = Some(numParts)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending),
      SortOrder(leftTie, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightTie, Ascending)))

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.Expression
    val lk = BindReferences.bindReference(leftKey: Expression, left.output)
    val lt = BindReferences.bindReference(leftTime: Expression, left.output)
    val li = BindReferences.bindReference(leftTie: Expression, left.output)
    val rk = BindReferences.bindReference(rightKey: Expression, right.output)
    val rt = BindReferences.bindReference(rightTime: Expression, right.output)
    val ri = BindReferences.bindReference(rightTie: Expression, right.output)
    val outSchema = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(outSchema, outSchema)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val extra = new GenericInternalRow(1)
      // pending right row (read but not yet consumed)
      var rRow: InternalRow = null
      var matchKey = 0L
      var hasMatch = false
      var matchTs = 0L
      def readRight(): Unit = {
        rRow = if (rIter.hasNext) rIter.next() else null
      }
      readRight()
      lIter.map { lRow =>
        val keyV = lk.eval(lRow)
        val tV = lt.eval(lRow)
        val tieV = li.eval(lRow)
        if (keyV == null || tV == null || tieV == null) {
          // null keys/times never match (documented semantics) — and
          // they sort first, so the right cursor has not passed them
          extra.update(0, null)
          proj(joined(lRow, extra))
        } else {
          val key = keyV.asInstanceOf[Long]
          val t = tV.asInstanceOf[Long]
          val tie = tieV.asInstanceOf[Long]
          // consume right rows up to and including (key, t, tie)
          var advance = true
          while (advance && rRow != null) {
            val k2V = rk.eval(rRow)
            if (k2V == null) { readRight() } // unmatched by definition
            else {
              val k2 = k2V.asInstanceOf[Long]
              if (k2 < key) { readRight() }
              else if (k2 == key) {
                val t2V = rt.eval(rRow)
                val i2V = ri.eval(rRow)
                if (t2V == null || i2V == null) { readRight() }
                else {
                  val t2 = t2V.asInstanceOf[Long]
                  val i2 = i2V.asInstanceOf[Long]
                  if (t2 < t || (t2 == t && i2 <= tie)) {
                    matchKey = key; hasMatch = true; matchTs = t2
                    readRight()
                  } else advance = false
                }
              } else advance = false
            }
          }
          if (hasMatch && matchKey == key) extra.update(0, matchTs)
          else extra.update(0, null)
          proj(joined(lRow, extra))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner rule mapping the logical node to the exec (injected via
  * GraftExtensions or AsofJoin.ensureStrategy). */
case class AsofJoinStrategy(spark: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsofJoinNode =>
      AsofJoinExec(planLater(n.left), planLater(n.right),
        n.leftKey, n.leftTime, n.leftTie,
        n.rightKey, n.rightTime, n.rightTie, n.outAttr,
        spark.sessionState.conf.numShufflePartitions) :: Nil
    case _ => Nil
  }
}

object AsofJoin {

  private def ensureStrategy(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.exists(_.isInstanceOf[AsofJoinStrategy]))
      spark.experimental.extraStrategies = cur :+ AsofJoinStrategy(spark)
  }

  /** left ⟕asof right on `key`: attaches the latest right (time, tie)
    * <= left (time, tie) as a nullable long column named `outName`.
    * All named columns must be LongType. */
  def apply(left: DataFrame, right: DataFrame, key: String,
            time: String, tie: String, outName: String): DataFrame = {
    val spark = left.sparkSession
    ensureStrategy(spark)
    // Re-alias the right side so its attribute ids never collide with
    // the left's (both sides often derive from the same scan — a
    // self-as-of — and our node bypasses DeduplicateRelations).
    val rightFresh = right.select(right.columns.map(c => col(c).as(c)).toSeq: _*)
    def attr(df: DataFrame, name: String): Attribute = {
      val a = df.queryExecution.analyzed.output
        .find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(s"no column $name"))
      require(a.dataType == LongType, s"$name must be LongType, got ${a.dataType}")
      a
    }
    val lPlan = left.queryExecution.analyzed
    val rPlan = rightFresh.queryExecution.analyzed
    val node = AsofJoinNode(lPlan, rPlan,
      attr(left, key), attr(left, time), attr(left, tie),
      attr(rightFresh, key), attr(rightFresh, time), attr(rightFresh, tie),
      AttributeReference(outName, LongType, nullable = true)())
    org.apache.spark.sql.graft.Bridge.ofRows(spark, node)
  }
}
