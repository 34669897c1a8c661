package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Testdata-contract guard: assert the expected schema of every driver
  * table BEFORE running queries, and fail with a named-table,
  * named-column message on drift.
  *
  * This is the reference's validate-at-startup posture (config.py:26-47
  * validates its env contract and raises a named error) applied to the
  * data contract: a silent upstream schema change once took out 17
  * operators with opaque per-query analysis errors — the guard turns
  * that into ONE clear preflight failure naming the drifted column.
  *
  * The contract is deliberately about what consumers rely on, not
  * byte-exact physical types: integer key/metric columns may widen
  * (int vs long), `events.ts` may ship as BIGINT-nanos or
  * timestamp[us] (both normalized by Tables.tsToNanos), and EXTRA
  * columns are allowed (additive drift breaks nobody). Missing columns
  * and category changes (numeric→string, scalar→array) fail.
  */
object Preflight {

  private sealed trait Kind { def ok(dt: DataType): Boolean }
  private case object Integral extends Kind {
    def ok(dt: DataType): Boolean = dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType => true
      case _ => false
    }
  }
  private case object Fractional extends Kind {
    def ok(dt: DataType): Boolean = dt match {
      case _: FloatType | _: DoubleType | _: DecimalType => true
      case _ => false
    }
  }
  private case object Str extends Kind {
    def ok(dt: DataType): Boolean = dt == StringType
  }
  // (no Binary kind: the driver's tables carry no binary column today —
  // multimodal ops derive payloads from text at query time)
  private case object DateLike extends Kind {
    // the driver has shipped order/ship dates as DATE and as
    // timestamp[us]; consumers only compare/truncate, so both work
    def ok(dt: DataType): Boolean = dt match {
      case _: DateType | _: TimestampType | _: TimestampNTZType => true
      case _ => false
    }
  }
  private case object GroupKey extends Kind {
    // an opaque grouping/equality key — int or string both fine (the
    // oracle reads the same parquet, so output types always agree)
    def ok(dt: DataType): Boolean = Integral.ok(dt) || dt == StringType
  }
  private case object EventTs extends Kind {
    // the layouts Tables.tsToNanos normalizes — extend BOTH together
    def ok(dt: DataType): Boolean = dt match {
      case _: LongType | _: TimestampType | _: TimestampNTZType => true
      case _ => false
    }
  }
  private case object FloatVec extends Kind {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(_: FloatType | _: DoubleType, _) => true
      case _ => false
    }
  }

  /** table -> (column -> expected kind). Every column a query consumes. */
  private val contract: Map[String, Map[String, Kind]] = Map(
    "region" -> Map("r_regionkey" -> Integral, "r_name" -> Str),
    "nation" -> Map("n_nationkey" -> Integral, "n_name" -> Str,
      "n_regionkey" -> Integral),
    "customer" -> Map("c_custkey" -> Integral, "c_name" -> Str,
      "c_nationkey" -> Integral, "c_acctbal" -> Fractional,
      "c_mktsegment" -> Str),
    "supplier" -> Map("s_suppkey" -> Integral, "s_name" -> Str,
      "s_nationkey" -> Integral, "s_acctbal" -> Fractional),
    "part" -> Map("p_partkey" -> Integral, "p_name" -> Str,
      "p_type" -> Str, "p_size" -> Integral, "p_brand" -> Str,
      "p_retailprice" -> Fractional),
    "orders" -> Map("o_orderkey" -> Integral, "o_custkey" -> Integral,
      "o_orderstatus" -> Str, "o_totalprice" -> Fractional,
      "o_orderdate" -> DateLike, "o_orderpriority" -> Str),
    "lineitem" -> Map("l_orderkey" -> Integral, "l_partkey" -> Integral,
      "l_suppkey" -> Integral, "l_linenumber" -> Integral,
      "l_quantity" -> Fractional, "l_extendedprice" -> Fractional,
      "l_discount" -> Fractional, "l_tax" -> Fractional,
      "l_returnflag" -> Str, "l_linestatus" -> Str,
      "l_shipdate" -> DateLike),
    "events" -> Map("event_id" -> Integral, "ts" -> EventTs,
      "user_id" -> Integral, "event_type" -> Str,
      "value" -> Fractional, "props" -> Str),
    "documents" -> Map("doc_id" -> Integral, "source" -> Str,
      "lang" -> Str, "text" -> Str, "n_chars" -> Integral),
    "embeddings" -> Map("vec_id" -> Integral,
      "embedding" -> FloatVec, "label" -> GroupKey)
  )

  /** Money columns whose exact-scaled-long aggregation (Money.scala)
    * rests on the cent-grid data-model invariant: every value is an
    * exact 2-decimal (or exact-hundredths rate). A source that ships
    * off-grid values would be silently mis-rounded into "exact" sums,
    * so the invariant is checked HERE, in-band, on a bounded sample at
    * every preflight (r12 advice: the check used to live only in an
    * out-of-band probe against the generator). */
  private val centGridCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_extendedprice", "l_discount", "l_tax"),
    "orders" -> Seq("o_totalprice"))

  /** Off-grid findings on a frame — a column fails when any sampled
    * value sits more than `tol` (in cents) from its nearest cent.
    * Exposed separately so the detection path is spec-testable. */
  private[graft] def centGridViolations(
      df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      tol: Double = 1e-6): Seq[String] = {
    import org.apache.spark.sql.functions._
    val aggs = cols.map(c => sum(when(
      abs(col(c) * 100 - floor(col(c) * 100 + 0.5)) > tol, 1L)
      .otherwise(0L)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    cols.zipWithIndex.flatMap { case (c, i) =>
      val n = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (n > 0) Some(s"$c: $n sampled values off the cent grid " +
        "(Money.scala exact-long sums assume 2-decimal money)")
      else None
    }
  }

  private val CentGridSample = 100000

  /** All drift findings for `dir` — empty means the contract holds. */
  def check(spark: SparkSession, dir: String): Seq[String] =
    contract.toSeq.sortBy(_._1).flatMap { case (table, cols) =>
      val schema =
        try Right(Tables.t(spark, dir, table).schema)
        catch { case e: Exception => Left(s"$table: unreadable (${e.getMessage})") }
      schema match {
        case Left(err) => Seq(err)
        case Right(s) =>
          val byName = s.fields.map(f => f.name -> f.dataType).toMap
          val typeDrift = cols.toSeq.sortBy(_._1).flatMap { case (c, kind) =>
            byName.get(c) match {
              case None => Some(s"$table.$c: MISSING (have: ${s.fieldNames.mkString(", ")})")
              case Some(dt) if !kind.ok(dt) =>
                Some(s"$table.$c: type drift — got $dt, expected $kind-compatible")
              case _ => None
            }
          }
          // value check only when the columns exist with sane types —
          // and on a bounded sample, so preflight stays O(1) in SF
          val moneyDrift =
            if (typeDrift.nonEmpty) Nil
            else centGridCols.get(table).toSeq.flatMap { mc =>
              import org.apache.spark.sql.functions.col
              centGridViolations(
                Tables.t(spark, dir, table)
                  .select(mc.map(col): _*).limit(CentGridSample), mc)
                .map(f => s"$table.$f")
            }
          typeDrift ++ moneyDrift
      }
    }

  /** Fail loudly on drift — call at every entry point before queries. */
  def assertContract(spark: SparkSession, dir: String): Unit = {
    val drift = check(spark, dir)
    if (drift.nonEmpty)
      throw new IllegalStateException(
        s"testdata contract violated at $dir:\n  " + drift.mkString("\n  "))
  }

  /** Standalone gate: `runMain graft.Preflight <dataDir>` — prints OK or
    * every drift finding, exit 0/1. The first thing to run when a round's
    * queries start failing for no apparent reason. */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.build(cpus = 2)
    val drift = check(spark, dir)
    spark.stop()
    if (drift.isEmpty) println(s"PREFLIGHT OK: $dir matches the 10-table contract")
    else {
      println(s"PREFLIGHT DRIFT at $dir:")
      drift.foreach(f => println(s"  $f"))
      sys.exit(1)
    }
  }
}
