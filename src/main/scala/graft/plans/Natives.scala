package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's native `graft_*` functions, one entry each, in Spark's
  * own `FunctionDescription` form. Two consumers read the table and
  * nothing else registers functions:
  *  - [[GraftExtensions]] injects every entry, so a session started
  *    with `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  *    (SQL-only clients included) has all of them;
  *  - [[ensure]] registers the entries an already-running session
  *    lacks; the lanes call it before they plan a native call.
  *
  * Every builder checks its arguments at analysis time: a wrong count
  * or a non-literal where the expression needs a literal fails when
  * the DataFrame is built, with the function's name in the error. */
object Natives {

  type Entry = SparkSessionExtensions#FunctionDescription

  /** An `int` literal argument. */
  private object IntLit {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case _ => None
    }
  }

  /** A `string` literal argument. */
  private object StrLit {
    def unapply(e: Expression): Option[String] = e match {
      case Literal(v: UTF8String, StringType) => Some(v.toString)
      case _ => None
    }
  }

  /** One entry. `params` names the arguments (their count is the
    * arity); `build` must match every argument list it accepts, and any
    * other list is rejected with the function's signature. */
  private def fn[E <: Expression: ClassTag](name: String, params: String*)(
      build: PartialFunction[Seq[Expression], E]): Entry = {
    val usage = s"$name(${params.mkString(", ")})"
    val info = new ExpressionInfo(implicitly[ClassTag[E]].runtimeClass.getName,
      null, name, usage, "", "", "", "", "", "", "built-in")
    (FunctionIdentifier(name), info, (args: Seq[Expression]) => {
      if (args.length != params.length) throw new IllegalArgumentException(
        s"$name expects ${params.length} arguments, got ${args.length}")
      build.applyOrElse(args, (_: Seq[Expression]) =>
        throw new IllegalArgumentException(
          s"$name expects $usage, got (${args.mkString(", ")})"))
    })
  }

  val all: Seq[Entry] = Seq(
    fn[CosineSimilarity]("graft_cosine", "a", "b") {
      case Seq(a, b) => CosineSimilarity(a, b) },
    fn[SignBits]("graft_sign_bits", "vec", "int literal nBits", "int literal dim") {
      case Seq(v, IntLit(bits), IntLit(dim)) => SignBits(v, bits, dim) },
    fn[KmArgmin]("graft_km_argmin", "point",
        "literal array<array<long>> centroids", "literal array<long> ids") {
      case Seq(p, Literal(c: ArrayData, ArrayType(ArrayType(LongType, _), _)),
          Literal(ids: ArrayData, ArrayType(LongType, _))) =>
        KmArgmin(p, Array.tabulate(c.numElements())(i => c.getArray(i).toLongArray()),
          ids.toLongArray()) },
    fn[JsonLongField]("graft_json_long", "json", "string literal key") {
      case Seq(j, StrLit(key)) => JsonLongField(j, key) },
    fn[GramStats]("graft_gram_stats", "text", "positive int literal n") {
      case Seq(t, n @ IntLit(k)) if k >= 1 => GramStats(t, n) },
    fn[GramHashCounts]("graft_gram_hash_counts", "text", "int literal n in {1, 2}") {
      case Seq(t, n @ IntLit(k)) if k == 1 || k == 2 => GramHashCounts(t, n) },
    fn[QmBuckets]("graft_qm_buckets", "text", "positive int literal nBuckets") {
      case Seq(t, n @ IntLit(k)) if k >= 1 => QmBuckets(t, n) },
    fn[TokenEntropy]("graft_token_entropy", "text") {
      case Seq(t) => TokenEntropy(t) },
    fn[ShingleHashes64]("graft_shingle_hashes", "text") {
      case Seq(t) => ShingleHashes64(t) },
    fn[TokenHashes64]("graft_token_hashes", "text") {
      case Seq(t) => TokenHashes64(t) },
    fn[CandidateShingles]("graft_candidate_shingles", "text", "candidates") {
      case Seq(t, c) => CandidateShingles(t, c) },
    fn[BagLowerBound]("graft_bag_lb", "a", "b") {
      case Seq(a, b) => BagLowerBound(a, b) },
    fn[Lev64]("graft_lev64", "a", "b", "int literal threshold") {
      case Seq(a, b, IntLit(k)) => Lev64(a, b, k) },
    fn[HexParitySums]("graft_parity_sums", "str", "int literal nBits") {
      case Seq(str, IntLit(bits)) => HexParitySums(str, bits) })

  /** Registers the entries `spark`'s function registry does not have
    * yet; once all are there it only looks them up, so a lane may call
    * it on every use. */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      all.foreach { case (id, info, build) =>
        if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
      }
    }
  }
}
