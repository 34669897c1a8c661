package graft.plans

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** One scalar native: the static `method` of the kernel object whose
  * class is `kernel`, returning `dataType` (a null only if
  * `returnNullable`), and `args`, which accepts the argument lists the
  * native takes and maps each to the method's arguments, every literal
  * decoded once. */
final class Kernel(val name: String, params: Seq[String], kernel: Class[_], method: String,
    val dataType: DataType, val returnNullable: Boolean,
    val args: PartialFunction[Seq[Expression], Seq[Expression]]) extends Serializable {

  val usage: String = s"$name(${params.mkString(", ")})"

  def arity: Int = params.length

  def invoke(children: Seq[Expression]): Expression =
    StaticInvoke(kernel, dataType, method, args.applyOrElse(children, identity[Seq[Expression]]),
      returnNullable = returnNullable)
}

/** The plan node of every scalar native. Analysis type-checks it with
  * its kernel's `args` (a failure names the function and its usage);
  * the optimizer then replaces it with a `StaticInvoke` of the kernel
  * method, so generated code and interpreted eval both come from
  * Spark's own `StaticInvoke`. Decoded literals are `ObjectType`
  * literals, which reach generated code as `references[i]`: the source
  * stays the same when only their values change. */
case class NativeCall(kernel: Kernel, children: Seq[Expression]) extends RuntimeReplaceable {

  override def prettyName: String = kernel.name

  override def dataType: DataType = kernel.dataType

  override def nullable: Boolean = kernel.returnNullable || children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult =
    if (kernel.args.isDefinedAt(children)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${kernel.name} expects ${kernel.usage}, got " +
      children.map(_.dataType.simpleString).mkString("(", ", ", ")"))

  override lazy val replacement: Expression = kernel.invoke(children)

  override protected def stringArgs: Iterator[Any] = children.iterator

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): NativeCall =
    copy(children = c)
}

/** The engine's native `graft_*` functions, one entry each, in Spark's
  * own `FunctionDescription` form. Two consumers read the table and
  * nothing else registers functions:
  *  - [[GraftExtensions]] injects every entry, so a session started
  *    with `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  *    (SQL-only clients included) has all of them;
  *  - [[ensure]] registers the entries an already-running session
  *    lacks; the lanes call it before they plan a native call.
  *
  * A scalar native is a kernel method plus one [[Kernel]] line below;
  * `graft_parity_sums` is an aggregate and builds its own expression.
  * Every argument is checked at analysis time: a wrong count, type or a
  * non-literal where the kernel needs a literal fails when the
  * DataFrame is built, with the function's name in the error. */
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

  /** An argument whose type `ok` accepts. */
  private final class Typed(ok: PartialFunction[DataType, Unit]) {
    def unapply(e: Expression): Boolean = ok.isDefinedAt(e.dataType)
  }
  private val Str = new Typed({ case StringType => })
  private val Floats = new Typed({ case ArrayType(FloatType, _) => })
  private val Longs = new Typed({ case ArrayType(LongType, _) => })

  /** A decoded literal: the kernel reads `v` as it is. */
  private def obj(v: AnyRef): Literal = Literal(v, ObjectType(v.getClass))

  private def scalar(name: String, params: String*)(kernel: AnyRef, method: String,
      dataType: DataType, returnNullable: Boolean)(
      args: PartialFunction[Seq[Expression], Seq[Expression]]): Kernel =
    new Kernel(name, params, kernel.getClass, method, dataType, returnNullable, args)

  private def longs(fields: String*): StructType =
    StructType(fields.map(StructField(_, LongType, nullable = false)))

  private val kernels: Seq[Kernel] = Seq(
    scalar("graft_cosine", "array<float> a", "array<float> b")(
        CosineSimilarity, "cosine", DoubleType, returnNullable = true) {
      case args @ Seq(Floats(), Floats()) => args },
    scalar("graft_sign_bits", "array<float> vec", "positive int literal nBits",
        "positive int literal dim")(SignBits, "signature", StringType, returnNullable = true) {
      case Seq(v @ Floats(), IntLit(bits), IntLit(dim)) if bits >= 1 && dim >= 1 =>
        Seq(v, obj(SignBits.planes(bits, dim)), Literal(bits), Literal(dim)) },
    scalar("graft_km_argmin", "array<long> point",
        "non-empty literal array<array<long>> centroids", "literal array<long> ids")(
        KmArgmin, "assign", LongType, returnNullable = false) {
      case Seq(p @ Longs(), Literal(c: ArrayData, ArrayType(ArrayType(LongType, _), _)),
          Literal(ids: ArrayData, ArrayType(LongType, _)))
          if c.numElements() > 0 && c.numElements() == ids.numElements() =>
        Seq(p, obj(Array.tabulate(c.numElements())(i => c.getArray(i).toLongArray())),
          obj(ids.toLongArray())) },
    scalar("graft_json_long", "string json", "non-empty string literal key")(
        JsonLongField, "extract", LongType, returnNullable = true) {
      case Seq(j @ Str(), StrLit(key)) if key.nonEmpty => Seq(j, obj(key.getBytes(UTF_8))) },
    scalar("graft_gram_stats", "string text", "positive int literal n")(
        Tokens, "gramStats", longs("n_grams", "n_distinct", "top_cnt", "dup_inst", "sum_tok_len"),
        returnNullable = false) {
      case args @ Seq(Str(), IntLit(n)) if n >= 1 => args },
    scalar("graft_gram_hash_counts", "string text", "int literal n in {1, 2}")(
        Tokens, "gramHashCounts", ArrayType(longs("h1", "h2", "c"), containsNull = false),
        returnNullable = false) {
      case args @ Seq(Str(), IntLit(n)) if n == 1 || n == 2 => args },
    scalar("graft_qm_buckets", "string text", "positive int literal nBuckets")(
        Tokens, "qmBuckets", ArrayType(LongType, containsNull = false), returnNullable = false) {
      case args @ Seq(Str(), IntLit(n)) if n >= 1 => args },
    scalar("graft_token_entropy", "string text")(
        Tokens, "entropy", DoubleType, returnNullable = false) {
      case args @ Seq(Str()) => args },
    scalar("graft_shingle_hashes", "string text")(
        Tokens, "shingleHashes", ArrayType(LongType, containsNull = false), returnNullable = false) {
      case args @ Seq(Str()) => args },
    scalar("graft_token_hashes", "string text")(
        Tokens, "tokenHashes", ArrayType(LongType, containsNull = false), returnNullable = false) {
      case args @ Seq(Str()) => args },
    scalar("graft_candidate_shingles", "string text", "foldable array<long> candidates")(
        Tokens, "candidateShingles", ArrayType(StringType, containsNull = false),
        returnNullable = false) {
      case Seq(t @ Str(), c @ Longs()) if c.foldable =>
        val sorted = c.eval().asInstanceOf[ArrayData].toLongArray()
        java.util.Arrays.sort(sorted)
        Seq(t, obj(sorted)) },
    scalar("graft_bag_lb", "string a", "string b")(
        BagLowerBound, "bound", IntegerType, returnNullable = false) {
      case args @ Seq(Str(), Str()) => args },
    scalar("graft_lev64", "string a", "string b", "non-negative int literal threshold")(
        Lev64, "dist", IntegerType, returnNullable = false) {
      case args @ Seq(Str(), Str(), IntLit(k)) if k >= 0 => args })

  /** The Bloom-filter probe: not a registered function, since no SQL
    * argument can carry a filter; [[bloomMightContain]] builds it. */
  private val bloom: Kernel = scalar("graft_bloom_might_contain", "string key", "bloom filter")(
      BloomHolder, "mightContain", BooleanType, returnNullable = false) {
    case Seq(k @ Str(), Literal(bf: BloomFilter, _)) => Seq(k, obj(BloomHolder(bf))) }

  /** One entry. `build` must match every argument list of the right
    * count it accepts, and any other list is rejected with `usage`. */
  private def fn(name: String, arity: Int, usage: String, cls: Class[_])(
      build: PartialFunction[Seq[Expression], Expression]): Entry = {
    val info = new ExpressionInfo(cls.getName, null, name, usage, "", "", "", "", "", "", "built-in")
    (FunctionIdentifier(name), info, (args: Seq[Expression]) => {
      if (args.length != arity) throw new IllegalArgumentException(
        s"$name expects $arity arguments, got ${args.length}")
      build.applyOrElse(args, (_: Seq[Expression]) =>
        throw new IllegalArgumentException(
          s"$name expects $usage, got (${args.mkString(", ")})"))
    })
  }

  val all: Seq[Entry] =
    kernels.map(k => fn(k.name, k.arity, k.usage, classOf[NativeCall]) {
      case args => NativeCall(k, args) }) :+
    fn("graft_parity_sums", 2, "graft_parity_sums(str, int literal nBits)", classOf[HexParitySums]) {
      case Seq(str, IntLit(bits)) => HexParitySums(str, bits) }

  /** `key` (a string column) might be in `bf`: no false negatives, and
    * false positives at the filter's rate. The filter ships inside the
    * plan as its serialized bytes ([[BloomHolder]]). */
  def bloomMightContain(key: Column, bf: BloomFilter): Column =
    Bridge.columnOf(NativeCall(bloom,
      Seq(Bridge.expressionOf(key), Literal(bf, ObjectType(classOf[BloomFilter])))))

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
