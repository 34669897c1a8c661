package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.etl.{PipelineRunner, WodRealText}
import graft.sources.{IdempotentSink, JsonLines}
import graft.streaming.StreamIngest

/** One benchmark run in one JVM: set up a session, run the workload's
  * pass once cold and then warm until `--seconds` have passed (at least
  * twice), and write timings plus the outputs the checks need to
  * `--out`.
  *
  * Usage: PerfMain --workload <name> --data <dir> --work <dir>
  *          --seconds <n> --trace <0|1> --out <file>
  *
  * The line `PERFBENCH READY` on stdout marks the end of set-up; the
  * caller times set-up from process start to that line. */
object PerfMain {

  private val cpus = math.min(4, Runtime.getRuntime.availableProcessors)

  /** Session settings as graft's own benchmark main sets them. */
  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "10m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** What a workload does in one pass, and what it leaves for the checks. */
  private trait Workload {
    def pass(dir: String): Unit
    /** Writes the last pass's outputs for the checks; returns them as
      * JSON fields. */
    def outputs(dir: String): Seq[(String, String)]
  }

  private var trace: Option[Trace] = None
  private var attempted = 0
  private val errors = mutable.ArrayBuffer.empty[String]

  /** One operation: timed under `name` when tracing, counted always; a
    * failure is recorded and the pass goes on. */
  private def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(trace.fold(body)(_.op(name)(body)))
    catch { case NonFatal(e) =>
      errors += s"$name: ${e.getClass.getName}: ${e.getMessage}".take(500)
      e.printStackTrace()
      None
    }
  }

  private def lanesOut(spark: SparkSession, dir: String,
                       last: mutable.Map[String, (StructType, Array[Row])]): Seq[(String, String)] = {
    last.foreach { case (lane, (schema, rows)) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
        .write.parquet(s"$dir/lanes/$lane")
    }
    val oracle = last.keys.toSeq.sorted.map(l => Json.str(l) + ":" + Json.str(SparkEntry.oracleSql(l)))
    Seq("lanes_dir" -> Json.str(s"$dir/lanes"), "oracle_sql" -> oracle.mkString("{", ",", "}"))
  }

  private def collectLane(spark: SparkSession, data: String, lane: String,
                          last: mutable.Map[String, (StructType, Array[Row])]): Unit =
    op(s"operators.$lane") {
      val df = SparkEntry.queries(lane)(spark, data)
      last(lane) = (df.schema, df.collect())
    }

  /** The paper's own ETL: PipelineRunner steps over WodRealText, landed
    * first-writer-wins and as JSON lines, then the same batch replayed. */
  private final class WodPosts(spark: SparkSession, data: String) extends Workload {
    private val schema = StructType(Seq(
      StructField("post_id", LongType), StructField("content_html", StringType),
      StructField("slug", StringType), StructField("title", StringType),
      StructField("post_date", StringType)))
    private val steps = Seq(
      PipelineRunner.Step("landed", _.select(schema.fieldNames.map(col).toSeq: _*)),
      PipelineRunner.Step("cleaned", WodRealText.cleaned))
    private val returns = mutable.ArrayBuffer.empty[String]

    def pass(dir: String): Unit = {
      val posts = JsonLines.read(spark, s"$data/posts", schema)
      val keyed = s"$dir/keyed"
      val ret = for {
        (cleaned, _) <- op("etl.pipeline_run") { PipelineRunner.run(posts, steps, s"$dir/pipeline") }
        batch = cleaned.withColumn("record_key", col("post_id") * 100 + col("session_idx"))
        first <- op("sources.write_keyed") { IdempotentSink.writeKeyed(batch, "record_key", "session_idx", keyed) }
        _ <- op("sources.jsonl_write") { JsonLines.write(cleaned, s"$dir/jsonl") }
        replay <- op("sources.write_keyed_replay") { IdempotentSink.writeKeyed(batch, "record_key", "session_idx", keyed) }
      } yield Seq(first._1, first._2, replay._1, replay._2).mkString("[", ",", "]")
      returns += ret.getOrElse("null")
    }

    def outputs(dir: String): Seq[(String, String)] = Seq(
      "keyed" -> Json.str(s"$dir/keyed"), "jsonl" -> Json.str(s"$dir/jsonl"),
      "write_keyed_returns" -> returns.mkString("[", ",", "]"))
  }

  /** The training-data lanes of SparkEntry.queries over generated tables. */
  private final class CorpusBuild(spark: SparkSession, data: String) extends Workload {
    private val last = mutable.Map.empty[String, (StructType, Array[Row])]
    def pass(dir: String): Unit = CorpusBuild.lanes.foreach(collectLane(spark, data, _, last))
    def outputs(dir: String): Seq[(String, String)] = lanesOut(spark, dir, last)
  }

  private object CorpusBuild {
    val lanes: Seq[String] = Seq(
      "text_quality", "dedup_clusters", "sim_kmeans_converged", "mix_token_budget")
  }

  /** Post pages drained one page per micro-batch into both keyed sinks,
    * then the stateful streaming lanes. */
  private final class StreamIngestWl(spark: SparkSession, data: String) extends Workload {
    private val schema = StructType(Seq(
      StructField("post_id", LongType), StructField("version", LongType),
      StructField("title", StringType), StructField("body", StringType),
      StructField("page", IntegerType)))
    private val last = mutable.Map.empty[String, (StructType, Array[Row])]
    private def pages: DataFrame =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(s"$data/pages")

    def pass(dir: String): Unit = {
      op("streaming.run_idempotent") {
        StreamIngest.runIdempotent(pages, "post_id", "version", s"$dir/idempotent", s"$dir/idempotent_ck")
      }
      op("streaming.run_merge") {
        StreamIngest.runMerge(pages, "post_id", "version", s"$dir/merge", s"$dir/merge_ck")
      }
      collectLane(spark, data, "stream_dedup", last)
    }

    def outputs(dir: String): Seq[(String, String)] =
      Seq("idempotent" -> Json.str(s"$dir/idempotent"), "merge" -> Json.str(s"$dir/merge")) ++
        lanesOut(spark, dir, last)
  }

  private def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS(): Double = os.getProcessCpuTime / 1e9
  private def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val (data, work, out) = (opts("data"), opts("work"), opts("out"))
    val seconds = opts("seconds").toDouble

    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val wl: Workload = workload match {
      case "wod_posts" => new WodPosts(spark, data)
      case "corpus_build" => new CorpusBuild(spark, data)
      case "stream_ingest" => new StreamIngestWl(spark, data)
      case other => sys.error(s"unknown workload $other")
    }
    println("PERFBENCH READY")
    System.out.flush()
    if (opts.get("trace").contains("1")) trace = Some(new Trace(spark))

    final case class Pass(wallS: Double, cpuS: Double, layers: Map[String, Double])
    var k = 0
    def runPass(): Pass = {
      val dir = s"$work/pass_$k"
      deleteRec(new File(s"$work/pass_${k - 1}"))
      val (w0, c0) = (System.nanoTime(), cpuS())
      wl.pass(dir)
      val (wallS, cpu) = ((System.nanoTime() - w0) / 1e9, cpuS() - c0)
      k += 1
      Pass(wallS, cpu, trace.fold(Map.empty[String, Double])(_.takePass()))
    }

    val jit0 = jitS()
    val first = runPass()
    val firstJitS = jitS() - jit0
    val warm = mutable.ArrayBuffer.empty[Pass]
    val warmStart = System.nanoTime()
    while (warm.size < 2 || (System.nanoTime() - warmStart) / 1e9 < seconds) warm += runPass()

    def passJson(p: Pass): String =
      s"""{"wall_s":${p.wallS},"cpu_s":${p.cpuS},"layers":${Json.obj(p.layers)}}"""
    val fields = Seq(
      "workload" -> Json.str(workload),
      "cpus" -> cpus.toString,
      "session_start_s" -> sessionStartS.toString,
      "first_pass_jit_s" -> firstJitS.toString,
      "first" -> passJson(first),
      "warm" -> warm.map(passJson).mkString("[", ",", "]"),
      "peak_rss_mb" -> peakRssMb().toString,
      "attempted" -> attempted.toString,
      "errors" -> errors.map(Json.str).mkString("[", ",", "]")) ++
      wl.outputs(s"$work/pass_${k - 1}")
    Files.writeString(Paths.get(out), fields.map { case (n, v) => Json.str(n) + ":" + v }.mkString("{", ",", "}\n"))
    System.out.flush()
    // the results are on disk and the caller deletes the run's directories:
    // halting skips only Spark's own shutdown work
    Runtime.getRuntime.halt(0)
  }
}

private object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
