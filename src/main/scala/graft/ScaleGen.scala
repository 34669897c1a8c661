package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: writes an N× replica of a source
  * testdata directory by unioning N key-shifted copies of every table.
  * Used to materialize sf1 (10× sf0.1) for the scale-proof bench —
  * the driver's generator only goes to sf0.1 and /root/testdata is
  * read-only.
  *
  * Replication rules (the point is to scale VOLUME while preserving
  * each workload's per-key shape, so plans are stressed, not warped):
  *
  *  - Every synthetic key domain is shifted by `replica × (max+1)`:
  *    customers, suppliers, parts, orders, events, users, docs, vecs.
  *    FK columns shift by their referenced domain's stride, so joins
  *    hit exactly as often per row as at the source SF.
  *  - `region`/`nation` are fixed dimensions (5/25 rows, named): they
  *    are copied, not replicated — q5-style groupings keep their
  *    cardinality, each nation simply aggregates 10× the fact rows.
  *  - `documents.text` is token-salted per replica (every whitespace
  *    token gets a `_r<i>` suffix; replica 0 keeps the original text).
  *    Without this, every doc would gain 9 exact clones: near-dup
  *    pair counts would grow ~quadratically in N and the dedup bench
  *    would measure an artifact of the replication, not scale. With
  *    disjoint per-replica vocabularies the duplicate structure WITHIN
  *    each replica mirrors the source SF exactly, so pair counts,
  *    LSH bucket sizes and posting-list lengths all scale linearly —
  *    the distribution a 10× crawl actually has. `n_chars` is
  *    recomputed (it is length(text) by construction in the source).
  *  - `embeddings` replicate with shifted vec_id (same label mix).
  *  - `events.ts` stays in the source time range: a 10× corpus over
  *    the same wall-clock window = 10× busier streams, which is what
  *    windowed/sessionize operators should absorb at scale.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <dstDir> <replicas>
  */
object ScaleGen {

  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head.getLong(0) + 1L

  /** Shift `cols` of each replica by replica×stride(col) and union. */
  private def replicate(df: DataFrame, n: Int, shifts: Map[String, Long],
                        perReplica: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
    (0 until n).map { i =>
      val shifted = shifts.foldLeft(df) { case (d, (c, s)) =>
        d.withColumn(c, col(c) + lit(i * s))
      }
      perReplica(shifted, i)
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleGen <srcDir> <dstDir> <replicas>")
    val (src, dst, n) = (args(0), args(1), args(2).toInt)
    val spark = GraftSession.build()

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(t: String, df: DataFrame, files: Int,
              clusterKey: Option[String] = None): Unit = {
      // 32 MB row groups: a scale table must expose enough independent
      // row groups that a 32-thread scan (either engine) is not capped
      // by file count — the round-5 layout's single-row-group 44 MB
      // files limited every lineitem scan to 8-way parallelism, which
      // benchmarks the layout artifact, not the engine.
      //
      // Cluster by the table's primary key where one exists: the
      // driver's source tables arrive key-contiguous (sequential
      // generation), and a production warehouse table is
      // cluster-written the same way. The r12 lab runs measured the
      // previous round-robin `repartition(files)` layout destroying
      // that property in the replicas — every orderkey-grain partial
      // aggregate lost its map-side combine and shuffled the full fact
      // stream (q18's 60M-row exchange). Both engines scan the same
      // files, so the layout is symmetric.
      val arranged = clusterKey match {
        case Some(k) => df.repartitionByRange(files, col(k)).sortWithinPartitions(k)
        case None => df.repartition(files)
      }
      arranged.write.mode(SaveMode.Overwrite)
        .option("parquet.block.size", (32L * 1024 * 1024).toString)
        .parquet(s"$dst/$t.parquet")
      println(s"SCALEGEN $t -> $dst/$t.parquet ($files files)")
    }

    val custS = stride(read("customer"), "c_custkey")
    val suppS = stride(read("supplier"), "s_suppkey")
    val partS = stride(read("part"), "p_partkey")
    val ordS = stride(read("orders"), "o_orderkey")
    val evS = stride(read("events"), "event_id")
    val userS = stride(read("events"), "user_id")
    val docS = stride(read("documents"), "doc_id")
    val vecS = stride(read("embeddings"), "vec_id")

    // fixed dimensions: copy
    write("region", read("region"), 1)
    write("nation", read("nation"), 1)

    // file counts sized so the biggest tables scan 32-wide (one file
    // per core on this node; a real 100 TB table has thousands)
    write("customer", replicate(read("customer"), n, Map("c_custkey" -> custS)), 4,
      clusterKey = Some("c_custkey"))
    write("supplier", replicate(read("supplier"), n, Map("s_suppkey" -> suppS)), 2,
      clusterKey = Some("s_suppkey"))
    write("part", replicate(read("part"), n, Map("p_partkey" -> partS)), 4,
      clusterKey = Some("p_partkey"))
    write("orders", replicate(read("orders"), n,
      Map("o_orderkey" -> ordS, "o_custkey" -> custS)), 16,
      clusterKey = Some("o_orderkey"))
    write("lineitem", replicate(read("lineitem"), n,
      Map("l_orderkey" -> ordS, "l_partkey" -> partS, "l_suppkey" -> suppS)), 32,
      clusterKey = Some("l_orderkey"))
    // events stay time-clustered: a stream lands in arrival order
    write("events", replicate(read("events"), n,
      Map("event_id" -> evS, "user_id" -> userS)), 16,
      clusterKey = Some("ts"))
    write("documents", replicate(read("documents"), n, Map("doc_id" -> docS),
      perReplica = (d, i) =>
        if (i == 0) d
        else d.withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1_r" + i))
          .withColumn("n_chars", length(col("text")).cast("long"))), 16,
      clusterKey = Some("doc_id"))
    write("embeddings", replicate(read("embeddings"), n, Map("vec_id" -> vecS)), 4,
      clusterKey = Some("vec_id"))

    spark.stop()
  }
}
