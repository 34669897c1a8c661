package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-demonstration benchmark (SURVEY §7 round-4 item): measures, on
  * a deliberately skewed events table, what actually kills a plan at
  * scale and which mitigation buys the win — numbers, not argument.
  *
  * Dataset (generated once into <dstDir>, deterministic): the source
  * events table replicated `replicas`× with 90% of rows re-keyed to
  * user_id 0 (`event_id % 10 < 9`), plus a `users` dim of every user
  * with a payload column. The hot key owns ~90% of a multi-million-row
  * fact — the shape AQE's skew thresholds and salting exist for.
  *
  * Lanes (min-of-two each, one shared session, runtime-set confs):
  *
  *  - agg_naive / agg_salted: groupBy(user_id).sum vs the 16-salt
  *    two-phase form. EXPECTED RESULT: a tie. Combinable aggregates
  *    shrink to one row per (partition, key) in the map-side partial
  *    aggregate, so the hot key ships ~n_partitions rows regardless of
  *    skew — salting buys nothing here, and the numbers should SAY so
  *    (the salt pattern earns its keep in q_salted_agg's contract for
  *    non-combinable or combiner-less contexts, not for plain sums).
  *
  *  - join_naive: fact ⋈ users on user_id, broadcast disabled, AQE
  *    off — a sort-merge join whose hot partition sorts+merges ~90% of
  *    the fact alone: wall-clock ≈ the one straggler task. This is the
  *    shape that dies at 100 TB.
  *  - join_aqe_4m: AQE + skewJoin on with a 4 MB skew threshold
  *    (scaled-down analogue of the 256 MB default). MEASURED MISS:
  *    skew detection works on COMPRESSED map-output block sizes, and
  *    a hot key's blocks are runs of one identical value — lz4 crushes
  *    them far below any byte threshold while the reduce task still
  *    pays full CPU to sort+join every row. Byte-based skew detection
  *    is blind to compressible CPU skew; at 100 TB this is exactly a
  *    "the plan looked fine, one straggler ran for an hour" incident.
  *  - join_aqe_tuned: the same lane with the threshold dropped to
  *    512 KB — once the compressed hot block clears the bar, AQE
  *    splits it and the join parallelizes: the no-code-change
  *    mitigation works, but only when thresholds are tuned against
  *    compressed sizes (or salting is used and no tuning is needed).
  *    ROUND-11 MEASUREMENT: on the regenerated driver data even
  *    512 KB no longer clears — the hot key's blocks compress below
  *    it and the tuned lane ties the naive one (~1.85 s vs 1.9-2.0 s)
  *    while salting still wins 2×+ (0.81-0.94 s). The threshold
  *    mitigation is LAYOUT-SENSITIVE (re-tune after any upstream
  *    encoding change); the salted plan is not — which is the reason
  *    the engine ships the salted pattern as a first-class operator
  *    rather than leaning on thresholds.
  *  - join_salted: the explicit pre-AQE fix — fact salted mod 32, dim
  *    exploded ×32, equi-join on (user_id, salt): every engine's
  *    portable form of the same rebalance, immune to the compression
  *    blind spot because it never creates a hot partition at all.
  *
  * Usage: runMain graft.SkewBench <srcSfDir> <dstDir> <replicas>
  * Writes SPARK_GRAFT_SKEW_OUT (default skewbench.json).
  */
object SkewBench {

  private def gen(spark: SparkSession, src: String, dst: String, n: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dst/events_skew.parquet"))) return
    val ev = spark.read.parquet(s"$src/events.parquet")
    val evS = ev.agg(max("event_id")).head.getLong(0) + 1L
    val skewed = (0 until n).map { i =>
      ev.withColumn("event_id", col("event_id") + lit(i * evS))
    }.reduce(_ unionByName _)
      // 90% of the fact lands on user 0 — deterministic, not sampled
      .withColumn("user_id",
        when(pmod(col("event_id"), lit(10)) < 9, lit(0L)).otherwise(col("user_id")))
    skewed.repartition(8).write.mode(SaveMode.Overwrite)
      .parquet(s"$dst/events_skew.parquet")
    // one dim row per user that exists anywhere in the skewed fact
    spark.read.parquet(s"$dst/events_skew.parquet")
      .select(col("user_id")).distinct()
      .withColumn("segment", concat(lit("seg_"), pmod(col("user_id"), lit(7))))
      .repartition(2).write.mode(SaveMode.Overwrite)
      .parquet(s"$dst/users.parquet")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: SkewBench <srcSfDir> <dstDir> <replicas>  (replicas=0: real-edge lanes only)")
    val (src, dst, n) = (args(0), args(1), args(2).toInt)
    val cpus = GraftSession.cpus
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SKEW_OUT", "skewbench.json")
    val spark = GraftSession.build(cpus)
    if (n > 0) gen(spark, src, dst, n)

    def fact = spark.read.parquet(s"$dst/events_skew.parquet")
    def users = spark.read.parquet(s"$dst/users.parquet")

    def aggNaive() = fact.groupBy("user_id")
      .agg(sum("value").as("v"), count(lit(1)).as("n"))
    def aggSalted() = fact.withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy("user_id", "salt").agg(sum("value").as("pv"), count(lit(1)).as("pn"))
      .groupBy("user_id").agg(sum("pv").as("v"), sum("pn").as("n"))
    def joinPlain() = fact.join(users, "user_id")
      .groupBy("segment").agg(count(lit(1)).as("n"), sum("value").as("v"))
    def joinSalted() = {
      val f = fact.withColumn("salt", pmod(col("event_id"), lit(32)).cast("int"))
      val u = users.withColumn("salt", explode(sequence(lit(0), lit(31))))
      f.join(u, Seq("user_id", "salt"))
        .groupBy("segment").agg(count(lit(1)).as("n"), sum("value").as("v"))
    }

    val aqeOff = Map(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    def aqeOn(threshold: String, advisory: String) = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> threshold,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")

    def lane(name: String, confs: Map[String, String], mk: () => DataFrame): (String, Double) =
      GraftSession.withConfs(spark, confs) {
        mk().count() // warm: codegen + page cache, un-timed
        def timed(): Double = {
          val t0 = System.nanoTime(); mk().count(); (System.nanoTime() - t0) / 1e9
        }
        val t = math.min(timed(), timed())
        println(f"SKEW $name%-12s $t%8.2f s")
        name -> math.rint(t * 10000) / 10000
      }

    // ---- r18: the real-edge RESOLVE join at AMPLIFIED skew -----------
    // The production realEdges build carries ~1.5n hot-URL probe rows
    // and the skew split is not yet binding at sf10 (Lab
    // realedges_build: 3.14 s AQE-skew-ON vs 3.15 s OFF). SURVEY's
    // standing claim — "at 100× the skew-join split becomes the
    // relevant lever" — is tested HERE: AMP Zipf links per doc (~half
    // to doc 1's URL) make the hot partition dominate the shuffle-hash
    // resolve join outright, and the AQE split is measured OFF / at
    // the 256 MB default / tuned / against the salted form, on the
    // SAME url-equi-join shape realEdges runs. The index side keeps
    // its shuffle_hash hint (at crawl scale a URL→doc index never
    // broadcasts), exactly as prCore pins its gear.
    val AMP = 16
    def docs = spark.read.parquet(s"$src/documents.parquet")
    // links MATERIALIZED once (deterministic md5 Zipf decoration, the
    // realEdges page shape): the measured lanes then isolate the
    // resolve JOIN from the probe-side hash generation — otherwise the
    // 8M md5s dominate the lane and dilute the skew signal
    // cache keyed by (AMP, n_docs) — a bare-existence check silently
    // reused a stale table when the source sf dir or AMP changed, so
    // every redge_* number described the wrong dataset (r19, per advice)
    val nDocsExact = docs.count()
    val ampPath = s"$dst/amp_links_a${AMP}_n$nDocsExact.parquet"
    locally {
      val fs = new org.apache.hadoop.fs.Path(dst)
        .getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(new org.apache.hadoop.fs.Path(ampPath))) {
        val nD = docs.agg(count(lit(1)).as("n_docs"))
        def zipf(k: Int): String =
          s"""(n_docs DIV (1 + CAST(conv(substring(md5(concat('amp:',
             |  CAST(doc_id AS STRING), ':$k')), 1, 8), 16, 10) AS BIGINT)
             |  % n_docs)) % n_docs""".stripMargin
        docs.select(col("doc_id")).crossJoin(broadcast(nD))
          .select(col("doc_id").as("lsrc"),
            explode(array((1 to AMP).map(k =>
              concat(lit("https://docs.example/d"), expr(zipf(k)))): _*)).as("url"))
          .repartition(16)
          .write.mode(SaveMode.Overwrite).parquet(ampPath)
      }
    }
    def ampLinks = spark.read.parquet(ampPath)
    def ampIdx = docs.select(
      concat(lit("https://docs.example/d"), col("doc_id")).as("url"),
      col("doc_id").as("dst"))
    def redgePlain() = ampLinks.join(ampIdx.hint("shuffle_hash"), "url")
      .groupBy().agg(count(lit(1)).as("nn"), sum("dst").as("sd"), sum("lsrc").as("ss"))
    def redgeSalted() = {
      val f = ampLinks.withColumn("salt", pmod(col("lsrc"), lit(32)).cast("int"))
      val u = ampIdx.withColumn("salt", explode(sequence(lit(0), lit(31))))
      f.join(u.hint("shuffle_hash"), Seq("url", "salt"))
        .groupBy().agg(count(lit(1)).as("nn"), sum("dst").as("sd"), sum("lsrc").as("ss"))
    }

    val redgeResults = Seq(
      lane("redge_amp_off", aqeOff, redgePlain _),
      // the stock default (256 MB threshold): does byte-based skew
      // detection even SEE a hot partition of highly compressible
      // identical URLs? (the events lanes' measured blind spot)
      lane("redge_amp_aqe_default", aqeOn("256m", "64m"), redgePlain _),
      lane("redge_amp_aqe_tuned", aqeOn("1m", "512k"), redgePlain _),
      lane("redge_amp_salted", aqeOff, redgeSalted _))
    require(redgeSalted().collect().map(_.toSeq).toSeq ==
      redgePlain().collect().map(_.toSeq).toSeq,
      "salted resolve join diverged from the plain resolve join")
    val ampRows = ampLinks.count()
    val ampHot = {
      val hotUrl = ampLinks.groupBy("url").count()
        .orderBy(col("count").desc).limit(1)
      hotUrl.collect().head.getLong(1)
    }

    val (results, rows, hot) =
      if (n == 0) (Seq.empty[(String, Double)], 0L, 0L)
      else {
        val rws = fact.count()
        val ht = fact.filter(col("user_id") === 0).count()
        val res = Seq(
          lane("agg_naive", aqeOff, aggNaive _),
          lane("agg_salted", aqeOff, aggSalted _),
          lane("join_naive", aqeOff, joinPlain _),
          // 4m = the 256 MB default scaled to this fact: MISSES, because
          // the hot key's identical values compress below any byte bar
          lane("join_aqe_4m", aqeOn("4m", "2m"), joinPlain _),
          // tuned against COMPRESSED block sizes: the split fires
          lane("join_aqe_tuned", aqeOn("512k", "256k"), joinPlain _),
          lane("join_salted", aqeOff, joinSalted _))
        // the two mitigations must agree with the naive plan's answer
        val expect = {
          spark.conf.set("spark.sql.adaptive.enabled", "true")
          joinPlain().orderBy("segment").collect().map(_.toSeq).toSeq
        }
        require(joinSalted().orderBy("segment").collect().map(_.toSeq).toSeq == expect,
          "salted join diverged from the plain join")
        (res, rws, ht)
      }
    val json =
      s"""{"rows":$rows,"hot_key_rows":$hot,"cpus":$cpus,""" +
      s""""amp_rows":$ampRows,"amp_hot_url_rows":$ampHot,""" +
      (results ++ redgeResults)
        .map { case (k, v) => s""""$k":$v""" }.mkString("", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    println(json)
    spark.stop()
  }
}
