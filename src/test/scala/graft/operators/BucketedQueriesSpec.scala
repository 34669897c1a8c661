package graft.operators

import graft.SparkTestBase

/** The bucketed layout must change the PHYSICAL plan (no Exchange on
  * the order key — the fact join reads co-located buckets) without
  * changing a single result row. Broadcast and AQE are disabled in an
  * isolated session so the join would otherwise have to shuffle. */
class BucketedQueriesSpec extends SparkTestBase {

  // a single-key Exchange on any order-key column (original or aliased);
  // multi-key exchanges (q21's (ok, sk) pair dedup) and other keys
  // (custkey aggregates) are legitimate and allowed
  private val orderKeyExchange =
    """Exchange hashpartitioning\((?:l_orderkey|o_orderkey|lk|ok|ok2)#\d+L?, \d+\)""".r

  private def isolated = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  test("q3/q5/q21 over bucketed facts: zero Exchange on the order key, identical results") {
    val s = isolated
    val cases: Seq[(String,
        (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
      ("q5", BucketedQueries.q5Bucketed, CoreQueries.q5MultiJoin),
      ("q7pre", BucketedQueries.q7PreJoined, OlapQueries.q7Volume),
      ("q18", BucketedQueries.q18Bucketed, OlapQueries.q18LargeOrders))
    cases.foreach { case (name, bucketed, plain) =>
      val bq = bucketed(s, sf)
      val plan = bq.queryExecution.executedPlan
      // the invariant the layout buys: LINE-GRAIN rows never re-shuffle
      // on the order key — an order-key Exchange is allowed only if its
      // subtree does not read the bucketed lineitem (q5's pruned
      // orders⋈customer side exchanges a dimension-scale input back to
      // the order key; that is the plan we want)
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val lineGrainExchanges = plan.collect {
        case e: ShuffleExchangeExec
          if orderKeyExchange.findFirstIn(e.nodeName + " " + e.outputPartitioning).isDefined ||
             orderKeyExchange.findFirstIn(e.simpleString(10)).isDefined =>
          e
      }.filter(_.collectLeaves().exists {
        case f: FileSourceScanExec =>
          f.tableIdentifier.exists(_.table.startsWith("lineitem_bkt"))
        case _ => false
      })
      assert(lineGrainExchanges.isEmpty,
        s"$name: bucketed lineitem must never re-shuffle on the order key:\n$plan")
      val got = bq.collect().map(_.toSeq).toSeq
      val want = plain(s, sf).collect().map(_.toSeq).toSeq
      assert(got.toSet == want.toSet && got.length == want.length,
        s"$name: bucketed layout changed the results")
    }
  }

  test("the bucketed lineitem scan reports its sort order from the session-build conf") {
    // no lane sets spark.sql.legacy.bucketedTableScan.outputOrdering;
    // a new session inherits it from GraftSession.build
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plan = BucketedQueries.q7PreJoined(isolated, sf).queryExecution.executedPlan
    val scans = plan.collect {
      case f: FileSourceScanExec if f.tableIdentifier.exists(_.table.startsWith("lineitem_bkt")) => f
    }
    assert(scans.nonEmpty, s"expected a lineitem_bkt scan:\n$plan")
    scans.foreach(f => assert(f.outputOrdering.nonEmpty,
      s"bucketed scan must report its sortBy order:\n$plan"))
  }

  test("q_skyline over the suppkey-bucketed lineitem: zero suppkey Exchange, identical results") {
    val s = isolated
    val bq = BucketedQueries.qSkylineBucketed(s, sf)
    val plan = bq.queryExecution.executedPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val suppkeyExchange = """Exchange hashpartitioning\(l_suppkey#\d+L?, \d+\)""".r
    val factExchanges = plan.collect {
      case e: ShuffleExchangeExec
        if suppkeyExchange.findFirstIn(e.nodeName + " " + e.outputPartitioning).isDefined ||
           suppkeyExchange.findFirstIn(e.simpleString(10)).isDefined => e
    }.filter(_.collectLeaves().exists {
      case f: FileSourceScanExec =>
        f.tableIdentifier.exists(_.table.startsWith("lineitem_sbkt"))
      case _ => false
    })
    assert(factExchanges.isEmpty,
      s"bucketed lineitem must never re-shuffle on the supplier key:\n$plan")
    val got = bq.collect().map(_.toSeq).toSeq
    val want = OlapQueries.qSkyline(s, sf).collect().map(_.toSeq).toSeq
    assert(got.toSet == want.toSet && got.length == want.length,
      "suppkey-bucketed layout changed the results")
  }

  test("the plain-scan q3 DOES shuffle the order key under the same conf (the layout is what removes it)") {
    val s = isolated
    val plan = CoreQueries.q3JoinAgg(s, sf).queryExecution.executedPlan.toString
    assert(orderKeyExchange.findFirstIn(plan).isDefined,
      s"expected the unbucketed join to exchange on the order key:\n$plan")
  }

  test("fluency lanes over the materialized gram streams: zero doc_id Exchange, identical results") {
    // the bucketed dhc scan must satisfy the per-doc scoring aggregate
    // (no Exchange hashpartitioning(doc_id)) and reproduce the plain
    // scan-form lanes row for row (same oracle SQL gates both)
    val s = spark
    val docExchange = """Exchange hashpartitioning\(doc_id#\d+L?, \d+\)""".r
    for ((bkt, plain) <- Seq[((org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
      (BucketedQueries.textLogprobBucketed, TextOps.textLogprob),
      (BucketedQueries.textBigramLogprobBucketed, TextOps.textBigramLogprob))) {
      val b = bkt(s, sf)
      val plan = b.queryExecution.executedPlan.toString
      assert(docExchange.findFirstIn(plan).isEmpty,
        s"bucketed gram stream must never re-shuffle on doc_id:\n$plan")
      val got = b.collect().map(_.toSeq).toSet
      val want = plain(s, sf).collect().map(_.toSeq).toSet
      assert(got == want, "materialized-layout fluency lane changed results")
    }
  }

  private def files(s: org.apache.spark.sql.SparkSession, table: String): Seq[(String, Long)] = {
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(loc)) Seq.empty
    else fs.listStatus(loc).map(st => st.getPath.getName -> st.getModificationTime)
      .toSeq.sorted
  }

  test("bucketedTable builds once per name; a new row count sweeps the superseded table") {
    val s = spark
    var builds = 0
    def build(n: Long) = BucketedQueries.bucketedTable(s, "layout_spec_once", "k",
        sortByKey = true, rows = Some(n)) {
      builds += 1
      s.range(n).toDF("k")
    }
    val t = build(10)
    assert(t == "layout_spec_once_n10" && builds == 1)
    val before = files(s, t)
    assert(before.nonEmpty)
    assert(build(10) == t)
    assert(builds == 1, "a second call must not evaluate the source")
    assert(files(s, t) == before, "a second call must write nothing")
    assert(build(20) == "layout_spec_once_n20" && builds == 2)
    assert(!s.catalog.tableExists(t) && files(s, t).isEmpty,
      "the superseded-n table must be dropped with its files")
    assert(s.table("layout_spec_once_n20").count() == 20)
    s.sql("DROP TABLE layout_spec_once_n20")
  }

  test("bucketedTable clears a leftover location that has no catalog entry") {
    val s = spark
    val t = "layout_spec_orphan"
    assert(!s.catalog.tableExists(t))
    val loc = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"), t)
    val fs = loc.getFileSystem(s.sessionState.newHadoopConf())
    val junk = new org.apache.hadoop.fs.Path(loc, "part-left-by-an-earlier-jvm.parquet")
    fs.create(junk).close()
    assert(BucketedQueries.bucketedTable(s, t, "k", sortByKey = false)(
      s.range(50).toDF("k")) == t)
    assert(!fs.exists(junk), "the orphaned file must be cleared")
    assert(s.table(t).count() == 50)
    s.sql(s"DROP TABLE $t")
  }
}
