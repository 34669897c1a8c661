package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructType}

class PagedIngestSpec extends SparkTestBase {

  // fake feed: `total` records, json objects {"id":N,"body":"..."};
  // `failures` maps page -> number of times that page errors before
  // succeeding (the reference tests mock requests.get the same way)
  private class FakeFeed(total: Int, failures: Map[Int, Int] = Map.empty,
                         mangle: Int => Boolean = _ => false) {
    var calls = 0
    private val remainingFailures = scala.collection.mutable.Map(failures.toSeq: _*)
    def fetch(page: Int, perPage: Int): Seq[String] = {
      calls += 1
      if (remainingFailures.getOrElse(page, 0) > 0) {
        remainingFailures(page) = remainingFailures(page) - 1
        throw new java.io.IOException(s"transient: page $page")
      }
      val from = (page - 1) * perPage
      (from until math.min(from + perPage, total)).map { i =>
        if (mangle(i)) s"""{"id":$i,"body": not-json"""
        else s"""{"id":$i,"body":"rec $i"}"""
      }
    }
  }

  private def fresh(): (String, IdempotencyLedger) = {
    val dir = graft.TempDirs.create("graft_ingest").toString
    (dir + "/staging",
      new IdempotencyLedger(dir + "/ledger", spark.sessionState.newHadoopConf()))
  }

  private val schema = new StructType().add("id", LongType).add("body", StringType)

  test("pages through the feed, stops on the short page, lands every record") {
    val (dest, led) = fresh()
    val feed = new FakeFeed(total = 47)
    val rep = PagedIngest.ingest(feed.fetch, dest, spark.sessionState.newHadoopConf(),
      led, perPage = 10, sleep = _ => ())
    assert(rep == PagedIngest.IngestReport(5, 0, 47, 0))
    assert(feed.calls == 5, "short page 5 ends the feed - page 6 is never requested")
    val back = JsonLines.read(spark, dest, schema)
    assert(back.count() == 47)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
      == (0 until 47).map(_.toLong).sum)
  }

  test("transient failures retry with exponential backoff; budget exhaustion rethrows") {
    val (dest, led) = fresh()
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val feed = new FakeFeed(total = 25, failures = Map(2 -> 2))
    val rep = PagedIngest.ingest(feed.fetch, dest, spark.sessionState.newHadoopConf(),
      led, perPage = 10, maxRetries = 3, backoffMs = 100, sleep = sleeps += _)
    assert(rep.pagesFetched == 3 && rep.records == 25 && rep.retries == 2)
    assert(sleeps.toSeq == Seq(100L, 200L), "exponential schedule")
    // a page that NEVER succeeds exhausts the budget and rethrows
    val (dest2, led2) = fresh()
    val dead = new FakeFeed(total = 25, failures = Map(1 -> 99))
    val ex = intercept[java.io.IOException] {
      PagedIngest.ingest(dead.fetch, dest2, spark.sessionState.newHadoopConf(),
        led2, perPage = 10, maxRetries = 2, sleep = _ => ())
    }
    assert(ex.getMessage.contains("page 1"))
    assert(dead.calls == 3, "1 attempt + 2 retries, then raise")
  }

  test("re-run after completion skips every landed page and fetches nothing new") {
    val (dest, led) = fresh()
    val feed = new FakeFeed(total = 30) // exact multiple: end = empty page 4
    val r1 = PagedIngest.ingest(feed.fetch, dest, spark.sessionState.newHadoopConf(),
      led, perPage = 10, sleep = _ => ())
    assert(r1.pagesFetched == 3 && r1.records == 30)
    assert(feed.calls == 4, "exact-multiple feed ends on the empty page")
    val r2 = PagedIngest.ingest(feed.fetch, dest, spark.sessionState.newHadoopConf(),
      led, perPage = 10, sleep = _ => ())
    assert(r2 == PagedIngest.IngestReport(0, 3, 0, 0))
    // pages 1-3 skipped via the ledger; only the empty page 4 re-fetched
    assert(feed.calls == 5)
    assert(JsonLines.read(spark, dest, schema).count() == 30, "no duplicates")
  }

  test("stale pending claims recover before paging: landed completes, lost re-fetches") {
    val (dest, led) = fresh()
    val feed = new FakeFeed(total = 30)
    // simulate a previous run that crashed mid-flight:
    //  - page 1: claim taken AND file landed, but complete() never ran
    //  - page 2: claim taken, crash before the write — no file
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dest).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dest))
    assert(led.begin(s"paged_ingest:$dest:page=1"))
    val p1 = new org.apache.hadoop.fs.Path(dest, "page-00001.jsonl")
    val out = fs.create(p1, true)
    out.write((0 until 10).map(i => s"""{"id":$i,"body":"rec $i"}""").mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
    assert(led.begin(s"paged_ingest:$dest:page=2"))
    // an unrelated operation's pending claim must survive untouched
    assert(led.begin("other_op:xyz"))

    val rep = PagedIngest.ingest(feed.fetch, dest, conf, led, perPage = 10, sleep = _ => ())
    assert(rep.recovered == 1, "page 1's claim completed against its landed file")
    assert(rep.abandoned == 1, "page 2's lost claim released")
    assert(rep.pagesFetched == 2 && rep.pagesSkipped == 1,
      "page 1 skipped as complete; pages 2,3 fetched - no silent loss")
    assert(JsonLines.read(spark, dest, schema).count() == 30, "every record landed")
    assert(led.pendingKeys() == Seq("other_op:xyz"), "foreign claim untouched")
  }

  test("credential provider: 401 until authed, provider re-resolved per attempt") {
    val (dest, led) = fresh()
    var secret = "stale-token"
    val served = scala.collection.mutable.ArrayBuffer.empty[String]
    def fetch(page: Int, perPage: Int, headers: Map[String, String]): Seq[String] = {
      served += headers.getOrElse("Authorization", "<none>")
      if (headers.get("Authorization") != Some("good-token"))
        throw new java.io.IOException("401 unauthorized")
      val from = (page - 1) * perPage
      (from until math.min(from + perPage, 15)).map(i => s"""{"id":$i,"body":"r"}""")
    }
    // first attempt sees the stale secret; rotation happens while the
    // run is in backoff, the retry re-resolves and succeeds
    val rep = PagedIngest.ingestAuth(fetch, dest, spark.sessionState.newHadoopConf(),
      led, headers = () => { val t = secret; secret = "good-token"; Map("Authorization" -> t) },
      perPage = 10, maxRetries = 3, sleep = _ => ())
    assert(rep.pagesFetched == 2 && rep.records == 15 && rep.retries == 1)
    assert(served.head == "stale-token" && served.tail.forall(_ == "good-token"))
  }

  test("ingest config validates env loudly; credential chain prefers the secret store") {
    val ex = intercept[IllegalArgumentException] { IngestConfig.fromEnv(Map.empty) }
    assert(ex.getMessage.contains(IngestConfig.ApiUrlKey)
      && ex.getMessage.contains(IngestConfig.StagingKey), "ALL missing keys reported")
    val cfg = IngestConfig.fromEnv(Map(
      IngestConfig.ApiUrlKey -> "https://example.test/wp-json?cat=1",
      IngestConfig.StagingKey -> "/tmp/staging",
      IngestConfig.SecretNameKey -> "feed-creds",
      IngestConfig.UserKey -> "env-user", IngestConfig.PassKey -> "env-pass"))
    // secret store wins over env
    val fromSecret = IngestConfig.credentialHeaders(cfg,
      name => { assert(name == "feed-creds"); Some(("su", "sp")) })()
    assert(fromSecret("Authorization") ==
      "Basic " + java.util.Base64.getEncoder.encodeToString("su:sp".getBytes("UTF-8")))
    // secret miss falls back to env pair
    val fromEnv = IngestConfig.credentialHeaders(cfg, _ => None)()
    assert(fromEnv("Authorization") ==
      "Basic " + java.util.Base64.getEncoder.encodeToString("env-user:env-pass".getBytes("UTF-8")))
    // nothing resolves → anonymous, with a warning (the reference warns
    // and continues, handler.py:99-104)
    val warnings = scala.collection.mutable.ArrayBuffer.empty[String]
    val anon = IngestConfig.credentialHeaders(cfg.copy(secretName = None,
      user = None, pass = None), _ => None, warnings += _)()
    assert(anon.isEmpty && warnings.nonEmpty)
    // a THROWING secret lookup degrades to the fallback, not a crash
    val degraded = IngestConfig.credentialHeaders(cfg,
      _ => throw new RuntimeException("store down"), warnings += _)()
    assert(degraded("Authorization").endsWith(
      java.util.Base64.getEncoder.encodeToString("env-user:env-pass".getBytes("UTF-8"))))
  }

  test("malformed records quarantine on read instead of failing the feed") {
    val (dest, led) = fresh()
    val feed = new FakeFeed(total = 20, mangle = _ == 7)
    PagedIngest.ingest(feed.fetch, dest, spark.sessionState.newHadoopConf(),
      led, perPage = 10, sleep = _ => ())
    val back = JsonLines.read(spark, dest, schema).cache()
    try {
      assert(back.count() == 20)
      assert(back.filter(col("_corrupt_record").isNotNull).count() == 1)
      assert(back.filter(col("_corrupt_record").isNull).count() == 19)
    } finally { back.unpersist(blocking = true); () }
  }
}
