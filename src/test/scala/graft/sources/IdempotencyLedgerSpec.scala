package graft.sources

import graft.SparkTestBase

class IdempotencyLedgerSpec extends SparkTestBase {

  private def freshLedger(): IdempotencyLedger =
    new IdempotencyLedger(graft.TempDirs.create("graft_ledger").toString,
      spark.sessionState.newHadoopConf())

  test("key lifecycle: absent -> pending -> complete, claims are exclusive") {
    val led = freshLedger()
    assert(led.begin("op:1"))
    assert(!led.begin("op:1"), "a pending key must not be claimable again")
    assert(led.pendingKeys() == Seq("op:1"))
    led.complete("op:1")
    assert(led.isComplete("op:1"))
    assert(!led.begin("op:1"), "a complete key must never be claimable")
    assert(led.pendingKeys().isEmpty)
  }

  test("exactly one of N concurrent claimants acquires a key") {
    val led = freshLedger()
    import scala.concurrent._
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    // repeat the race: the local-FS O_EXCL create must never admit two
    (1 to 8).foreach { i =>
      val wins = Await.result(
        Future.sequence((1 to 16).map(_ => Future(led.begin(s"hot:key:$i")))), 30.seconds)
      assert(wins.count(identity) == 1, s"key $i: expected exactly one winner, got $wins")
    }
  }

  test("withOperation: runs once, replays skip, failures release the claim") {
    val led = freshLedger()
    var writes = 0
    assert(led.withOperation("w:1") { writes += 1 })
    assert(!led.withOperation("w:1") { writes += 1 }, "replay must be skipped")
    assert(writes == 1 && led.isComplete("w:1"))
    // a failing write releases the claim so a retry can proceed
    intercept[RuntimeException] {
      led.withOperation("w:2") { sys.error("write blew up") }
    }
    assert(!led.isComplete("w:2") && led.pendingKeys().isEmpty)
    assert(led.withOperation("w:2") { writes += 1 })
    assert(writes == 2)
  }

  test("a crashed writer leaves a visible pending claim for recovery") {
    val led = freshLedger()
    assert(led.begin("crash:1")) // writer dies before complete()
    assert(led.pendingKeys() == Seq("crash:1"))
    // recovery path A: the write is found on disk -> mark complete
    led.complete("crash:1")
    assert(led.isComplete("crash:1"))
    // recovery path B: the write never landed -> abandon frees the key
    assert(led.begin("crash:2"))
    led.abandon("crash:2")
    assert(led.begin("crash:2"), "an abandoned key must be claimable again")
  }

  test("recover: landed pendings flip to complete, lost ones reopen") {
    val led = freshLedger()
    assert(led.begin("op:landed"))   // wrote, crashed before complete()
    assert(led.begin("op:lost"))     // crashed before the write landed
    val (completed, abandoned) = led.recover(_ == "op:landed")
    assert(completed == Seq("op:landed") && abandoned == Seq("op:lost"))
    assert(led.isComplete("op:landed"))
    assert(!led.withOperation("op:landed") { fail("must not re-run a landed op") })
    assert(led.begin("op:lost"), "a lost claim must be retryable after recovery")
  }

  test("TTL: expired complete markers free the key; fresh and pending survive") {
    // injectable clock: complete at t0, sweep with the clock advanced
    var clock = 1000000000L
    val led = new IdempotencyLedger(
      graft.TempDirs.create("graft_ledger_ttl").toString,
      spark.sessionState.newHadoopConf(), () => clock)
    val ttl = 24L * 3600 * 1000 // the reference's ttl_hours=24
    assert(led.withOperation("op:old") {})
    clock += ttl / 2
    assert(led.withOperation("op:fresh") {})
    assert(led.begin("op:pending")) // in-flight writer, never expires
    clock += ttl / 2 + 1 // op:old is now past TTL, op:fresh is not
    assert(led.expireCompleted(ttl) == Seq("op:old"))
    assert(!led.isComplete("op:old") && led.begin("op:old"),
      "an expired key must be claimable again (the DynamoDB-TTL contract)")
    assert(led.isComplete("op:fresh") && !led.begin("op:fresh"),
      "a fresh complete marker must survive the sweep")
    assert(led.pendingKeys().contains("op:pending"),
      "pending claims are the recovery worklist — never TTL-swept")
    // idempotent: a second sweep at the same clock finds nothing
    assert(led.expireCompleted(ttl).isEmpty)
  }

  test("ledger + IdempotentSink: the guarded write is exactly-once end to end") {
    val s = spark
    import s.implicits._
    val led = freshLedger()
    val target = graft.TempDirs.create("graft_ledger_t").toString + "/t.parquet"
    val batch = Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("k", "tie", "p")
    def attempt(): Boolean = led.withOperation("dump:page:1") {
      IdempotentSink.writeKeyed(batch, "k", "tie", target): Unit
    }
    assert(attempt())
    assert(!attempt() && !attempt(), "replayed operations must not re-write")
    assert(spark.read.parquet(target).count() == 2)
  }
}
