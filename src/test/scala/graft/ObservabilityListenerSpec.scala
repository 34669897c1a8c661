package graft

import org.apache.spark.sql.functions._

class ObservabilityListenerSpec extends SparkTestBase {

  private def drain[T](timeoutMs: Long)(probe: => Option[T]): Option[T] = {
    val deadline = System.currentTimeMillis + timeoutMs
    var r = probe
    while (r.isEmpty && System.currentTimeMillis < deadline) {
      Thread.sleep(50); r = probe
    }
    r
  }

  test("one JSON line per query action: tag, wall ms, shuffle bytes, status") {
    val s = spark.newSession()
    val (_, lines) = ObservabilityListener.buffering(s)
    // a query with a real shuffle so shuffle_write_bytes is non-zero
    ObservabilityListener.withTag(s, "obs_probe") {
      graft.Tables.orders(s, sf).groupBy("o_orderstatus").count().count(): Unit
    }
    import scala.jdk.CollectionConverters._
    val line = drain(10000) {
      lines.asScala.find(l => l.contains("\"tag\":\"obs_probe\""))
    }
    assert(line.nonEmpty, s"expected an observability line, got: ${lines.asScala.toList}")
    val l = line.get
    assert(l.contains("\"status\":\"ok\""))
    // parseable JSON with the declared fields and sane values
    def longField(name: String): Long =
      s""""$name":(-?\\d+)""".r.findFirstMatchIn(l).map(_.group(1).toLong)
        .getOrElse(fail(s"missing $name in $l"))
    assert(longField("ms") >= 0, "wall time must be recorded")
    assert(longField("shuffle_write_bytes") > 0,
      s"the groupBy shuffle must be visible in the metrics: $l")
    assert(longField("spill_bytes") >= 0)
  }

  test("failures emit an error line and never throw into the query path") {
    val s = spark.newSession()
    val (_, lines) = ObservabilityListener.buffering(s)
    import s.implicits._
    // a genuine RUNTIME failure (ANSI division by zero on real rows) —
    // analysis/optimizer-time errors never reach the execution listener
    s.conf.set("spark.sql.ansi.enabled", "true")
    ObservabilityListener.withTag(s, "obs_fail") {
      intercept[Exception] {
        Seq(1, 0).toDF("v").select((lit(10) / col("v")).as("boom")).count(): Unit
      }
    }
    import scala.jdk.CollectionConverters._
    val line = drain(10000) {
      lines.asScala.find(l => l.contains("\"tag\":\"obs_fail\"") &&
        l.contains("\"status\":\"error\""))
    }
    assert(line.nonEmpty,
      s"expected an error observability line, got: ${lines.asScala.toList}")
  }

  test("a tag holding a quote, newline and tab still yields one line that parses") {
    val s = spark.newSession()
    val (_, lines) = ObservabilityListener.buffering(s)
    val tag = "obs \"odd\"\n\ttag\\"
    ObservabilityListener.withTag(s, tag) { s.range(3).collect(): Unit }
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val line = drain(10000) {
      lines.asScala.find(l => l.contains("obs \\\"odd"))
    }
    assert(line.nonEmpty, s"expected an observability line, got: ${lines.asScala.toList}")
    assert(!line.get.contains('\n'), line.get)
    val rec = mapper.readTree(line.get)
    assert(rec.get("tag").asText == tag && rec.get("status").asText == "ok", line.get)
  }

  test("Json.str round-trips every char below 0x80 through a JSON parser") {
    val all = (0 until 0x80).map(_.toChar).mkString + "héllo"
    val back = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Json.str(all))
    assert(back.isTextual && back.asText == all)
  }
}
