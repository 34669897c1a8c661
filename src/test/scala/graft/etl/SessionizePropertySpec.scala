package graft.etl

import graft.SparkTestBase
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._

/** Property-based check: the production sessionizer (`WodEtl.sessions`,
  * which every sessionizing `etl_*` lane runs) agrees with the
  * reference's pairwise list-walking (transforms.py:115,176) on
  * ARBITRARY token sequences, at the session and the segment level, not
  * just the fixture corpus. Random documents hit one-marker documents,
  * sessions with no segments and duplicate segment keys. */
class SessionizePropertySpec extends SparkTestBase {

  private val markers = Set("stream", "window")
  private val segMarkers = Set("agg", "sort", "merge")
  private val vocab = Gen.oneOf("stream", "window", "agg", "sort", "the",
    "data", "row", "key", "join", "merge")

  private def referenceGrouping(markers: Set[String], toks: List[String]): List[List[String]] = {
    val idx = toks.zipWithIndex.collect { case (t, i) if markers(t) => i }
    // True pairwise walk (transforms.py:19-30): a single marker yields
    // NO pairs, and the end-capture append is guarded on non-emptiness —
    // so one-marker docs produce zero groups.
    val pairs = idx.zip(idx.drop(1))
    if (pairs.isEmpty) Nil
    else (pairs :+ ((idx.last, toks.length))).map { case (a, b) => toks.slice(a, b) }
  }

  /** (doc, session) → (session text, last-wins segment key → value),
    * and (doc, session, segment) → (key, value). */
  private type Grouping =
    (Map[(Int, Long), (String, Map[String, String])], Map[(Int, Long, Long), (String, String)])

  private def reference(docs: List[List[String]]): Grouping = {
    val sessions = docs.zipWithIndex.flatMap { case (t, i) =>
      referenceGrouping(markers, t).zipWithIndex.map { case (g, gi) => ((i, gi + 1L), g) }
    }
    (sessions.map { case (k, g) =>
      k -> (g.mkString(" "), referenceGrouping(segMarkers, g).map(seg => seg.head -> seg.tail.mkString(" ")).toMap)
    }.toMap,
      sessions.flatMap { case ((i, si), g) =>
        referenceGrouping(segMarkers, g).zipWithIndex.map { case (seg, gi) =>
          (i, si, gi + 1L) -> (seg.head, seg.tail.mkString(" "))
        }
      }.toMap)
  }

  private def sparkGrouping(docs: List[List[String]]): Grouping = {
    val s = spark
    import s.implicits._
    val rows = WodEtl.sessions(docs.zipWithIndex.map { case (t, i) => (i, t.mkString(" ")) }
      .toDF("doc_id", "text"))
      .select(col("doc_id"), col("session_id"), col("session_text"), col("segments"), col("entries"))
      .collect()
    (rows.map(r => (r.getInt(0), r.getLong(1)) -> (r.getString(2), r.getMap[String, String](4).toMap)).toMap,
      rows.flatMap(r => r.getSeq[org.apache.spark.sql.Row](3).map(g =>
        (r.getInt(0), r.getLong(1), g.getLong(0)) -> (g.getString(1), g.getString(2)))).toMap)
  }

  test("WodEtl.sessions == reference pairwise walk on random input") {
    // lengths from 1 so short documents with one marker come up too
    val docGen = Gen.choose(1, 30).flatMap(Gen.listOfN(_, vocab))
    val corpusGen = Gen.listOfN(8, docGen).suchThat(_.forall(_.nonEmpty))
    val prop = Prop.forAllNoShrink(corpusGen) { docs =>
      sparkGrouping(docs) == reference(docs)
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, result.status.toString)
  }
}
