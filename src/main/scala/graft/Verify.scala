package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure posture (round-10 lesson — a silent schema drift took out 17
  * queries and the artifact still read all-green):
  *  - a preflight asserts the testdata contract up front and names the
  *    drifted table.column in ONE clear message;
  *  - a failed query writes an `_ERROR.txt` manifest into its dump dir
  *    instead of nothing, so the compare sees a present-but-empty dump
  *    and reports a failure rather than silently skipping the key.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: verify a comma-separated query subset (dev loop)
    val only: Option[String] = args.lift(2)
    // the bench's own session: the gate checks the plans Bench times
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    // Testdata-contract preflight: on drift, emit ONE named error (to
    // stderr and the out dir) — then still attempt every query, so one
    // drifted table costs its consumers, not the whole artifact.
    val drift = Preflight.check(spark, sfDir)
    if (drift.nonEmpty) {
      val msg = "TESTDATA CONTRACT DRIFT at " + sfDir + ":\n  " + drift.mkString("\n  ")
      System.err.println(s"[verify] $msg")
      Files.writeString(Paths.get(s"$outDir/_PREFLIGHT_DRIFT.txt"), msg): Unit
    }
    // partial-run marker: the compare tool skips its MISSING_DUMP
    // backstop when a single-query dev run declares itself partial —
    // otherwise every `only` run fails with ~100 bogus missing entries
    only.foreach(n =>
      Files.writeString(Paths.get(s"$outDir/_ONLY.txt"), n + "\n"): Unit)
    def clearRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(clearRec))
      f.delete(): Unit
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.split(",").contains(name)) }
      .foreach { case (name, fn) =>
      // clear the per-query dir first: a stale _ERROR.txt (or any prior
      // content) must not survive into this run's dump
      clearRec(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // error manifest: dump dir exists but holds no parquet -> the
        // compare reports the key as FAILED instead of dropping it
        try {
          new java.io.File(s"$outDir/$name").mkdirs()
          Files.writeString(Paths.get(s"$outDir/$name/_ERROR.txt"),
            s"$name failed: ${e}\n" +
              (if (drift.nonEmpty) "note: testdata contract drift detected — see _PREFLIGHT_DRIFT.txt\n" else "")): Unit
        } catch { case _: Throwable => () }
      }
    }
    // every value escaped (Json.str): a tab or CR in the SQL would
    // otherwise make a json.load of oracle_sql.json fail
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
