package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // pre-flight: fail ONCE with a named diff if the testdata's storage
    // drifted (round-7: 17 opaque per-query errors for one ts change)
    graft.sources.TestdataContract.assertContract(spark, sfDir)
    // wipe stale outputs: a renamed/removed query must not leave its
    // old dump behind to be compared (or "pass" rows-only) on rerun
    val outRoot = new java.io.File(outDir)
    if (outRoot.exists) {
      // listFiles returns null for a non-directory or on I/O error —
      // guard both call sites or the wipe NPEs before mkdirs
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(); ()
      }
      Option(outRoot.listFiles).foreach(_.foreach(rm))
    }
    outRoot.mkdirs()
    // local-iteration filter (unset for the driver's full run):
    // SPARK_GRAFT_VERIFY_ONLY=q103_dedup_clusters,q104_... dumps just those
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the oracle dump honors the same filter: oracle SQL is built on
    // access (QueryDef's lazy-oracle contract), so a fixture-backed
    // query's missing fixture must not fail a VERIFY_ONLY run of an
    // unrelated query here either
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
