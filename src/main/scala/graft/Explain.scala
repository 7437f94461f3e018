package graft

/** Plan-inspection utility: prints the formatted physical plan of each
  * registered query (or a named subset) so scan pruning / pushdown /
  * join strategy / codegen spans can be reviewed.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    // SPARK_GRAFT_EXPLAIN_EXECUTED=1 (optimization round 19): run the
    // query first and print the FINAL adaptive plan — `explain` before
    // execution shows the initial plan (isFinalPlan=false), which
    // hides AQE's join-strategy rewrites and coalesced reads; the
    // bench runs at local[32]/32 shuffle partitions, so plan review at
    // those settings sees what the bench actually executes.
    val executed = sys.env.contains("SPARK_GRAFT_EXPLAIN_EXECUTED")
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.isEmpty || names(name)) {
        println(s"\n========== $name ==========")
        try {
          val df = fn(spark, sfDir)
          if (executed) {
            // run THIS QueryExecution to completion (count()/noop spawn
            // a separate execution whose adaptive plan finalizes while
            // df's own stays initial), then print the FINAL plan
            val qe = df.queryExecution
            qe.executedPlan.execute().foreachPartition(
              (_: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => ())
            println(qe.executedPlan.toString)
          } else df.explain("formatted")
        }
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
