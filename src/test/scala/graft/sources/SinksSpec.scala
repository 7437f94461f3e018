package graft.sources

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SinksSpec extends SparkSpec {

  test("ingestCsvBytes persists uploaded bytes and re-scans them (S3)") {
    val bytes = Files.readAllBytes(
      java.nio.file.Paths.get(Tables.LoanCsvPath))
    val dest = Files.createTempDirectory("ingest").resolve("upload.csv")
    val df = Sinks.ingestCsvBytes(spark, bytes, dest.toString)
    assert(df.count() === 999)
    assert(df.schema === Tables.loanSchema)
  }

  test("partitioned write prunes directories on partition-column filters") {
    val dir = Files.createTempDirectory("events_part").toString + "/events"
    Sinks.writePartitioned(
      Tables.events(spark, sf0001).withColumn("ts", col("ts").cast("string")),
      dir, "event_type")
    // one subdirectory per event_type
    val subdirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("event_type=")).map(_.getName).sorted
    assert(subdirs.length === 5)

    val back = spark.read.parquet(dir).filter(col("event_type") === "click")
    val planStr = back.queryExecution.executedPlan.toString
    // the click filter must appear as a partition filter, not a data filter
    assert(planStr.contains("PartitionFilters") &&
      planStr.contains("event_type"), planStr.take(500))
    assert(back.count() ===
      Tables.events(spark, sf0001).filter(col("event_type") === "click").count())
  }

  test("JSON and ORC roundtrips preserve rows and values") {
    val base = Tables.customer(spark, sf0001)
    val jdir = Files.createTempDirectory("json_rt").toString + "/c"
    val odir = Files.createTempDirectory("orc_rt").toString + "/c"
    Sinks.writeJson(base, jdir)
    Sinks.writeOrc(base, odir)
    val viaJson = Sinks.readJson(spark, jdir, base.schema)
    val viaOrc = spark.read.orc(odir)
    assert(viaJson.count() === base.count())
    assert(viaOrc.count() === base.count())
    assert(viaJson.except(base).count() === 0)
    assert(viaOrc.except(base).count() === 0)
    // ORC scans push filters like parquet
    val plan = viaOrc.filter(col("c_custkey") === 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("c_custkey"))
  }

  test("compactParquetDir auto-recovers a crash-stranded backup instead of deleting it") {
    val dir = Files.createTempDirectory("compact_rec").toString + "/side"
    val df = Tables.region(spark, sf0001)
    df.write.parquet(dir)
    val expected = spark.read.parquet(dir).count()
    // simulate a crash between rename(path -> bak) and rename(tmp -> path):
    // the live dir is gone, bak holds the only copy
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__compact_bak")))
    // the natural retry must restore the backup and compact it -- the
    // pre-fix behavior deleted bak first (permanent data loss)
    Sinks.compactParquetDir(spark, dir)
    assert(spark.read.parquet(dir).count() === expected)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "__compact_bak")))
  }

  test("compactParquetDir refuses to run when neither dir nor backup exists") {
    val dir = Files.createTempDirectory("compact_none").toString + "/missing"
    val e = intercept[IllegalArgumentException] {
      Sinks.compactParquetDir(spark, dir)
    }
    assert(e.getMessage.contains("refusing"))
  }

  test("listDataFiles follows Spark's hidden-path rule: a `_col=value` " +
      "partition dir is data; `_temporary`, dot-prefixed and `._COPYING_` " +
      "files stay hidden") {
    val dir = Files.createTempDirectory("graft-list")
    Seq("_shard_id=a/part-0.parquet",
        "_temporary/0/_temporary/attempt_0/part-1.parquet",
        "_shard_id=a/.part-2.parquet.inprogress",
        ".x.inprogress",
        "part-3.parquet._COPYING_",
        "_SUCCESS").foreach { rel =>
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, Array[Byte](1))
    }
    val path = new org.apache.hadoop.fs.Path(dir.toString)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = Sinks.listDataFiles(fs, path)
      .map(f => dir.relativize(java.nio.file.Paths.get(f.getPath.toUri)).toString)
    assert(listed === Seq("_shard_id=a/part-0.parquet"))
  }

  test("listDataFiles lists the paths, in the order, that the listFiles walk it " +
      "replaced gives") {
    val dir = Files.createTempDirectory("graft-list-order")
    Seq("part-0.parquet", "_SUCCESS", ".part-0.parquet.crc",
        "_temporary/0/_temporary/attempt_0/part-1.parquet", "_temporary/0/part-2.parquet",
        ".hidden/part-3.parquet", "b=1/part-4.parquet", "b=1/c=x/part-5.parquet",
        "b=1/_SUCCESS", "b=1/.part-4.parquet.crc", "b=2/part-6.parquet",
        "a=0/part-7.parquet", "empty/part-8.parquet", "part-9.parquet").foreach { rel =>
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, if (rel.startsWith("empty/")) Array.emptyByteArray else Array[Byte](1))
    }
    val path = new org.apache.hadoop.fs.Path(dir.toString)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the former body: every file of `fs.listFiles(dir, true)` with no
    // hidden component below `dir`
    val base = fs.makeQualified(path)
    def hiddenUnderBase(p: org.apache.hadoop.fs.Path): Boolean =
      Iterator.iterate(p)(_.getParent).takeWhile(c => c != null && c != base)
        .exists { c => val n = c.getName
          (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_") }
    val it = fs.listFiles(base, true)
    val former = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(f => f.isFile && f.getLen > 0 && !hiddenUnderBase(fs.makeQualified(f.getPath)))
      .map(_.getPath).toList
    assert(former.size === 6)
    assert(Sinks.listDataFiles(fs, path).map(_.getPath) === former)
    // a data file given as the path lists as itself
    val file = new org.apache.hadoop.fs.Path(path, "part-0.parquet")
    assert(Sinks.listDataFiles(fs, file).map(_.getPath) === Seq(fs.makeQualified(file)))
  }

  test("Tables.table reads a table rewritten with a new schema in the same " +
      "JVM with that schema, never the old one's nulls") {
    import spark.implicits._
    val sf = Files.createTempDirectory("graft-rewrite").toString
    val path = s"$sf/t.parquet"
    Seq((1L, "x")).toDF("id", "b").write.parquet(path)
    val first = Tables.table(spark, sf, "t")
    assert(first.schema === spark.read.parquet(path).schema)
    assert(first.collect().map(_.toString).toSeq === Seq("[1,x]"))
    Seq((2L, "y")).toDF("id", "c").write.mode("overwrite").parquet(path)
    val again = Tables.table(spark, sf, "t")
    assert(again.schema === spark.read.parquet(path).schema)
    assert(again.collect().map(_.toString).toSeq === Seq("[2,y]"))
  }

  test("withDirLock: a second concurrent writer fails loud with the holder's identity") {
    val dir = Files.createTempDirectory("lock").toString + "/side"
    Sinks.withDirLock(spark, dir, "outer") {
      val e = intercept[IllegalStateException] {
        Sinks.withDirLock(spark, dir, "inner") { fail("must not run") }
      }
      assert(e.getMessage.contains("locked by another writer"))
      assert(e.getMessage.contains("outer@"))
    }
    // released on completion: a later writer proceeds
    assert(Sinks.withDirLock(spark, dir, "later") { 42 } === 42)
  }

  test("withDirLock: released when the body throws; stale markers clear via breakDirLock") {
    val dir = Files.createTempDirectory("lock2").toString + "/side"
    intercept[RuntimeException] {
      Sinks.withDirLock(spark, dir, "failing") { throw new RuntimeException("boom") }
    }
    // body failure released the lock (replays are idempotent per appender)
    Sinks.withDirLock(spark, dir, "retry") { () }
    // a hard-crash marker (simulated by creating the file) blocks until broken
    val lock = new org.apache.hadoop.fs.Path(dir + ".lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(lock, false).close()
    intercept[IllegalStateException] {
      Sinks.withDirLock(spark, dir, "blocked") { () }
    }
    assert(Sinks.breakDirLock(spark, dir))
    Sinks.withDirLock(spark, dir, "after-break") { () }
  }

  test("bucketed tables co-locate and drop the join exchange") {
    val o = Tables.orders(spark, sf0001)
    Bucketing.writeBucketedTable(o, "orders_bucketed",
      Files.createTempDirectory("orders_bucketed").toString,
      bucketCols = Seq("o_custkey"), numBuckets = 4,
      sortCols = Seq("o_custkey"))
    val t = Bucketing.table(spark, "orders_bucketed")
    val agg = t.groupBy(col("o_custkey")).agg(sum(col("o_totalprice")))
    // bucketed layout satisfies the aggregation's distribution: no Exchange
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(o_custkey"), plan.take(800))
    assert(agg.count() === o.select("o_custkey").distinct().count())
  }
}
