package graft.sources

import graft.SparkSpec
import graft.ops._
import org.apache.spark.sql.functions._

/** Pins the on-disk layout of every batch-tagged sidecar family: each
  * data file's columns (names, order, types) with `batch_id` last,
  * before and after compaction, and the ids compaction leaves. */
class TaggedSidecarSpec extends SparkSpec {

  /** `name:type` columns of every data file under `dir`, one entry per
    * distinct layout (a partitioned dir's files hold no partition
    * column). */
  private def layouts(dir: String): Set[Seq[String]] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Sinks.listDataFiles(fs, p).map { f =>
      spark.read.parquet(f.getPath.toString).schema.fields.toSeq
        .map(c => s"${c.name}:${c.dataType.simpleString}")
    }.toSet
  }

  private def ids(dir: String): Set[String] =
    spark.read.parquet(dir).select(col("batch_id")).distinct()
      .collect().map(_.getString(0)).toSet

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/side"

  /** Checks the layout of what was appended, compacts, then checks
    * the layout again and the ids compaction left. */
  private def pin(dir: String, layout: Seq[String], compacted: Set[String])
                 (compact: => Unit): Unit = {
    assert(layouts(dir) === Set(layout), dir)
    compact
    assert(layouts(dir) === Set(layout), dir)
    assert(ids(dir) === compacted, dir)
  }

  private lazy val docs = {
    val s = spark; import s.implicits._
    Seq((1L, "a b c a b d"), (2L, "b c d e f g"), (3L, "a b c a b d"))
      .toDF("doc_id", "text")
  }

  private val Compacted = Set(TaggedSidecar.CompactedBatchId)

  test("the compacted sentinel is the string __compacted__") {
    assert(TaggedSidecar.CompactedBatchId === "__compacted__")
  }

  test("token and bigram count sidecars") {
    val tok = tmp("tok")
    Curation.writeTokenCountSidecar(docs, "text", tok, Some("b0"))
    pin(tok, Seq("w:string", "cnt:bigint", "batch_id:string"), Compacted) {
      Curation.compactTokenCountSidecar(spark, tok)
    }
    val bg = tmp("bigram")
    TextAnalysis.writeBigramCountSidecar(docs, "text", bg, Some("b0"))
    pin(bg, Seq("w1:string", "w2:string", "c12:bigint", "batch_id:string"),
        Compacted) {
      TextAnalysis.compactBigramSidecar(spark, bg)
    }
  }

  test("sketch and histogram sidecars") {
    val vals = docs.withColumn("g", col("doc_id") % 2)
    val sk = tmp("sketch")
    Sketches.writeSketchSidecar(vals, Seq("g"), "text", sk,
      batchId = Some("b0"))
    pin(sk, Seq("g:bigint", "n_rows:bigint", "sketch:binary",
        "batch_id:string"), Compacted) {
      Sketches.compactSketchSidecar(spark, sk, Seq("g"))
    }
    val hist = tmp("hist")
    Sketches.writeHistSidecar(vals, Seq("g"), "doc_id", hist, 0.0, 4.0, 4,
      batchId = Some("b0"))
    assert(layouts(hist) === Set(Seq("g:bigint", "bin:bigint", "cnt:bigint",
      "batch_id:string")))
  }

  test("postings and doclen sidecars") {
    val dir = java.nio.file.Files.createTempDirectory("postings").toString
    Retrieval.writePostingsSidecar(docs, dir, batchId = Some("b0"))
    val doclen = s"$dir/doclen"
    assert(layouts(doclen) === Set(Seq("doc_id:bigint", "dl:bigint",
      "batch_id:string")))
    pin(s"$dir/postings", Seq("term:string", "doc_id:bigint", "tf:bigint",
        "batch_id:string"), Compacted) {
      Retrieval.compactPostingsSidecar(spark, dir)
    }
    assert(layouts(doclen) === Set(Seq("doc_id:bigint", "dl:bigint",
      "batch_id:string")))
    assert(ids(doclen) === Compacted)
  }

  test("seeded-IVF vectors") {
    val s = spark; import s.implicits._
    val emb = (0 until 8).map(i => (i.toLong, Seq(i * 0.1, 1.0 - i * 0.1)))
      .toDF("vec_id", "embedding")
    val idx = tmp("ivf")
    SeededKMeans.buildIvfIndexSeeded(emb.filter($"vec_id" < 4), "vec_id",
      "embedding", idx, nlist = 2, iters = 2, batchId = Some("base"))
    SeededKMeans.appendToIvfIndexSeeded(spark, idx,
      emb.filter($"vec_id" >= 4), "vec_id", "embedding", Some("b1"))
    pin(s"$idx/vectors", Seq("vec_id:bigint", "vec:array<double>",
        "batch_id:string"), Compacted) {
      SeededKMeans.compactIvfVectorsSeeded(spark, idx)
    }
  }

  test("Gram moments: Spark, deletion and driver-side appends") {
    val s = spark; import s.implicits._
    val scaled = LinearProbe.scaled(
      Seq((1L, 1L, 2L, 1L), (2L, 3L, 1L, 0L), (3L, 2L, 2L, 1L))
        .toDF("id", "x1", "x2", "y"),
      Seq("x1", "x2"), col("y"))
    val dir = tmp("gram")
    LinearProbe.writeGramSidecar(scaled, 3, dir, Some("b0"))
    LinearProbe.writeGramDeletion(scaled.filter($"id" === 1L), 3, dir,
      Some("__del__:b0"))
    val agg = LinearProbe.gramAggDf(scaled, 3)
    LinearProbe.appendGramMomentRow(spark, agg.collect()(0), agg.schema,
      dir, Some("b1"))
    val moments = Seq("n:bigint") ++
      (for (i <- 0 until 3; j <- i until 3) yield s"g_${i}_$j:decimal(38,0)") ++
      (0 until 3).map(i => s"b_$i:decimal(38,0)")
    pin(dir, moments :+ "batch_id:string",
        Compacted + "__del__:b0") {
      LinearProbe.compactGramSidecar(spark, dir, 3)
    }
  }

  test("digest and chunk-key sidecars keep their tags through compaction") {
    val fps = tmp("digests")
    Dedup.dedupAgainstSidecar(docs, "text", "doc_id", fps,
      batchId = Some("b0")).collect()
    pin(fps, Seq("fp:string", "batch_id:string"), Set("b0")) {
      Dedup.compactSidecar(spark, fps)
    }
    val cks = tmp("chunks")
    Dedup.removeDuplicateSpansAgainstSidecar(docs, "text", "doc_id", cks,
      chunkTokens = 2, batchId = Some("b0")).collect()
    pin(cks, Seq("ck:string", "batch_id:string"), Set("b0")) {
      Dedup.compactChunkKeySidecar(spark, cks)
    }
  }
}
