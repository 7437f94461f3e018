package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.LongType

/** Declared-scale bench: times the most expensive queries against a
  * synthetic N× blow-up of the input scale factor to catch plans that
  * only LOOK linear at bench size (a quadratic candidate generator or
  * an accidentally-unpartitioned window is invisible at 600 k rows and
  * fatal at 100 TB).
  *
  * Blow-up construction: each FACT table becomes the union of N
  * re-keyed copies — every int64 `*key` / `*_id` column is shifted by
  * `copy * 2^33` so copies never collide and FK relationships stay
  * intact WITHIN a copy (lineitem copy 3 joins orders copy 3). The
  * tiny int32-keyed dimensions (region, nation) are NOT replicated —
  * scaling a corpus 10× grows customers-per-nation, not nations, so
  * group-by-dimension cardinalities stay fixed while fact rows scale,
  * exactly like a real scale-up. Non-key payloads (text, embeddings,
  * timestamps) are copied verbatim, which makes the blown corpus a
  * 10×-duplicated one — deliberately adversarial for the dedup /
  * similarity family: every LSH bucket, minhash band, and chunk-hash
  * group is 10× denser, so candidate generation that is secretly
  * quadratic in duplication density shows up immediately.
  *
  * `events.ts` replication preserves whatever encoding the source
  * files carry (the current TIMESTAMP_NTZ micros roundtrips
  * byte-exactly); [[graft.sources.Tables.normalizeEventTs]] dispatches
  * on the blown copy's footer, so query code is unchanged either way.
  *
  * Each selected query runs `SPARK_GRAFT_BENCH_RUNS`-min (default
  * min-of-2) at the base SF and at the blow-up; the artifact reports
  * seconds at both plus `ratio`, and names every query whose ratio
  * exceeds `copies × 1.5` as super-linear (1.5 = slack for the extra
  * shuffle waves 32 fixed partitions take at 10× the data).
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_SCALE_COPIES
  * (default 10), SPARK_GRAFT_BENCH_RUNS (default 2),
  * SPARK_GRAFT_SCALEBENCH_QUERIES (comma list; default = the pinned
  * most-expensive set from the round-5/6 bench).
  */
object ScaleBench {

  /** int64 `*key` / `*_id` columns — the shard-scale identifiers. The
    * int32 keys (nationkey, regionkey, linenumber) are dimension /
    * intra-row ids and keep their values in every copy. */
  private def shiftCols(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.schema.fields.collect {
      case f if f.dataType == LongType &&
        (f.name.endsWith("key") || f.name.endsWith("_id")) => f.name
    }.toSeq

  /** The replicated fact tables; region/nation stay single-copy. */
  private val FactTables = Seq("customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def materialize(spark: SparkSession, sfDir: String, outDir: String,
                  copies: Int): Unit = {
    // SPARK_GRAFT_SCALE_REUSE=1 skips re-materializing an existing
    // blow-up dir (the copies are deterministic, so reuse is exact)
    if (sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1") &&
        new java.io.File(s"$outDir/lineitem.parquet").exists()) return
    // The plain spark.read below must be able to open a contract-legal
    // legacy INT64-nanos events footer; harmless for micros/NTZ files
    // (round-9 ADVICE — this conf was dropped in a refactor).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.sources.Tables.allTables.foreach { t =>
      val base = spark.read.parquet(s"$sfDir/$t.parquet")
      val n = if (FactTables.contains(t)) copies else 1
      val stride = 1L << 33
      val blown = (0 until n).map { i =>
        shiftCols(base).foldLeft(base) { (df, c) =>
          df.withColumn(c, col(c) + lit(i * stride))
        }
      }.reduce(_ unionByName _)
      blown.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** Pinned default: the most expensive queries of the full bench,
    * one per operator family it stresses (joins, window ranks, listagg
    * shuffles, NOT IN anti-join, ORC IO, minhash LSH, batch k-NN in
    * exact + LSH form, CC clustering, the composed curation
    * pipeline). */
  private val DefaultQueries = Seq(
    "q72_salted_join", "q65_in_subquery", "q62_listagg",
    "q25_minhash_pairs", "q59_topk_custom_op", "q04_large_join",
    "q96_pipeline_e2e", "q122_knn_join_exact", "q120_knn_join_lsh",
    "q103_dedup_clusters", "q131_curation_pipeline",
    "q130_knn_join_ivf_stored", "q132_ivf_append",
    "q134_semantic_dedup", "q136_neardup_sidecar", "q142_balance_classes",
    "q143_streaming_curation",
    // q151: occurrence-compressed tf join; q155: per-distinct-word BPE
    // encode + count join (merge table memoized — q155 times the
    // distributed pipeline, not the fit; q154's own timing is the
    // memoized-artifact behavior, like q30's cached model)
    "q151_token_rarity", "q155_bpe_token_counts",
    // q157: corpus rewrite (two corpus-sized shuffles by design);
    // q159: IVFPQ build + pruned code-scan query (assign, encode and
    // writes run per invocation — the honest stored-index cost, like
    // q130; the centroid and codebook fits are memoized per corpus)
    "q157_remove_dup_spans", "q159_knn_join_ivfpq_stored")

  /** Stored-index queries timed in two phases (round-9 verdict ask):
    * the one-time index BUILD is corpus-linear by design, so its 100×
    * ratio is expected to be ~copies×; the per-batch PROBE is the
    * number that must stay flat — and inside a single combined ratio a
    * probe regression could hide under the dominant build term. Each
    * entry maps to a (build, probe) closure pair exposed by the query
    * definition itself, so the split times exactly what the registered
    * query runs. */
  private val SplitQueries: Map[String, (SparkSession, String) =>
      (() => Unit, () => org.apache.spark.sql.DataFrame)] = Map(
    "q130_knn_join_ivf_stored" -> (graft.queries.ScaleQueries.q130Parts _),
    "q132_ivf_append" -> (graft.queries.ScaleQueries.q132Parts _),
    "q159_knn_join_ivfpq_stored" -> (graft.queries.CorpusQueries.q159Parts _),
    "q175_ivf_stored_seeded" -> (graft.queries.SeededAnnQueries.q175Parts _),
    "q182_ivf_append_seeded" -> (graft.queries.SeededAnnQueries.q182Parts _),
    "q179_bm25_sidecar" -> (graft.queries.RetrievalQueries.q179Parts _))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // ALL = full-registry linearity map; otherwise a comma list or the
    // pinned most-expensive default
    val names = sys.env.get("SPARK_GRAFT_SCALEBENCH_QUERIES") match {
      case Some("ALL") => SparkEntry.queries.keys.toSeq.sorted
      case Some(list) => list.split(",").map(_.trim).toSeq
      case None => DefaultQueries
    }
    val outDir = s"target/tmp/scalebench_x$copies"

    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    materialize(spark, sfDir, outDir, copies)

    // a failed run reports -1 rather than aborting the sweep (a
    // full-registry map must survive one bad query)
    def time(name: String, dir: String): Double = {
      val fn = SparkEntry.queries(name)
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, dir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[scalebench] $name @ $dir FAILED: ${e.getMessage}")
          -1.0
        }
      }
      if (ts.exists(_ < 0)) -1.0 else ts.min
    }

    // (buildSec, probeSec) for the stored-index split queries; the min
    // of each PHASE across runs (run 1 may pay a memoized-codebook fit
    // the later runs don't — min reports the steady state either way)
    def timeSplit(name: String, dir: String): (Double, Double) = {
      val parts = SplitQueries(name)
      val ts = (1 to runs).map { _ =>
        try {
          val (build, probe) = parts(spark, dir)
          val t0 = System.nanoTime()
          build()
          val t1 = System.nanoTime()
          probe().count()
          val t2 = System.nanoTime()
          ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[scalebench] $name @ $dir FAILED: ${e.getMessage}")
          (-1.0, -1.0)
        }
      }
      if (ts.exists(t => t._1 < 0 || t._2 < 0)) (-1.0, -1.0)
      else (ts.map(_._1).min, ts.map(_._2).min)
    }

    final case class Row(name: String, base: Double, blown: Double,
        ratio: Double, split: Option[(Double, Double, Double, Double)])

    val rows = names.filter(SparkEntry.queries.contains).map { name =>
      val row = if (SplitQueries.contains(name)) {
        val (bb, bp) = timeSplit(name, sfDir)
        val (xb, xp) = timeSplit(name, outDir)
        val base = if (bb < 0) -1.0 else bb + bp
        val blown = if (xb < 0) -1.0 else xb + xp
        val ratio = if (base > 0 && blown >= 0) blown / base else -1.0
        Row(name, base, blown, ratio, Some((bb, bp, xb, xp)))
      } else {
        val base = time(name, sfDir)
        val blown = time(name, outDir)
        val ratio = if (base > 0 && blown >= 0) blown / base else -1.0
        Row(name, base, blown, ratio, None)
      }
      // hygiene between queries (see Bench): one query's checkpoint /
      // broadcast residue must not be charged to the next; blocking
      // unpersist so removal can't race the next query's allocations
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
      row
    }
    val superlinear = rows.collect {
      // a split query is flagged on its PROBE ratio — the build is
      // corpus-linear by design and ~copies× is its expected ratio
      case Row(n, _, _, r, None) if r > copies * 1.5 => n
      case Row(n, _, _, _, Some((bb, bp, _, xp)))
        if bb >= 0 && bp > 0 && xp / bp > copies * 1.5 => n
    }
    val errors = rows.collect { case Row(n, b, x, _, _) if b < 0 || x < 0 => n }
    val qs = rows.map {
      case Row(n, b, x, r, None) =>
        f"""\"$n\":{\"base_sec\":$b%.3f,\"x${copies}_sec\":$x%.3f,\"ratio\":$r%.2f}"""
      case Row(n, b, x, r, Some((bb, bp, xb, xp))) =>
        val br = if (bb > 0 && xb >= 0) xb / bb else -1.0
        val pr = if (bp > 0 && xp >= 0) xp / bp else -1.0
        f"""\"$n\":{\"base_sec\":$b%.3f,\"x${copies}_sec\":$x%.3f,\"ratio\":$r%.2f,""" +
          f"""\"build_base_sec\":$bb%.3f,\"probe_base_sec\":$bp%.3f,""" +
          f"""\"build_x${copies}_sec\":$xb%.3f,\"probe_x${copies}_sec\":$xp%.3f,""" +
          f"""\"build_ratio\":$br%.2f,\"probe_ratio\":$pr%.2f}"""
    }.mkString("{", ",", "}")
    val sl = superlinear.map("\"" + _ + "\"").mkString("[", ",", "]")
    val er = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"scalebench","copies":$copies,"runs":$runs,""" +
      s""""queries":$qs,"superlinear":$sl,"errors":$er,"sf":"$sfDir"}""")
    spark.stop()
  }
}
