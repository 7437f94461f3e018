package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}

/** The batch-tagged sidecar format: the one exactly-once protocol of
  * every append-only parquet sidecar whose appender takes a
  * `batchId: Option[String]` (token and bigram counts, sketches,
  * histograms, postings + doclens, seeded-IVF vectors, Gram moments,
  * dedup digests and chunk keys). Each family's scaladoc names only
  * its replay keys and its merge and links here.
  *
  * Replay safety. An UNTAGGED append keeps the historical
  * at-least-once caveat: a replayed batch is appended twice, which
  * double-counts an additive sidecar and duplicates a set member or
  * an index row. Passing `batchId` (unique per logical batch, never
  * reused for different rows) retires it:
  *
  *  - every row carries the id in a non-null string column
  *    `batch_id`, the LAST column of every file ([[tag]], [[tagRow]]);
  *  - a sidecar is tagged from its first append or never
  *    ([[assertConsistent]]): parquet readers take the schema from a
  *    sample of files, so a mixed dir could silently drop the tag on
  *    read and with it every defense below;
  *  - reads keep ONE row per (batch_id, family keys) before merging
  *    ([[collapse]]). Replicas of a replayed append are deterministic
  *    recomputes of the same batch, so keeping any one is exact and
  *    the contract is exactly-once by construction;
  *  - membership reads can hide a set of batch ids ([[exclude]]): a
  *    crash replay hides its own partial appends, and a retraction
  *    tombstones a shard in O(1) until the next compaction drops its
  *    rows;
  *  - compaction collapses, applies the family's merge and re-tags
  *    the merged rows with the [[CompactedBatchId]] sentinel
  *    ([[compact]]). Compacted rows no longer carry their batch's
  *    identity, so compact only after in-flight batches are resolved
  *    ([[batchIds]] lists the ids present;
  *    [[graft.ops.CurationPipeline.compactState]] guards on it where
  *    a manifest exists).
  */
object TaggedSidecar {

  /** The tag column. */
  private val TagColumn = "batch_id"

  /** Sentinel batch id of compacted rows. Compaction rewrites the
    * whole dir, so at most one generation carries it at a time and
    * the collapse at read never merges two generations. */
  val CompactedBatchId = "__compacted__"

  private def isTagged(df: DataFrame): Boolean =
    df.schema.fieldNames.contains(TagColumn)

  /** Fails unless `dir` is tagged exactly when this append is: a
    * sidecar carries the tag from its first append or never. One
    * footer read per append, DRIVER-SIDE: under this guard's own
    * invariant every file in the dir agrees, so one footer is exact
    * (`spark.read.parquet(dir).schema` would run a parallel
    * schema-inference job for the same one bit). A missing dir, or one
    * holding no data file, passes: the next append defines it. */
  private[graft] def assertConsistent(spark: SparkSession, dir: String,
                                      tagged: Boolean, op: String): Unit =
    Sinks.firstFooter(spark, dir).foreach { footer =>
      val existingTagged = footer.getParquetMetadata.getFileMetaData
        .getSchema.containsField(TagColumn)
      require(existingTagged == tagged,
        s"$op: $dir is ${if (existingTagged) "batch-tagged" else "untagged"} " +
          s"but this append is ${if (tagged) "tagged" else "untagged"} — " +
          "a sidecar carries batch_id from its first append or never " +
          "(mixed parquet schemas can silently drop the tag on read)")
    }

  /** `df` with the tag appended as its last column; untagged appends
    * pass through. */
  def tag(df: DataFrame, batchId: Option[String]): DataFrame =
    batchId.foldLeft(df)((d, id) => d.withColumn(TagColumn, lit(id)))

  /** [[tag]] for a driver-side row: the tag is a non-null string
    * column, as `lit(id)` makes it. */
  private[graft] def tagRow(row: Row,
                            schema: org.apache.spark.sql.types.StructType,
                            batchId: Option[String])
      : (Row, org.apache.spark.sql.types.StructType) =
    batchId.fold((row, schema)) { id =>
      (Row.fromSeq(row.toSeq :+ id),
        schema.add(TagColumn, org.apache.spark.sql.types.StringType,
          nullable = false))
    }

  /** The usual append: guard, then the tagged frame written under the
    * dir lock. `frame` is built inside the lock. */
  def append(spark: SparkSession, dir: String, batchId: Option[String],
             op: String)(frame: => DataFrame): Unit = {
    assertConsistent(spark, dir, batchId.isDefined, op)
    Sinks.withDirLock(spark, dir, op) {
      tag(frame, batchId).write.mode("append").parquet(dir)
    }
  }

  /** The replay collapse on read: one row per (batch_id +: `keys`),
    * the tag dropped after, so readers see the untagged shape.
    * Untagged frames pass through. */
  def collapse(raw: DataFrame, keys: String*): DataFrame =
    if (isTagged(raw)) raw.dropDuplicates(TagColumn +: keys).drop(TagColumn)
    else raw

  /** `raw` without the rows of `batchIds`; untagged frames pass
    * through. */
  def exclude(raw: DataFrame, batchIds: Set[String]): DataFrame =
    if (batchIds.nonEmpty && isTagged(raw))
      raw.filter(
        !coalesce(col(TagColumn).isin(batchIds.toSeq: _*), lit(false)))
    else raw

  /** Compaction over [[Sinks.compactParquetDir]] (its lock, shaping
    * and backup swap): a tagged dir is collapsed on `keys`, merged by
    * `merge` and re-tagged with [[CompactedBatchId]]; an untagged dir
    * is only merged. Rows whose id starts with `carryPrefix` skip the
    * merge and keep their own ids (the Gram sidecar's deletion rows,
    * which a retried deletion must still collapse against). */
  def compact(spark: SparkSession, dir: String, keys: Seq[String],
              sortCol: Option[String] = None,
              partitionCols: Seq[String] = Nil,
              carryPrefix: Option[String] = None)
             (merge: DataFrame => DataFrame): Unit =
    Sinks.compactParquetDir(spark, dir, partitionCols = partitionCols,
      sortCol = sortCol,
      transform = Some { raw =>
        if (!isTagged(raw)) merge(raw)
        else {
          val collapsed = raw.dropDuplicates(TagColumn +: keys)
          val carried = carryPrefix.map(p => col(TagColumn).startsWith(p))
          val merged =
            merge(carried.fold(collapsed)(c => collapsed.filter(!c))
                .drop(TagColumn))
              .withColumn(TagColumn, lit(CompactedBatchId))
          carried.fold(merged)(c => merged.unionByName(
            collapsed.filter(c).select(merged.columns.map(col).toSeq: _*)))
        }
      })

  /** The id of one driver-side parquet row (`Sinks.readParquetRows`),
    * None when its file is untagged. */
  private[graft] def rowTag(row: org.apache.parquet.example.data.Group)
      : Option[String] =
    if (row.getType.containsField(TagColumn))
      Some(row.getString(TagColumn, 0))
    else None

  /** Batch ids present in a tagged sidecar (empty for untagged or
    * missing dirs), read DRIVER-SIDE: for a sidecar of one short row
    * per append, a Spark job (scan + distinct + collect) would pay
    * whole-job overhead for KBs of metadata. Taggedness is decided by
    * the first data file and every later file must agree: a mixed dir
    * fails loud instead of reading as untagged. */
  def batchIds(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val out = scala.collection.mutable.HashSet[String]()
    var tagged: Option[Boolean] = None
    for (f <- Sinks.listDataFiles(fs, p)) {
      val (schema, rows) = Sinks.readParquetRows(spark, f.getPath)
      val hasTag = schema.containsField(TagColumn)
      tagged match {
        case None => tagged = Some(hasTag)
        case Some(t) => require(t == hasTag,
          s"TaggedSidecar.batchIds: $dir mixes tagged and " +
            s"untagged parquet files (${f.getPath} is " +
            s"${if (hasTag) "tagged" else "untagged"}) — a sidecar " +
            "carries batch_id from its first append or never")
      }
      out ++= rows.flatMap(rowTag)
    }
    out.toSeq
  }
}
