package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Provenance columns: at 100 TB every record needs to know which
  * file it came from (sample-level lineage for dataset debugging and
  * takedown requests). Parquet scans expose this for free via the
  * hidden `_metadata` struct — no extra scan, no UDF. */
class MetadataColumnsSpec extends SparkSpec {

  test("_metadata file provenance rides the scan") {
    val df = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"),
        col("_metadata.file_name").as("src_file"),
        col("_metadata.file_size").as("src_size"))
    val rows = df.limit(5).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(1) == "orders.parquet"))
    assert(rows.forall(_.getLong(2) > 0))
  }

  test("row_index + file_path give a stable per-record provenance key") {
    val keys = Tables.region(spark, sf0001)
      .select(col("_metadata.file_path"), col("_metadata.row_index"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length, "provenance keys must be unique")
  }
}
