package graft

import org.apache.spark.sql.functions._

/** ANSI-mode posture (Spark 4 default: ANSI ON): errors are loud, and
  * the engine's safe paths are explicit — try_cast for lossy casts,
  * bit ops (not polynomial accumulation) for rolling hashes. */
class AnsiSpec extends SparkSpec {
  import spark.implicits._

  test("ANSI on: string→int cast of garbage throws; try_cast yields null") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val df = Seq("12", "abc").toDF("s")
    intercept[Exception] {
      df.select(col("s").cast("int")).collect()
    }
    val safe = df.select(col("s").try_cast("int")).as[Option[Int]].collect()
    assert(safe.toSet === Set(Some(12), None))
  }

  test("ANSI on: long overflow throws; the fingerprint's bit-op form doesn't") {
    intercept[Exception] {
      Seq(Long.MaxValue).toDF("v").select(col("v") * 2 + 1).collect()
    }
    // rotate-XOR fingerprint runs the same magnitudes without overflow
    val fp = Seq("a b c d e f g h").toDF("text")
      .select(graft.functions.GraftFunctions.rolling_fingerprint(col("text"))).collect()
    assert(fp.length == 1)
  }
}
