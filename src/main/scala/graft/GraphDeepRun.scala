package graft

import org.apache.spark.sql.functions._

/** One-shot deep-iteration harness for the PageRank production path
  * (round-10 verdict ask #3): the bench registry runs [[graft.ops
  * .Graph.pageRankFp]] at its 5-iteration default, where the lazy
  * plan chain is Catalyst-friendly; the documented 100 TB path for
  * deep runs is `checkpointEvery` — truncate the node-sized rank
  * table's lineage every N iterations so plan depth stays bounded.
  * This main exercises that path at iters ≥ 15 over the real
  * co-purchase graph (q188's own edge derivation) at
  * `SPARK_GRAFT_SF_DIR`, times ckpt=5 against the uncut ckpt=0 chain,
  * asserts the two rank vectors are BIT-IDENTICAL (the fixed-point
  * arithmetic contract — the knob bounds plan depth, never results),
  * and prints one JSON line for the round artifact.
  *
  * Not part of the query registry: this is measurement harness (the
  * [[Faults]] discipline), not an operator. */
object GraphDeepRun {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_PR_ITERS", "16").toInt
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val Off = 1L << 41
    def edges = {
      val pairs = graft.sources.Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_suppkey")
        .join(graft.sources.Tables.orders(spark, sfDir)
          .select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      pairs.select(col("cust").as("src"), (col("supp") + Off).as("dst"))
        .unionByName(
          pairs.select((col("supp") + Off).as("src"), col("cust").as("dst")))
    }

    def run(ckpt: Int): (Double, Long, Long) = {
      val t0 = System.nanoTime()
      val ranks = graft.ops.Graph.pageRankFp(edges, "src", "dst",
        iters = iters, checkpointEvery = ckpt)
      // order-free digest of the full rank vector: equality of the two
      // runs is checked on every node's exact rank, not a sample
      val row = ranks.agg(
        sum(crc32(concat_ws(":", col("node"), col("rank_fp")))).as("digest"),
        count(lit(1)).as("n")).collect()(0)
      ((System.nanoTime() - t0) / 1e9, row.getLong(0), row.getLong(1))
    }

    val (tCkpt, dCkpt, nCkpt) = run(5)
    val (tLazy, dLazy, nLazy) = run(0)
    require(dCkpt == dLazy && nCkpt == nLazy,
      s"checkpointed and lazy deep runs diverged: " +
        s"($dCkpt, $nCkpt) vs ($dLazy, $nLazy)")
    println(f"""{"metric":"pagerank_deep","iters":$iters,""" +
      f""""nodes":$nCkpt,"ckpt5_sec":$tCkpt%.3f,"ckpt0_sec":$tLazy%.3f,""" +
      f""""identical":true,"sf":"$sfDir"}""")
    spark.stop()
  }
}
