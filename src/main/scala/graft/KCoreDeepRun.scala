package graft

import org.apache.spark.sql.functions._

/** One-shot deep-peel harness for [[graft.ops.Graph.kCoreConverged]]
  * (round-13 verdict ask #4): the registry's q216 runs the fixpoint
  * peel on the co-purchase graph, whose peel depth is shallow (< 8);
  * the pathological case the per-cadence count-action cost and the
  * O(rounds/cadence) plan-depth discipline are DESIGNED for is a
  * long cascade — a lollipop graph peels exactly one tail node per
  * round. This main synthesizes `SPARK_GRAFT_KCORE_COPIES` disjoint
  * lollipops (triangle core + `SPARK_GRAFT_KCORE_TAIL`-node path
  * tail, so peel depth = tail length ≥ 48 while the edge set scales
  * to millions), runs the converged peel at cadences 1 / 4 / 16,
  * asserts all three land on the SAME core as the saturated-budget
  * bounded [[graft.ops.Graph.kCore]] (the q216 ≡ q214 cross-check at
  * depth), checks the core is exactly the triangles (3 × copies
  * nodes, in-core degree 2), and prints one JSON line for the round
  * artifact. The cadence sweep is the measured trade: cadence 1 pays
  * a count-action every round but holds plan depth at 1; cadence 16
  * pays 1/16th of the counts against a 16-round lazy chain.
  *
  * Not part of the query registry: measurement harness (the
  * [[GraphDeepRun]] discipline), not an operator. */
object KCoreDeepRun {
  def main(args: Array[String]): Unit = {
    val copies = sys.env.getOrElse("SPARK_GRAFT_KCORE_COPIES", "50000").toInt
    val tail = sys.env.getOrElse("SPARK_GRAFT_KCORE_TAIL", "48").toInt
    // the bounded cross-check below runs kCore(rounds = min(64, tail+8));
    // a tail deeper than 56 would leave that run unconverged and its
    // divergent digest would read as a real engine bug — fail loudly
    // here instead (ADVICE r14)
    require(tail + 8 <= 64,
      s"SPARK_GRAFT_KCORE_TAIL must be <= 56 so the bounded cross-check " +
        s"(rounds = min(64, tail + 8)) can reach the peel depth; got $tail")
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // one lollipop per copy: triangle {0,1,2} + path 0-3-4-…-(2+tail);
    // the far end has degree 1, so the 2-core peel removes exactly one
    // tail node per round — peel depth = tail, simultaneous across all
    // copies (node ids are copy-disjoint)
    val offs = (Seq((0, 1), (1, 2), (0, 2), (0, 3)) ++
      (3 until (3 + tail - 1)).map(i => (i, i + 1)))
      .map { case (a, b) => struct(lit(a).as("a"), lit(b).as("b")) }
    val per = tail + 3
    val half = spark.range(copies.toLong)
      .select((col("id") * per).as("base"), explode(array(offs: _*)).as("e"))
      .select((col("base") + col("e.a")).as("src"),
        (col("base") + col("e.b")).as("dst"))
    def edges = half.unionByName(
      half.select(col("dst").as("src"), col("src").as("dst")))

    def digestOf(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val row = df.agg(
        sum(crc32(concat_ws(":", col("node"), col("core_deg")))).as("digest"),
        count(lit(1)).as("n")).collect()(0)
      (row.getLong(0), row.getLong(1))
    }

    def runConverged(cadence: Int): (Double, Long, Long) = {
      val t0 = System.nanoTime()
      val (d, n) = digestOf(graft.ops.Graph.kCoreConverged(edges, "src", "dst",
        k = 2, maxRounds = tail + 16, checkpointEvery = cadence))
      ((System.nanoTime() - t0) / 1e9, d, n)
    }

    val (t1, d1, n1) = runConverged(1)
    val (t4, d4, n4) = runConverged(4)
    val (t16, d16, n16) = runConverged(16)
    // the saturated-budget bounded peel must land on the same core —
    // the q216 ≡ q214 cross-check, exercised at depth ≥ 48
    val tb0 = System.nanoTime()
    val (db, nb) = digestOf(graft.ops.Graph.kCore(edges, "src", "dst",
      k = 2, rounds = math.min(64, tail + 8), checkpointEvery = 4))
    val tBounded = (System.nanoTime() - tb0) / 1e9
    require(d1 == d4 && d4 == d16 && d16 == db &&
      n1 == n4 && n4 == n16 && n16 == nb,
      s"deep-peel runs diverged: cadence1=($d1,$n1) cadence4=($d4,$n4) " +
        s"cadence16=($d16,$n16) bounded=($db,$nb)")
    require(n1 == 3L * copies,
      s"core must be exactly the triangles: expected ${3L * copies} " +
        s"nodes, got $n1")
    println(f"""{"metric":"kcore_deep","copies":$copies,"tail":$tail,""" +
      f""""edges":${copies.toLong * (tail + 3) * 2},"core_nodes":$n1,""" +
      f""""cadence1_sec":$t1%.3f,"cadence4_sec":$t4%.3f,""" +
      f""""cadence16_sec":$t16%.3f,"bounded_sec":$tBounded%.3f,""" +
      f""""identical":true}""")
    spark.stop()
  }
}
