package graft

/** One-shot fixture generator (not part of the driver contract) —
  * dumps the dHash of every image in the pinned q208 corpus
  * ([[graft.sources.Multimodal.syntheticImageCorpus]], n = 400) to
  * `fixtures/q208_dhash.csv`, and the decoded mono PCM stream of
  * every audio item in the pinned q202 corpus
  * ([[graft.sources.Multimodal.syntheticMedia]], n = 300) to
  * `fixtures/q202_pcm.csv`. Each committed CSV is the "trust the
  * decoder ONCE" seam that flips its query from rows-only to
  * hash-oracled:
  * the DuckDB oracle replays everything AFTER the decode (banding,
  * candidate join, popcount verification) in SQL over this fixture,
  * and MultimodalSpec asserts the live decode still reproduces the
  * fixture bit-for-bit, so an imageio drift fails a test instead of
  * silently moving the answer. Regenerate only on a deliberate corpus
  * or hash change, in the same commit that re-pins the oracle.
  */
object FixtureDump {
  def main(args: Array[String]): Unit = {
    // local[8] with 8 partitions: the MLlib-fit fixtures depend on it
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rows = graft.sources.Multimodal
      .syntheticImageCorpus(spark, 400)
      .collect() // 400 tiny PNGs — a fixture dump, not a data path
      .flatMap(m => Option(m.payload)
        .flatMap(graft.sources.Multimodal.MediaCodec.imageDHash)
        .map(h => (m.media_id, h)))
      .sortBy(_._1)
    val out = new java.io.File("fixtures/q208_dhash.csv")
    out.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(out, "UTF-8")
    try {
      w.println("media_id,h")
      rows.foreach { case (id, h) => w.println(s"$id,$h") }
    } finally w.close()
    println(s"[fixture] wrote ${rows.length} rows to ${out.getPath}")

    // q202's decode seam: the MONO 16-bit sample stream of every audio
    // item in the pinned corpus (syntheticMedia(300), 100 WAVs × 256
    // samples). The DuckDB oracle replays framing / energy / zero-
    // crossings in SQL over these rows; MultimodalSpec re-decodes live
    // and asserts bit-parity, so a javax.sound drift fails a test.
    val pcm = graft.sources.Multimodal
      .syntheticMedia(spark, 300)
      .collect() // 100 tiny WAVs — a fixture dump, not a data path
      .filter(m => m.kind == "audio" && m.payload != null)
      .flatMap(m => graft.sources.Multimodal.MediaCodec.monoPcm16(m.payload)
        .toSeq.flatMap(_.iterator.zipWithIndex
          .map { case (s, t) => (m.media_id, t, s) }))
      .sortBy(r => (r._1, r._2))
    val out2 = new java.io.File("fixtures/q202_pcm.csv")
    val w2 = new java.io.PrintWriter(out2, "UTF-8")
    try {
      w2.println("media_id,t,s")
      pcm.foreach { case (id, t, s) => w2.println(s"$id,$t,$s") }
    } finally w2.close()
    println(s"[fixture] wrote ${pcm.length} rows to ${out2.getPath}")

    // q124/q130's fit seam (round 17): the MLlib coarse-quantizer fit
    // (k = 16, seed = 42, maxIter = 10 — buildIvfIndex's exact
    // configuration) over each registered testdata SF's embeddings,
    // dumped as (corpus_key, cell, j, x) rows keyed by the EXACT
    // integer corpus checksum ([[graft.ops.Similarity.ivfCorpusKey]])
    // so one committed fixture serves all three SFs (row counts can't
    // distinguish sf0.001 from sf0.01 — same 500 ids, different
    // values; the oracle selects its rows by replaying the checksum
    // in SQL). The
    // flipped queries SERVE from these frozen centroids with
    // SQL-replayable arithmetic ([[graft.ops.Similarity
    // .annJoinIvfFixed]]); SimilaritySpec asserts the live fit still
    // reproduces them (tolerance bounds float-reduction order), so an
    // MLlib drift fails a test instead of silently moving the answer.
    // Doubles print via Double.toString — shortest round-trip form,
    // parsed back exactly by DuckDB, Spark, and Scala.
    import org.apache.spark.sql.functions.col
    val out3 = new java.io.File("fixtures/q130_centroids.csv")
    val w3 = new java.io.PrintWriter(out3, "UTF-8")
    try {
      w3.println("corpus_key,cell,j,x")
      Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
        val emb = graft.sources.Tables
          .embeddings(spark, s"/root/testdata/$sf")
        val key = graft.ops.Similarity.ivfCorpusKey(emb)
        graft.ops.Similarity.fitIvfCentroids(emb, "vec_id", "embedding")
          .foreach { case (cell, c) =>
            c.zipWithIndex.foreach { case (x, j) =>
              w3.println(s"$key,$cell,$j,$x")
            }
          }
        println(s"[fixture] q130 centroids for $sf (corpus_key=$key)")
      }
    } finally w3.close()
    println(s"[fixture] wrote ${out3.getPath}")

    // q158/q159's fit seam (round 17): the per-subspace PQ codebook
    // fits (m = 8, ksub = 64, seed = 42, maxIter = 10, normalize —
    // fitPq's exact q158 configuration) over each registered SF's
    // embeddings, keyed by the SAME exact corpus checksum as the
    // coarse centroids. The flipped queries SERVE from these frozen
    // codebooks with rounded-distance arithmetic
    // ([[graft.ops.Similarity.annJoinPqRerank]] quantRound = 6 /
    // [[graft.ops.Similarity.annJoinIvfPqStoredFixed]]);
    // SimilaritySpec asserts the live fitPq still reproduces them.
    val out4 = new java.io.File("fixtures/q158_codebooks.csv")
    val w4 = new java.io.PrintWriter(out4, "UTF-8")
    try {
      w4.println("corpus_key,j,c,i,x")
      Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
        val emb = graft.sources.Tables
          .embeddings(spark, s"/root/testdata/$sf")
        val key = graft.ops.Similarity.ivfCorpusKey(emb)
        val cb = graft.ops.Similarity.fitPq(emb, "embedding",
          m = 8, ksub = 64)
        for (j <- cb.indices; c <- cb(j).indices; i <- cb(j)(c).indices)
          w4.println(s"$key,$j,$c,$i,${cb(j)(c)(i)}")
        println(s"[fixture] q158 codebooks for $sf (corpus_key=$key)")
      }
    } finally w4.close()
    println(s"[fixture] wrote ${out4.getPath}")

    // q55's decode-METADATA seam (round 18, the r17 verdict's #4 ask):
    // the decoded dimensions/frame counts of every item in the pinned
    // q55 corpus (syntheticMedia(300) — the same fixed corpus at every
    // SF). ONLY the metadata freezes — exact integers from the
    // pure-JDK parsers (imageio header, WAV fmt chunk, MP4 box walk);
    // the FEATURE vectors stay live (SURVEY §8's argument against
    // freezing float features stands — they are not in q55's output).
    // The DuckDB oracle replays q55's post-decode relational sweep
    // over these rows; MultimodalSpec asserts the live decode still
    // reproduces the fixture bit-for-bit.
    val out5 = new java.io.File("fixtures/q55_meta.csv")
    val w5 = new java.io.PrintWriter(out5, "UTF-8")
    try {
      w5.println("media_id,kind,width,height,n_frames")
      graft.sources.Multimodal.syntheticMedia(spark, 300)
        .collect() // 300 tiny payloads — a fixture dump, not a data path
        .flatMap(graft.sources.Multimodal.MediaCodec.decodeItem)
        .sortBy(_.media_id)
        .foreach(m => w5.println(
          s"${m.media_id},${m.kind},${m.width},${m.height},${m.n_frames}"))
    } finally w5.close()
    println(s"[fixture] wrote ${out5.getPath}")
    spark.stop()
  }
}
