package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.TaggedSidecar

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness:
  *
  *  - exact: hash-groupBy on the text digest — one shuffle on the
  *    digest, keeps the smallest id per group;
  *  - MinHash + LSH banding: shingle → minhash signature → band →
  *    bucket-join → exact-Jaccard verification of candidates;
  *  - SimHash: 64-bit sign-aggregated token hashes, near-dups share
  *    band prefixes (hamming-distance candidates);
  *  - n-gram Jaccard: inverted-index candidate pairs over rare
  *    shingles with a document-frequency cap, then exact Jaccard.
  *
  * All signature computation is per-row Catalyst HOF expressions — no
  * UDFs and no driver involvement, so signatures scale linearly with
  * executors. Pair generation never goes quadratic: candidates come
  * from equality joins on bucket keys (LSH bands or capped shingles),
  * the standard trick that keeps near-dup detection tractable at
  * billions of documents.
  *
  * MLlib offers MinHashLSH/approxSimilarityJoin; the expression-level
  * implementation here stays in whole-stage codegen, avoids the
  * VectorUDT detour, and makes banding explicit.
  */
object Dedup {

  /** Exact dedup (survivor list): one row per distinct text, keeping
    * the minimum id — a single hash aggregate on the digest.
    *
    * NORMALIZED dedup is this op over a normalized text column
    * (q153). MULTILINGUAL corpora must normalize with
    * [[TextAnalysis.normalizeTextUnicode]], NOT the legacy Latin-only
    * [[TextAnalysis.normalizeText]] — the legacy `[a-z0-9 ]` class
    * maps every non-Latin document to the empty string, so this
    * aggregate collapses all of them into one "duplicate" group and
    * silently deletes whole languages (q224's certificate; the
    * composed pipeline's parameterized entry points —
    * [[graft.ops.CurationPipeline.ingestShard]] /
    * [[graft.ops.CurationPipeline.oneShotSurvivors]] `normalize` —
    * are the production form, hash-proven end-to-end by q225). */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Corpus snapshot diff — what changed between two corpus versions:
    * `added` (id only in the new snapshot), `removed` (only in the
    * old), `changed` (both, different text), `unchanged`. The audit
    * an incremental pipeline runs before re-processing: the
    * added+changed set is exactly the work list, and the
    * removed/changed counts are the data-versioning report.
    *
    * Shape at scale: each side reduces to (id, md5 digest) IN the
    * scan projection — 24 bytes/row ride the shuffle, never the text
    * — then ONE sort-merge full outer join on the id. Comparing
    * digests instead of text makes `changed` detection O(1) per row
    * and keeps 100 TB of document bytes out of the exchange. Null
    * digests (null text) compare via null-safe equality — a null
    * text on both sides is `unchanged`, not `changed`. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("__id"),
      md5(col(textCol)).as("old_digest"), lit(1).as("__in_old"))
    val n = newDf.select(col(idCol).as("__id"),
      md5(col(textCol)).as("new_digest"), lit(1).as("__in_new"))
    o.join(n, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol), col("old_digest"), col("new_digest"),
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .when(!(col("old_digest") <=> col("new_digest")), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Whitespace-word k-shingles as a distinct array. k=1 → word set;
    * docs shorter than k tokens yield an empty set (guard needed:
    * Spark's `sequence(1, 0)` is DESCENDING, which would feed slice a
    * zero start and throw). */
  def shingles(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    if (k == 1) array_distinct(toks)
    else when(size(toks) >= k,
      array_distinct(
        transform(sequence(lit(1), size(toks) - (k - 1)),
          i => concat_ws(" ", slice(toks, i, lit(k))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Shingle set collapsed to 64-bit hashes — computed ONCE per
    * shingle; every downstream minhash function derives from the long,
    * not the string (classic one-string-hash minhash family). */
  def hashedShingles(shingleSet: Column): Column =
    transform(shingleSet, s => xxhash64(s))

  /** MinHash signature over hashed shingles, via the engine's native
    * codegen'd expression ([[graft.functions.MinHashSignature]]): one
    * fused shingles×numHashes loop. The HOF formulation
    * (`transform`+`array_min` with interpreted lambdas) is kept as
    * [[minhashSignatureHof]] for property tests. */
  def minhashSignature(hashedSet: Column, numHashes: Int): Column =
    graft.functions.GraftFunctions.minhash_signature(hashedSet, numHashes)

  /** Interpreted-HOF minhash signature (reference formulation),
    * bit-identical to the native expression: the seed sequence is
    * LONG-typed (xxhash64 hashes ints and longs differently), and an
    * empty shingle set yields null in both paths (array_min of an
    * empty array is null per element; empty/short docs must not share
    * a sentinel signature). */
  def minhashSignatureHof(hashedSet: Column, numHashes: Int): Column =
    when(size(hashedSet) > 0,
      transform(sequence(lit(0L), lit((numHashes - 1).toLong)),
        seed => array_min(transform(hashedSet, h => xxhash64(h, seed)))))

  /** LSH band keys: the signature split into `bands` contiguous chunks,
    * each chunk hashed to one bucket key. Two docs land in the same
    * (band, bucket) iff that chunk of their signatures agrees. */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(concat_ws(",", slice(signature, b * rowsPerBand + 1, lit(rowsPerBand))))
          .as("bucket")))

  /** Exact Jaccard similarity of two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** MinHash-LSH near-duplicate pairs:
    * shingle → minhash → band → bucket-group → candidate pairs →
    * exact-Jaccard verification.
    *
    * Scale discipline (the shape that survives 100×):
    *  - the bucket join moves ONLY (id, band, bucket) — shingle arrays
    *    never ride through the explode/shuffle;
    *  - buckets larger than `bucketCap` are dropped: an oversized
    *    bucket means that band carries no discriminative signal (on a
    *    shared-vocabulary corpus every doc would otherwise collide and
    *    candidate generation goes quadratic);
    *  - exact Jaccard runs once per DISTINCT candidate pair, with the
    *    shingle sets re-attached by two hash joins at the end. */
  def minhashDedupPairs(df: DataFrame, textCol: String, idCol: String,
                        shingleK: Int = 2, numHashes: Int = 64,
                        bands: Int = 8, threshold: Double = 0.7,
                        bucketCap: Int = 200): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // fused hashed shingle sets (zero intermediate strings); signatures
    // and Jaccard verification both run on the compact long arrays
    // (set identity is preserved up to 64-bit collisions)
    val base = df.select(
      col(idCol).as("id"),
      graft.functions.GraftFunctions.hashed_shingles(col(textCol), shingleK)
        .as("sh"))
    // docs with an empty shingle set (shorter than k tokens) carry no
    // signature — they can't be near-duplicates of anything by content
    val sig = base
      .filter(size(col("sh")) > 0)
      .select(col("id"),
        explode(bandKeys(minhashSignature(col("sh"), numHashes), bands, rows))
          .as("bk"))
    val buckets = sig.groupBy(col("bk"))
      .agg(collect_list(col("id")).as("ids"), count(lit(1)).as("n"))
      .filter(col("n").between(2, bucketCap))
    val pairs = buckets
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    // Re-attach shingle sets for the CANDIDATE ids only, MATERIALIZED
    // (round 18 — the stream-side-projection pin's first catch): with
    // `base` streamed into the pair joins, codegen defers the
    // hashed_shingles scan into the matched-row loop and re-hashes a
    // document's full text once per candidate pair it appears in — on
    // a duplicate-dense corpus (the 10×/100× blow-ups) a hot doc sits
    // in O(cluster) pairs. Bounded: candidate ids ≤ 2·|pairs| by the
    // bucketCap discipline, so the checkpointed frame is
    // candidate-sized, never corpus-sized.
    //
    // Optimization round 18: checkpoint the PAIR set itself first —
    // without it the signature→band→bucket pipeline (the dominant
    // cost: numHashes hashes per shingle over the whole corpus) ran
    // once inside the candidate-id derivation and AGAIN in the final
    // verification join (guide §2.4: remove repeated passes). The
    // pair frame is bounded by the bucketCap discipline, so pinning
    // it is candidate-sized. Candidate shingle sets are then re-hashed
    // from the RAW text of candidate ids only (semi-join BEFORE the
    // expensive projection, guide §2.3 "project before the exchange")
    // instead of re-running hashed_shingles over the full corpus.
    val pairsCk = pairs.localCheckpoint(true)
    val candIds = pairsCk
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val candSh = df
      .select(col(idCol).as("id"), col(textCol).as("__text"))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"),
        graft.functions.GraftFunctions.hashed_shingles(col("__text"), shingleK)
          .as("sh"))
      .localCheckpoint(true)
    val shA = candSh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = candSh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    pairsCk.join(shA, "id_a").join(shB, "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash: per token, xxhash64 expands to 64 ±1 bit votes;
    * votes sum across the token multiset; the sign of each bit's total
    * becomes that bit of the fingerprint. Near-identical token
    * multisets → small hamming distance. Runs as the engine's fused
    * one-scan codegen expression ([[graft.functions.SimHash64]]); the
    * interpreted HOF formulation is kept as [[simhash64Hof]] for the
    * bit-identity property test. */
  def simhash64(text: Column): Column =
    graft.functions.GraftFunctions.simhash64(text)

  /** Interpreted-HOF SimHash (reference formulation, bit-identical to
    * the fused expression): per token × 64 bits through interpreted
    * lambdas — kept only as the property-test twin. */
  def simhash64Hof(text: Column): Column = {
    val toks = split(text, " ")
    val votes = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)),
          (a, b) => a + when(
            call_function("shiftright", h, b).bitwiseAND(lit(1L)) === 1L,
            lit(1L)).otherwise(lit(-1L)))
      })
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Cross-engine-replayable SimHash: the same sign-aggregation as
    * [[simhash64]], with the token hash routed through the top 60 bits
    * of MD5 and a 60-bit fingerprint domain, so an external engine
    * (DuckDB — q26's oracle) replays the aggregation exactly with
    * plain signed-64-bit arithmetic. One fused codegen scan per
    * document ([[graft.functions.SimHash64Md5]]); [[simhash64Md5Hof]]
    * is the bit-identity property-test twin. Use [[simhash64]]
    * (xxhash64 tokens, full 64 bits) when external replay isn't
    * needed. */
  def simhash64Md5(text: Column): Column =
    graft.functions.GraftFunctions.simhash64_md5(text)

  /** Interpreted-HOF md5 SimHash (reference formulation, bit-identical
    * to the fused expression): token hash is the md5-prefix
    * construction `conv(substring(md5(t),1,15), 16, 10)`, votes and
    * sign-fold over bits 0..59. */
  def simhash64Md5Hof(text: Column): Column = {
    val toks = split(text, " ")
    val votes = aggregate(
      toks,
      array_repeat(lit(0L), 60),
      (acc, t) => {
        val h = conv(substring(md5(t), 1, 15), 16, 10).cast("long")
        zip_with(acc, sequence(lit(0), lit(59)),
          (a, b) => a + when(
            call_function("shiftright", h, b).bitwiseAND(lit(1L)) === 1L,
            lit(1L)).otherwise(lit(-1L)))
      })
    aggregate(
      zip_with(votes, sequence(lit(0), lit(59)),
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Interpreted-HOF md5 minhash signature (reference formulation,
    * bit-identical to [[graft.functions.MinHashMd5Signature]]): for
    * each seed, the minimum md5-top-60-bit hash of
    * `shingle + "|" + seed` over the k-token shingle strings. Kept as
    * the property-test twin. */
  def minhashMd5SignatureHof(text: Column, shingleK: Int,
                             numHashes: Int): Column = {
    val sh = shingles(text, shingleK)
    when(size(sh) > 0,
      transform(sequence(lit(0), lit(numHashes - 1)),
        seed => array_min(transform(sh, s =>
          conv(substring(md5(concat(s, lit("|"), seed.cast("string"))),
            1, 15), 16, 10).cast("long")))))
  }

  /** Banded MinHash-LSH near-dup pairs, CROSS-ENGINE-REPLAYABLE end to
    * end — the verification twin of [[minhashDedupPairs]]: signatures
    * come from the fused md5 expression
    * ([[graft.functions.MinHashMd5Signature]] — every hash value
    * reproducible by any engine with md5), and band bucket keys are
    * the RAW signature-chunk strings (band index + comma-joined chunk
    * values) rather than an engine-specific xxhash64 of the chunk, so
    * candidate generation, bucket capping, and the exact-Jaccard
    * verification all replay value-for-value in SQL (q149's DuckDB
    * oracle proves the whole pipeline).
    *
    * Production trade-off, documented: md5 costs ~numHashes digests
    * per shingle where the xxhash64 path derives all hash functions
    * from ONE shingle hash, and string bucket keys are wider shuffle
    * keys than 8-byte hashes — run THIS form on verification corpora
    * and [[minhashDedupPairs]] at scale. Same candidate discipline
    * (bucket equality join, `bucketCap` drops degenerate buckets,
    * pairs verified by exact Jaccard on fused hashed shingles). */
  def minhashDedupPairsMd5(df: DataFrame, textCol: String, idCol: String,
                           shingleK: Int = 2, numHashes: Int = 16,
                           bands: Int = 4, threshold: Double = 0.5,
                           bucketCap: Int = 200): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val base = df.select(
      col(idCol).as("id"),
      graft.functions.GraftFunctions.hashed_shingles(col(textCol), shingleK)
        .as("sh"),
      graft.functions.GraftFunctions
        .minhash_md5_signature(col(textCol), shingleK, numHashes).as("sig"))
    val sig = base
      .filter(col("sig").isNotNull)
      .select(col("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            array_join(transform(
              slice(col("sig"), b * rows + 1, lit(rows)),
              v => v.cast("string")), ",").as("bucket"))))
          .as("bk"))
    val buckets = sig.groupBy(col("bk"))
      .agg(collect_list(col("id")).as("ids"), count(lit(1)).as("n"))
      .filter(col("n").between(2, bucketCap))
    val pairs = buckets
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    // Re-attach shingle sets for the CANDIDATE ids only, MATERIALIZED
    // (round 18 — the stream-side-projection pin's first catch): with
    // `base` streamed into the pair joins, codegen defers the
    // hashed_shingles scan into the matched-row loop and re-hashes a
    // document's full text once per candidate pair it appears in — on
    // a duplicate-dense corpus (the 10×/100× blow-ups) a hot doc sits
    // in O(cluster) pairs. Bounded: candidate ids ≤ 2·|pairs| by the
    // bucketCap discipline, so the checkpointed frame is
    // candidate-sized, never corpus-sized.
    //
    // Optimization round 18: checkpoint the PAIR set itself first —
    // without it the md5-signature→band→bucket pipeline (numHashes md5
    // digests per shingle over the whole corpus — this variant's
    // documented cost) ran once inside the candidate-id derivation and
    // AGAIN in the final verification join (guide §2.4). Candidate
    // shingle sets are re-hashed from the RAW text of candidate ids
    // only (semi-join BEFORE the expensive projection, guide §2.3),
    // not by a second full-corpus hashed_shingles pass.
    val pairsCk = pairs.localCheckpoint(true)
    val candIds = pairsCk
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val candSh = df
      .select(col(idCol).as("id"), col(textCol).as("__text"))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"),
        graft.functions.GraftFunctions.hashed_shingles(col("__text"), shingleK)
          .as("sh"))
      .localCheckpoint(true)
    val shA = candSh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = candSh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    pairsCk.join(shA, "id_a").join(shB, "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Initialize (or extend) a fingerprint sidecar from an existing
    * corpus: one md5 text digest per distinct document, written as
    * parquet sorted within files (row-group min/max stats then prune
    * later merge reads). The write-side twin of the runtime dedup —
    * the sidecar is ~16 bytes/doc of entropy, MBs per billion docs
    * after encoding, vs re-scanning 100 TB of text to rediscover what
    * the corpus already contains. */
  def writeFingerprintSidecar(df: DataFrame, textCol: String,
                              sidecarDir: String): Unit =
    graft.sources.Sinks.withDirLock(
      df.sparkSession, sidecarDir, "writeFingerprintSidecar") {
      df.select(md5(col(textCol)).as("fp")).distinct()
        .sortWithinPartitions(col("fp"))
        .write.mode("append").parquet(sidecarDir)
    }

  /** Shared survivor computation for the incremental-dedup family:
    * anti-join the batch's md5 text fingerprints against the persisted
    * sidecar and keep the min-id row per fingerprint within the batch
    * — so the survivors' non-null `__fp` values are DISTINCT by
    * construction (one rank-1 row per fingerprint).
    *
    * CHECKPOINT CONTRACT: the result is LAZY. A caller must
    * materialize it (eager localCheckpoint) before appending to the
    * sidecar, so that later actions re-read materialized survivors
    * instead of re-running the anti-join against a sidecar that
    * meanwhile contains this batch's own fingerprints (which would
    * drop everything). [[dedupAgainstSidecar]] checkpoints it
    * directly; the
    * [[graft.ops.CurationPipeline]] ingest checkpoints the whole
    * stage 1–3 decision built on top of it, in one pass.
    *
    * Null text: `md5(null)` is null, which would silently never match
    * the sidecar (non-null-safe join) while the survivor window
    * collapsed ALL null-text rows into one as if they were duplicates
    * of each other. Such rows have no content to fingerprint, so they
    * pass through as survivors untouched and are never written to the
    * sidecar. Output keeps the internal `__fp` column (null for
    * null-text rows).
    *
    * `excludeBatchIds`: tagged rows of these ids are invisible to
    * membership ([[graft.sources.TaggedSidecar.exclude]]). A replay of
    * a crashed ingest hides its OWN id, so it reproduces the first
    * attempt's keep decisions instead of dropping the whole batch
    * against its own digests; the composed pipeline also hides the
    * RETRACTED shard tags ([[graft.ops.CurationPipeline
    * .retractShard]]'s O(1) tombstones) until the next compaction
    * drops their rows. */
  private[graft] def sidecarSurvivors(batch: DataFrame, textCol: String,
                                      idCol: String, sidecarDir: String,
                                      bloomPrefilter: Boolean = false,
                                      excludeBatchIds: Set[String] = Set.empty,
                                      dropTextCol: Boolean = false)
      : DataFrame = {
    val spark = batch.sparkSession
    val path = new org.apache.hadoop.fs.Path(sidecarDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // dropTextCol (optimization round 19): once `__fp` is computed the
    // fingerprinted text is dead weight for callers that fed a
    // DERIVED normal form they never read back (the CurationPipeline
    // ingest: __ntext is a full normalized copy of the document), yet
    // it would ride the anti-join and the survivor window's
    // exchange + sort and the eager checkpoint — at corpus scale that
    // doubles stage 1's shuffled bytes (guide §2.3: project before
    // the exchange). Decisions are unchanged: everything downstream
    // keys on __fp/idCol only.
    val withFp0 = batch.withColumn("__fp", md5(col(textCol)))
    val withFp = if (dropTextCol) withFp0.drop(textCol) else withFp0
    val fpRows = withFp.filter(col("__fp").isNotNull)
    val bloom =
      if (bloomPrefilter) loadSidecarBloom(spark, sidecarDir) else None
    def sidecarFps: DataFrame = TaggedSidecar.exclude(
        graft.sources.Sinks.readParquet(spark, sidecarDir), excludeBatchIds)
      .select(col("fp"))
    val unseen =
      if (!fs.exists(path)) fpRows
      else bloom match {
        case Some(bf) =>
          // bloom routing: rows whose fingerprint the filter has never
          // seen CANNOT be in the sidecar (as of the bloom's build) and
          // bypass the anti-join; only the might-contain fraction —
          // true duplicates + fpp — pays the join against the full
          // sidecar. The outcome is identical to the plain anti-join
          // as long as the bloom covers every sidecar fingerprint (the
          // single-writer refresh contract). A bloom that saw a crashed
          // attempt's own-batch fingerprints only routes those rows to
          // the exact join, where the batch-id exclusion readmits them.
          val might = graft.functions.GraftFunctions
            .bloom_might_contain(col("__fp"), bf)
          fpRows.filter(!might).unionByName(
            fpRows.filter(might)
              .join(sidecarFps, col("__fp") === col("fp"), "left_anti"))
        case None =>
          fpRows.join(sidecarFps, col("__fp") === col("fp"), "left_anti")
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__fp")).orderBy(col(idCol))
    unseen
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .unionByName(withFp.filter(col("__fp").isNull))
  }

  /** Incremental corpus dedup — the production "new shard vs existing
    * corpus" shape that single-snapshot dedup ([[exactDedup]]) can't
    * express: drop every batch row whose text fingerprint is already
    * in the persisted sidecar, dedup the batch against itself (min id
    * survives), then append the survivors' fingerprints so the NEXT
    * shard sees them. Null-text rows pass through as survivors
    * untouched (see [[sidecarSurvivors]]).
    *
    * Scale shape: the membership check is a left-anti hash join on the
    * digest — both sides partition on fp, no driver involvement; for a
    * sidecar much smaller than the batch Spark broadcasts it, and the
    * AQE runtime bloom filter prunes the batch scan for the shuffled
    * case. Existence goes through the Hadoop FileSystem API, so
    * object-store sidecars work. Replaying the same batch is
    * idempotent: every row is already in the sidecar, zero survivors.
    *
    * SINGLE-WRITER CONTRACT: the sidecar has no commit protocol — two
    * concurrent shard ingests could each pass the anti-join and then
    * both append, admitting duplicate survivors. Serialize ingests per
    * sidecar. A pipeline that also SINKS the survivors must append
    * them to the sink BEFORE the sidecar (the sink-first order of
    * [[graft.ops.Curation.curateBatch]]): a crash between the writes
    * then re-emits duplicates instead of losing documents.
    *
    * `bloomPrefilter = true` routes membership through the sidecar's
    * Bloom companion ([[writeSidecarBloom]]) when present: definitely-
    * new rows skip the exact anti-join, and the batch's new
    * fingerprints are folded into the companion after the sidecar
    * append. Crash between those two writes leaves the bloom missing
    * that batch's fingerprints, so a replay (or later batches) can
    * re-admit exactly those documents as duplicate survivors — the
    * same recoverable duplicates-not-loss direction as the sink-first
    * order's crash window; the next
    * [[writeSidecarBloom]] rebuild reconverges. */
  def dedupAgainstSidecar(batch: DataFrame, textCol: String, idCol: String,
                          sidecarDir: String,
                          bloomPrefilter: Boolean = false,
                          batchId: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    val survivors = sidecarSurvivors(batch, textCol, idCol, sidecarDir,
      bloomPrefilter, excludeBatchIds = batchId.toSet).localCheckpoint(true)
    // distinct by construction (one rank-1 survivor per fingerprint)
    val newFps = survivors.filter(col("__fp").isNotNull)
      .select(col("__fp").as("fp"))
    appendDigestFps(spark, newFps, sidecarDir, bloomPrefilter, batchId,
      "dedupAgainstSidecar")
    survivors.drop("__fp")
  }

  /** The digest sidecar's append half, shared by [[dedupAgainstSidecar]]
    * and the crash-ordered callers that sink survivors FIRST (the
    * [[graft.ops.CurationPipeline]] ingest protocol). `batchId` tags
    * the rows ([[graft.sources.TaggedSidecar]]; replay key fp, set
    * semantics, no merge): a replayed append's duplicate rows are a
    * no-op for membership and the replay's own read excludes them
    * ([[sidecarSurvivors]]), so crash-at-any-point plus whole-batch
    * retry converges on the no-crash state. */
  private[graft] def appendDigestFps(spark: org.apache.spark.sql.SparkSession,
                                     newFps: DataFrame, sidecarDir: String,
                                     bloomPrefilter: Boolean,
                                     batchId: Option[String],
                                     op: String): Unit = {
    TaggedSidecar.assertConsistent(spark, sidecarDir, batchId.isDefined, op)
    graft.sources.Sinks.withDirLock(spark, sidecarDir, op) {
      TaggedSidecar.tag(newFps, batchId).sortWithinPartitions(col("fp"))
        .write.mode("append").parquet(sidecarDir)
      if (bloomPrefilter) loadSidecarBloom(spark, sidecarDir).foreach { loaded =>
        // zero = the loaded bloom: partitions OR their items into copies
        // of it and copies merge idempotently (bitmap union), so the
        // result is loaded ∪ batch fingerprints
        val updated = newFps.select(col("fp")).rdd.map(_.getString(0))
          .treeAggregate(loaded)(
            (bf, s) => { graft.functions.BloomMightContain.put(bf, s); bf },
            (a, b) => { a.mergeInPlace(b); a })
        saveSidecarBloom(spark, sidecarDir, updated)
      }
    }
  }

  /** Path of a sidecar's Bloom companion file. */
  private def bloomPath(sidecarDir: String) =
    new org.apache.hadoop.fs.Path(sidecarDir + ".bloom")

  private[graft] def loadSidecarBloom(spark: org.apache.spark.sql.SparkSession,
                                      sidecarDir: String)
      : Option[org.apache.spark.util.sketch.BloomFilter] = {
    val p = bloomPath(sidecarDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
      finally in.close()
    }
  }

  private def saveSidecarBloom(spark: org.apache.spark.sql.SparkSession,
      sidecarDir: String,
      bloom: org.apache.spark.util.sketch.BloomFilter): Unit = {
    val p = bloomPath(sidecarDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try bloom.writeTo(out) finally out.close()
  }

  /** Build (or rebuild) the Bloom companion of a fingerprint sidecar
    * from its CURRENT contents. The filter is KB–MB sized where the
    * sidecar is GB sized at corpus scale, so
    * [[dedupAgainstSidecar]]'s bloom prefilter can broadcast it and
    * route definitely-new rows around the exact anti-join entirely —
    * the join then only processes the might-contain fraction
    * (true-duplicate rate + `fpp`). Exactness is unaffected: `false`
    * is only possible for fingerprints the sidecar never stored, and
    * might-contain rows still go through the exact join.
    *
    * Built with a treeAggregate over the fingerprints — the classic
    * bounded-sketch reduction (result size is fixed by (expected, fpp),
    * never by data volume). Same single-writer contract as the
    * sidecar itself. */
  def writeSidecarBloom(spark: org.apache.spark.sql.SparkSession,
                        sidecarDir: String, fpp: Double = 0.01): Unit =
    graft.sources.Sinks.withDirLock(spark, sidecarDir, "writeSidecarBloom") {
      val fps = spark.read.parquet(sidecarDir).select(col("fp"))
      val n = math.max(fps.count(), 1L)
      val zero = org.apache.spark.util.sketch.BloomFilter.create(n, fpp)
      val bloom = fps.rdd.map(_.getString(0))
        .treeAggregate(zero)(
          (bf, s) => { graft.functions.BloomMightContain.put(bf, s); bf },
          (a, b) => { a.mergeInPlace(b); a })
      saveSidecarBloom(spark, sidecarDir, bloom)
    }

  /** Compact the fingerprint sidecar: every ingest appends one file
    * set, and the membership anti-join reads ALL of them every batch —
    * the small-files tax grows with ingest count, not corpus size.
    * Rewrites to `coalesceTo` fp-sorted files (row-group min/max stats
    * prune later merge reads) via [[graft.sources.Sinks
    * .compactParquetDir]]'s backup-swap; run between ingests under the
    * same single-writer contract as [[dedupAgainstSidecar]].
    *
    * Unlike the additive sidecars' compaction, tags SURVIVE (per-batch
    * identity is what the retraction tombstones filter on): the
    * collapse is a distinct over all columns, never a re-tag.
    * `dropBatchIds` are tags whose rows are physically removed here:
    * [[graft.ops.CurationPipeline.retractShard]] tombstones a shard in
    * O(1) and defers the drop to this rewrite, which runs anyway. */
  def compactSidecar(spark: org.apache.spark.sql.SparkSession,
                     sidecarDir: String, coalesceTo: Int = 1,
                     dropBatchIds: Set[String] = Set.empty): Unit =
    graft.sources.Sinks.compactParquetDir(spark, sidecarDir,
      coalesceTo = coalesceTo, sortCol = Some("fp"),
      transform = Some(raw =>
        TaggedSidecar.exclude(raw, dropBatchIds).distinct()))

  /** Guarded id→long cast for the minhash-sidecar family, whose
    * stored layout keys documents by BIGINT id: a silently nulled cast
    * (non-numeric string ids under non-ANSI sessions) would fill the
    * sidecar with null-id signature rows and make every candidate join
    * no-op with no error. `try_cast` + `raise_error` fails loud and
    * deterministically in BOTH ANSI modes when a non-null id doesn't
    * cast. */
  private def idAsLong(idCol: String): Column = {
    val casted = expr(s"try_cast(`$idCol` AS BIGINT)")
    when(col(idCol).isNotNull && casted.isNull,
      raise_error(concat(
        lit(s"minhash sidecar: id column `$idCol` must be castable to " +
          "BIGINT (long-keyed sidecar layout); got value "),
        col(idCol).cast("string"))))
      .otherwise(casted)
  }

  /** Minhash-signature sidecar: the NEAR-dup twin of the exact
    * fingerprint sidecar — persist each corpus document's minhash
    * signature and LSH band keys once at ingest, so a NEW shard can be
    * near-dup-checked against a 100 TB corpus without recomputing (or
    * even reading) the corpus text. Layout:
    *
    *  - `$dir/bands`: (id, band, bucket) — candidate generation by
    *    (band, bucket) equality join, the discriminative index;
    *  - `$dir/sigs`:  (id, sig array<long>) — estimated-Jaccard
    *    verification (fraction of agreeing signature components, the
    *    standard MinHash estimator — no shingle sets needed);
    *  - `$dir/stats`: (band, bucket, n) COUNT INCREMENTS, one row set
    *    per ingest — the write-side-maintained bucket statistics.
    *    Reading `sum(n)` per (band, bucket) over this table replaces
    *    the read side's full re-aggregation of `bands`, so a batch
    *    membership check scans the bands table ONCE (candidate join)
    *    instead of twice; the stats table is ~distinct-buckets-sized,
    *    orders of magnitude smaller than bands at corpus scale.
    *
    * Docs with an empty shingle set (shorter than `shingleK` tokens)
    * carry no signature and are not written — they cannot be
    * near-duplicates of anything by content. Same single-writer
    * contract as [[writeFingerprintSidecar]] (enforced by the
    * `.lock` marker — see [[graft.sources.Sinks.withDirLock]]).
    *
    * Id contract: `idCol` must be castable to BIGINT — the stored
    * layout is long-keyed. A non-castable non-null id fails loud (in
    * both ANSI modes) instead of silently writing null-id rows that
    * would make every later candidate join a no-op. */
  def writeMinhashSidecar(df: DataFrame, textCol: String, idCol: String,
                          sidecarDir: String, shingleK: Int = 2,
                          numHashes: Int = 64, bands: Int = 8): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sigs = df.select(idAsLong(idCol).as("id"),
        graft.functions.GraftFunctions.hashed_shingles(col(textCol), shingleK)
          .as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), minhashSignature(col("sh"), numHashes).as("sig"))
      .localCheckpoint(true)
    graft.sources.Sinks.withDirLock(
      df.sparkSession, sidecarDir, "writeMinhashSidecar") {
      // sigs FIRST, bands second, stats LAST: membership checks key off
      // the bands table (candidate generation joins it, existence
      // checks probe it), so a crash between the writes must leave
      // stats ⊆ bands ⊆ sigs — every band row can resolve its
      // signature, and an UNDER-counted bucket is only dropped later
      // than it should be (more candidates verified — correctness
      // unaffected; the estimator still decides). The reverse order
      // could emit candidates whose verification rows don't exist yet,
      // or drop buckets early and silently miss near-dups.
      sigs.write.mode("append").parquet(s"$sidecarDir/sigs")
      val bandRows = sigs
        .select(col("id"), explode(bandKeys(col("sig"), bands, rows)).as("bk"))
        .select(col("id"), col("bk.band").as("band"),
          col("bk.bucket").as("bucket"))
        .localCheckpoint(true)
      bandRows.write.mode("append").parquet(s"$sidecarDir/bands")
      bandRows.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .write.mode("append").parquet(s"$sidecarDir/stats")
    }
  }

  /** Incremental NEAR-dup dedup — the fuzzy twin of
    * [[dedupAgainstSidecar]]: drop every batch row whose estimated
    * Jaccard similarity to ANY sidecar document reaches `threshold`,
    * then (by default) append the survivors' signatures so the next
    * shard sees them. Candidates come from a (band, bucket) equality
    * join of the batch's band keys against `$dir/bands`; estimated
    * Jaccard — the fraction of agreeing components between the two
    * 64-long signatures, read from `$dir/sigs` — verifies each
    * candidate pair. The corpus TEXT is never read, so the check costs
    * IO proportional to the sidecar (signatures, ~0.5 KB/doc), not the
    * corpus.
    *
    * Contract notes, matching the exact sidecar:
    *  - `shingleK`/`numHashes`/`bands` must MATCH the sidecar's build
    *    parameters ([[writeMinhashSidecar]]): band keys are a function
    *    of all three, so a mismatch silently yields no candidates and
    *    a wrong-length signature skews the estimator;
    *  - batch rows with an empty shingle set pass through as survivors
    *    untouched and are never appended (no content to compare);
    *  - INTRA-batch near-dups are NOT collapsed here (both survive if
    *    neither matches the corpus) — compose [[minhashDedupPairs]] /
    *    [[graft.ops.Clustering.jaccardDedupClusters]] on the batch
    *    first when that matters;
    *  - corpus-side (band, bucket) groups larger than `bucketCap` are
    *    dropped from candidate generation (the [[minhashDedupPairs]]
    *    discipline — an oversized bucket carries no signal and would
    *    go quadratic on shared-vocabulary corpora);
    *  - replaying a fully committed batch is idempotent (its own
    *    signatures are in the sidecar, estimator = 1, zero
    *    survivors); survivors are localCheckpointed BEFORE the append
    *    so the returned frame cannot observe its own fingerprints. A
    *    crash between checkpoint and append re-admits the batch on
    *    replay (duplicates, recoverable) — never loss. Single writer
    *    per sidecar.
    *
    * Estimator accuracy: stderr ≈ 1/√numHashes (~0.125 at 64) — pick
    * `threshold` with that margin in mind, or raise `numHashes`.
    *
    * Cost shape: bucket statistics come from the write-side-maintained
    * `$dir/stats` table (`sum(n)` per (band, bucket) — a table sized
    * by DISTINCT buckets), so the per-batch IO is ONE scan of the
    * bands table (the candidate join) plus the tiny stats scan — the
    * bands table is never re-aggregated at read time. Sidecars written
    * before the stats table existed fall back to aggregating bands
    * (one extra scan, same results); one compaction or any new append
    * establishes stats. [[compactMinhashSidecar]] bounds the per-scan
    * file count between ingests.
    *
    * Id contract: `idCol` must be castable to BIGINT (see
    * [[writeMinhashSidecar]]) — enforced loud, both ANSI modes. */
  def nearDupAgainstSidecar(batch: DataFrame, textCol: String, idCol: String,
                            sidecarDir: String, shingleK: Int = 2,
                            numHashes: Int = 64, bands: Int = 8,
                            threshold: Double = 0.7, bucketCap: Int = 200,
                            appendSurvivors: Boolean = true): DataFrame = {
    val survivors = nearDupSurvivorsPlan(batch, textCol, idCol, sidecarDir,
      shingleK, numHashes, bands, threshold, bucketCap).localCheckpoint(true)
    if (appendSurvivors)
      writeMinhashSidecar(survivors.filter(col("__sig").isNotNull),
        textCol, idCol, sidecarDir, shingleK, numHashes, bands)
    survivors.drop("__sig")
  }

  /** The LAZY survivor plan of [[nearDupAgainstSidecar]] (before the
    * checkpoint barrier) — exposed so plan-quality specs can assert
    * the single-bands-scan property on the exact plan the operator
    * runs. Carries the internal `__sig` column. */
  private[graft] def nearDupSurvivorsPlan(
      batch: DataFrame, textCol: String, idCol: String, sidecarDir: String,
      shingleK: Int, numHashes: Int, bands: Int,
      threshold: Double, bucketCap: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = batch.sparkSession
    val rows = numHashes / bands
    val bandsPath = new org.apache.hadoop.fs.Path(s"$sidecarDir/bands")
    val statsPath = new org.apache.hadoop.fs.Path(s"$sidecarDir/stats")
    val fs = bandsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val withSig = batch.withColumn("__sig",
      when(size(graft.functions.GraftFunctions
          .hashed_shingles(col(textCol), shingleK)) > 0,
        minhashSignature(graft.functions.GraftFunctions
          .hashed_shingles(col(textCol), shingleK), numHashes)))
    if (!fs.exists(bandsPath)) withSig
    else {
      val corpusBands = spark.read.parquet(s"$sidecarDir/bands")
      // drop degenerate corpus buckets BEFORE the candidate join —
      // counts from the write-side stats table when present (sidecars
      // predating it fall back to aggregating bands once)
      val bucketCounts =
        if (fs.exists(statsPath))
          spark.read.parquet(s"$sidecarDir/stats")
            .groupBy(col("band"), col("bucket"))
            .agg(sum(col("n")).as("__n"))
        else corpusBands.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("__n"))
      val okBuckets = bucketCounts
        .filter(col("__n") <= bucketCap)
        .select(col("band"), col("bucket"))
      val batchBands = withSig
        .filter(col("__sig").isNotNull)
        .select(idAsLong(idCol).as("__bid"),
          explode(bandKeys(col("__sig"), bands, rows)).as("bk"))
        .select(col("__bid"), col("bk.band").as("band"),
          col("bk.bucket").as("bucket"))
      val candidates = batchBands
        .join(okBuckets, Seq("band", "bucket"), "left_semi")
        .join(corpusBands.withColumnRenamed("id", "__cid"),
          Seq("band", "bucket"))
        .select(col("__bid"), col("__cid")).distinct()
      val est = candidates
        .join(withSig.select(idAsLong(idCol).as("__bid"),
          col("__sig").as("__sa")), "__bid")
        .join(spark.read.parquet(s"$sidecarDir/sigs")
          .select(col("id").as("__cid"), col("sig").as("__sb")), "__cid")
        .select(col("__bid"),
          (graft.functions.GraftFunctions
            .signature_agreement(col("__sa"), col("__sb"))
            .cast("double") / numHashes).as("__est"))
      val dupIds = est.filter(col("__est") >= threshold)
        .select(col("__bid").as(idCol)).distinct()
      withSig.join(dupIds, Seq(idCol), "left_anti")
    }
  }

  /** Compact the minhash sidecar's three tables — every ingest appends
    * one file set to each, and every membership check reads ALL of
    * them (the [[compactSidecar]] story, three times over). Bands sort
    * by bucket (row-group min/max stats prune the candidate join's
    * scan), sigs by id (the verification join's key); the stats table
    * additionally RE-AGGREGATES its per-ingest increments to one row
    * per (band, bucket) — counts are unchanged (sum of increments),
    * rows shrink to the distinct-bucket count. A sidecar written
    * before the stats table existed gains one here (rebuilt from
    * bands), upgrading its reads to the single-bands-scan path. Same
    * single-writer, between-ingests contract; backup-swap crash
    * behavior per [[graft.sources.Sinks.compactParquetDir]]. */
  def compactMinhashSidecar(spark: org.apache.spark.sql.SparkSession,
                            sidecarDir: String, coalesceTo: Int = 1): Unit =
    // the OUTER sidecarDir lock is the one writeMinhashSidecar takes —
    // the per-table locks compactParquetDir adds inside would not
    // exclude a concurrent ingest appending across all three tables
    graft.sources.Sinks.withDirLock(
        spark, sidecarDir, "compactMinhashSidecar") {
    graft.sources.Sinks.compactParquetDir(spark, s"$sidecarDir/sigs",
      coalesceTo = coalesceTo, sortCol = Some("id"))
    graft.sources.Sinks.compactParquetDir(spark, s"$sidecarDir/bands",
      coalesceTo = coalesceTo, sortCol = Some("bucket"))
    val statsPath = new org.apache.hadoop.fs.Path(s"$sidecarDir/stats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(statsPath))
      graft.sources.Sinks.compactParquetDir(spark, s"$sidecarDir/stats",
        coalesceTo = coalesceTo, sortCol = Some("bucket"),
        transform = Some(df => df.groupBy(col("band"), col("bucket"))
          .agg(sum(col("n")).as("n"))))
    else
      spark.read.parquet(s"$sidecarDir/bands")
        .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))
        .coalesce(coalesceTo).sortWithinPartitions(col("bucket"))
        .write.mode("append").parquet(s"$sidecarDir/stats")
    }

  /** Substring-level exact dedup signal: per-document duplicated-SPAN
    * fraction — how much of each document consists of token windows
    * that appear verbatim elsewhere in the corpus (or again in the
    * same document). The scalable proxy for suffix-array substring
    * dedup: documents are cut into non-overlapping `chunkTokens`-token
    * chunks ([[TextAnalysis.chunk]] with overlap 0 — full coverage,
    * partial tail kept), chunks are keyed by hash, and a chunk whose
    * hash occurs ≥ 2 times corpus-wide is a duplicated span.
    *
    * Shape at scale: chunking is a per-row projection (no shuffle);
    * occurrence counting is ONE hash aggregation whose keys are 8-byte
    * xxhash64 values (chunk text never rides the shuffle); the
    * join-back is co-partitioned on the same hash; the per-doc rollup
    * is the final aggregation. Hash collisions can only OVER-count
    * duplication — the safe direction for a dedup filter.
    *
    * Output per doc: n_chunks, n_dup_chunks, n_tokens, dup_tokens and
    * dup_span_frac = dup_tokens / n_tokens (exact longs, one final
    * IEEE division — cross-engine bit parity). */
  def duplicateSpans(df: DataFrame, textCol: String, idCol: String,
                     chunkTokens: Int = 50): DataFrame =
    spanRollup(TextAnalysis.chunk(df, textCol, chunkTokens, 0, idCol), idCol)

  /** Insertion-robust duplicated-span fraction: [[duplicateSpans]]
    * with CONTENT-DEFINED chunks ([[TextAnalysis.cdcChunk]]) instead
    * of fixed stride. An edited near-copy (a token inserted or
    * deleted) still shares every chunk except the edited one — its
    * dup_span_frac stays near 1 — whereas fixed-stride boundaries all
    * shift after the edit and the shared-span signal collapses to the
    * prefix before it (DedupSpec demonstrates both behaviors on the
    * same planted pair). Same scale shape: chunking is a shuffle-free
    * projection, occurrence counting one hash aggregation on 8-byte
    * chunk hashes. */
  def duplicateSpansCdc(df: DataFrame, textCol: String, idCol: String,
                        targetTokens: Int = 20): DataFrame =
    spanRollup(TextAnalysis.cdcChunk(df, textCol, targetTokens, idCol), idCol)

  /** Shared per-doc rollup of the duplicated-span family: count chunk
    * occurrences corpus-wide by hash, flag chunks occurring ≥ 2, roll
    * up exact longs per document (one final IEEE division). */
  private def spanRollup(chunked: DataFrame, idCol: String): DataFrame = {
    val chunks = chunked.select(col(idCol), col("chunk_tokens"),
      xxhash64(col("chunk_text")).as("ch"))
    val occ = chunks.groupBy(col("ch")).agg(count(lit(1)).as("occ"))
    chunks.join(occ, "ch")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(col("chunk_tokens")).as("n_tokens"),
        sum(when(col("occ") >= 2, col("chunk_tokens")).otherwise(0L))
          .as("dup_tokens"))
      .withColumn("dup_span_frac",
        col("dup_tokens").cast("double") / col("n_tokens"))
  }

  /** Duplicated-span REMOVAL — the rewrite step the span family was
    * missing: [[duplicateSpans]] measures how much of a document is
    * duplicated text, this op produces the CLEANED corpus. Documents
    * are cut into non-overlapping `chunkTokens`-token chunks
    * ([[TextAnalysis.chunk]], overlap 0, full coverage), every chunk
    * whose text already occurred earlier in the corpus — in ANOTHER
    * document or earlier in the same one — is dropped, and each
    * document's surviving chunks are reassembled in order. "Earlier"
    * is the deterministic global order (id, chunk_idx), so exactly ONE
    * copy of every distinct chunk survives corpus-wide (keep-FIRST),
    * the C4/RefinedWeb boilerplate-removal discipline, reproducible at
    * any cluster size.
    *
    * Shape at scale: chunking is a per-row projection (no shuffle);
    * the keep decision is one row_number window over the chunk-text
    * hash; reassembly is one aggregation on the document id. Two
    * shuffles total, both carrying ~corpus bytes — inherent to a
    * REWRITE op (the cleaned text has to be produced somewhere); the
    * decision itself keys on hashes, never pairs documents, and a
    * per-document chunk list is bounded by document length, so no
    * reducer sees more than one document's text in the final
    * aggregation. Hash collisions (`replayableKeys = false`,
    * xxhash64) can only OVER-delete — the safe direction for a dedup
    * rewrite; `replayableKeys = true` keys on the full md5 hex string
    * instead so an external engine replays the decision exactly
    * (the q157 oracle does — 128-bit collisions are not a thing).
    *
    * Output per doc: clean_text (may be empty when every chunk was
    * seen before), n_chunks, kept_chunks, n_tokens, removed_tokens.
    *
    * Survivor policy: default keep-FIRST in (id, chunk_idx) order.
    * `qualityCol = Some(q)` keeps the occurrence in the
    * HIGHEST-QUALITY document instead (order q DESC, then the same
    * (id, chunk_idx) tiebreak — still total, still deterministic at
    * any cluster size) — the q129 quality-argmax survivor rule
    * extended from whole-doc dedup to span removal: boilerplate
    * survives in the best document that carries it, not merely the
    * first. Same two-shuffle shape (the quality value rides the
    * existing chunk rows; no extra join). */
  def removeDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
                           chunkTokens: Int = 50,
                           replayableKeys: Boolean = false,
                           qualityCol: Option[String] = None): DataFrame = {
    val rideAlong = Seq(idCol) ++ qualityCol
    val chunked = TextAnalysis.chunk(df, textCol, chunkTokens, 0, rideAlong: _*)
    val key = if (replayableKeys) md5(col("chunk_text"))
              else xxhash64(col("chunk_text")).cast("string")
    val order = qualityCol.map(q => col(q).desc).toSeq ++
      Seq(col(idCol).asc, col("chunk_idx").asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k")).orderBy(order: _*)
    reassembleKept(chunked
      .withColumn("__k", key)
      .withColumn("__keep", row_number().over(w) === 1), idCol)
  }

  /** The per-doc reassembly of the span-removal family: kept chunks
    * (`__keep`) concatenated in chunk order, plus exact chunk and token
    * counts; `extra` aggregate columns are appended after them. */
  private def reassembleKept(decided: DataFrame, idCol: String,
                             extra: Column*): DataFrame =
    decided
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          sort_array(collect_list(
            when(col("__keep"), struct(col("chunk_idx"), col("chunk_text"))))),
          s => s.getField("chunk_text"))).as("clean_text"),
        (Seq(count(lit(1)).as("n_chunks"),
          sum(when(col("__keep"), 1L).otherwise(0L)).as("kept_chunks"),
          sum(col("chunk_tokens")).as("n_tokens"),
          sum(when(!col("__keep"), col("chunk_tokens")).otherwise(0L))
            .as("removed_tokens")) ++ extra): _*)

  /** Incremental [[removeDuplicateSpans]] — the per-shard form of the
    * span-removal rewrite, backed by a persisted CHUNK-KEY sidecar
    * (one md5 hex string per distinct chunk ever seen; the replayable-
    * keys variant is the only one offered because the whole point of
    * the incremental form is cross-run reproducibility). A batch
    * chunk is kept iff its key is absent from the sidecar (no earlier
    * shard carried it) AND it is the first occurrence within this
    * batch in (id, chunk_idx) order; after the keep decision the
    * batch's NEW distinct keys are appended so the next shard sees
    * them.
    *
    * Equivalence contract: when shards arrive in monotone id order
    * (shard k's ids all below shard k+1's — the q221 arrangement),
    * the union of per-shard outputs is ROW-IDENTICAL to one
    * [[removeDuplicateSpans]] (`replayableKeys = true`) over the
    * union: the global keep-first occurrence of every key lies in the
    * earliest shard that carries it, where it is batch-rank-1 and
    * unseen. Out-of-order arrival degrades gracefully to keep-FIRST-
    * ARRIVED (the production semantics when shards are time-ordered),
    * no longer keep-min-id. CurationPipelineSpec proves both the
    * equality and the ordering sensitivity.
    *
    * Scale shape per shard: chunking is a per-row projection; the
    * membership check is one left-anti-joinable hash lookup on md5
    * keys (AQE broadcasts the sidecar while it is small, runtime
    * bloom prunes the batch scan when it is not); the within-batch
    * keep is one window over the chunk key; reassembly one per-doc
    * aggregation. Sidecar rows are 32-byte hex keys — ∝ distinct
    * chunks, never corpus text. The decision is eagerly
    * localCheckpointed BEFORE the key append (the [[sidecarSurvivors]]
    * re-read trap: a later action re-running the membership join
    * against a sidecar that meanwhile contains this batch's own keys
    * would drop everything); the output and the appended keys are
    * both projections of that one materialization. SINGLE-WRITER like
    * every sidecar: serialize shard ingests per sidecarDir. */
  def removeDuplicateSpansAgainstSidecar(batch: DataFrame, textCol: String,
                                         idCol: String, sidecarDir: String,
                                         chunkTokens: Int = 50,
                                         batchId: Option[String] = None)
      : DataFrame = {
    val decided = spanRemovalDecide(batch, textCol, idCol, sidecarDir,
      chunkTokens, excludeBatchIds = batchId.toSet).localCheckpoint(true)
    appendChunkKeys(batch.sparkSession, newChunkKeys(decided), sidecarDir,
      batchId, "removeDuplicateSpansAgainstSidecar")
    decided.drop("__new_cks")
  }

  /** The span-removal DECISION half — all reads, no writes: chunk the
    * batch, mark chunks already in the sidecar (rows whose tag is in
    * `excludeBatchIds` are invisible — the crash-replay + retraction-
    * tombstone contract of [[sidecarSurvivors]], applied to chunk
    * keys), keep first occurrence per key within the batch,
    * reassemble. Returns one row per doc: [[removeDuplicateSpans]]'s
    * columns, then `__new_cks` — the keys of the doc's KEPT chunks
    * that the sidecar lacks, i.e. exactly one row's worth per unseen
    * key of the batch (the first occurrence), so [[newChunkKeys]] is
    * distinct by construction — then the `carry` columns (constant
    * per doc, so any row's value is the doc's).
    *
    * CHECKPOINT CONTRACT (the [[sidecarSurvivors]] one): the result is
    * LAZY; a caller materializes it before the key append and derives
    * both its output and the keys from that one materialization, so it
    * can order its own durable writes around the sidecar append
    * (sink-first — the [[graft.ops.CurationPipeline]] ingest
    * protocol, which checkpoints its whole stage 1–3 decision at
    * once). */
  private[graft] def spanRemovalDecide(batch: DataFrame, textCol: String,
                                       idCol: String, sidecarDir: String,
                                       chunkTokens: Int,
                                       excludeBatchIds: Set[String],
                                       carry: Seq[String] = Nil)
      : DataFrame = {
    val spark = batch.sparkSession
    val path = new org.apache.hadoop.fs.Path(sidecarDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val chunked = TextAnalysis.chunk(batch, textCol, chunkTokens, 0,
        idCol +: carry: _*)
      .withColumn("__k", md5(col("chunk_text")))
    def sidecarKeys: DataFrame = TaggedSidecar.exclude(
        graft.sources.Sinks.readParquet(spark, sidecarDir), excludeBatchIds)
      .select(col("ck"))
    val withSeen =
      if (!fs.exists(path)) chunked.withColumn("__seen", lit(false))
      else chunked
        .join(sidecarKeys.withColumn("__hit", lit(true)),
          col("__k") === col("ck"), "left")
        .withColumn("__seen", coalesce(col("__hit"), lit(false)))
        .drop("ck", "__hit")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k")).orderBy(col(idCol).asc, col("chunk_idx").asc)
    reassembleKept(
      withSeen.withColumn("__keep", !col("__seen") && row_number().over(w) === 1),
      idCol,
      collect_list(when(col("__keep"), col("__k"))).as("__new_cks") +:
        carry.map(c => any_value(col(c)).as(c)): _*)
  }

  /** The batch's new chunk keys (`ck`) from a materialized
    * [[spanRemovalDecide]] result — one row per key, no distinct
    * needed. */
  private[graft] def newChunkKeys(decided: DataFrame): DataFrame =
    decided.select(explode(col("__new_cks")).as("ck"))

  /** The chunk-key sidecar's append half (the [[appendDigestFps]]
    * twin): tagged rows make crash-replayed appends detectable
    * duplicates — set-semantics no-ops, collapsed by
    * [[compactChunkKeySidecar]] — instead of silent poison for the
    * replay's own keep decisions. */
  private[graft] def appendChunkKeys(spark: org.apache.spark.sql.SparkSession,
                                     newKeys: DataFrame, sidecarDir: String,
                                     batchId: Option[String],
                                     op: String): Unit = {
    TaggedSidecar.assertConsistent(spark, sidecarDir, batchId.isDefined, op)
    graft.sources.Sinks.withDirLock(spark, sidecarDir, op) {
      TaggedSidecar.tag(newKeys, batchId).sortWithinPartitions(col("ck"))
        .write.mode("append").parquet(sidecarDir)
    }
  }

  /** Distinct-collapse compaction of a chunk-key sidecar (the shared
    * backup-swap protocol): many per-shard appends → one sorted key
    * set. Idempotent over its own output; appends are already
    * new-keys-only so replays cannot inflate it either.
    * `dropBatchIds` physically removes tombstoned retraction tags
    * during the rewrite ([[compactSidecar]]'s contract). */
  def compactChunkKeySidecar(spark: org.apache.spark.sql.SparkSession,
                             sidecarDir: String,
                             dropBatchIds: Set[String] = Set.empty): Unit =
    graft.sources.Sinks.compactParquetDir(spark, sidecarDir,
      sortCol = Some("ck"),
      transform = Some(raw =>
        TaggedSidecar.exclude(raw, dropBatchIds).distinct()))

  /** n-gram Jaccard pairs via a capped inverted index: explode
    * shingles, drop shingles appearing in more than `dfCap` docs (the
    * stop-shingles that would otherwise make candidate generation
    * quadratic), pair docs sharing a surviving shingle, verify with
    * exact Jaccard. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        shingleK: Int = 3, threshold: Double = 0.3,
                        dfCap: Int = 50): DataFrame = {
    // fused hashed shingles: the inverted index shuffles longs, not
    // n-gram strings, and Jaccard verification intersects long arrays
    val withSh = df.select(col(idCol).as("id"),
      graft.functions.GraftFunctions.hashed_shingles(col(textCol), shingleK)
        .as("sh"))
    val inverted = withSh.select(col("id"), explode(col("sh")).as("shingle"))
    val rare = inverted.groupBy(col("shingle"))
      .agg(collect_list(col("id")).as("ids"), count(lit(1)).as("df"))
      .filter(col("df") <= dfCap && col("df") >= 2)
    val pairs = rare
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    // Optimization round 18, measured and deliberately left in the
    // single-DAG form: the minhashDedupPairs pairs-checkpoint +
    // candidate-only re-hash restructure was tried here too and
    // REGRESSED q27 (+0.09 s) and q184 (+0.44 s) at sf0.1 — this
    // pipeline hashes each shingle ONCE (no per-shingle signature
    // loop), so the two eager localCheckpoints' fixed job cost
    // exceeds the recompute they remove. The three withSh scans below
    // are one DAG evaluated in a single action; the expensive part
    // (the inverted-index aggregation) runs once either way.
    val shA = withSh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = withSh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    pairs.join(shA, "id_a").join(shB, "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT Jaccard similarity join via prefix filtering (the AllPairs /
    * PPJoin candidate bound — Bayardo et al. WWW'07, Xiao et al.
    * WWW'08) — the lossless counterpart of [[ngramJaccardPairs]]. The
    * capped inverted index is honest about its recall bound (a pair
    * whose every shared shingle exceeds `dfCap` is invisible, measured
    * by q187); this operator finds EVERY pair with Jaccard ≥ the
    * threshold, yet still never goes all-pairs:
    *
    *  1. '''Exact-collapse first''' (the q103 lesson that keeps the
    *     dedup family flat at 100× duplication density): docs with
    *     identical shingle SETS — exact dups and token-permuted dups —
    *     collapse to one representative (`rep` = min id) with a
    *     multiplicity count BEFORE any pairwise work. On an N×-
    *     duplicated corpus the pair space shrinks N² while losing
    *     nothing: within-group pairs are Jaccard-1 by construction and
    *     belong to the exact-dedup family, and cross-group similarity
    *     is invariant under the collapse.
    *  2. '''Canonical frequency order''': every set is sorted by
    *     (corpus df ASC, shingle ASC) — a total order that pushes the
    *     discriminating RARE shingles to the front. Computed with one
    *     token-keyed agg + a per-doc window; no global rank and no
    *     driver state.
    *  3. '''Prefix filter''': a set of size L keeps only its first
    *     `L - ceil(t·L) + 1` tokens as join keys. Lemma (prefix
    *     filtering principle): two sets with Jaccard ≥ t MUST share a
    *     token inside both prefixes under any common total order — so
    *     joining prefix-to-prefix is complete, while the frequent
    *     tokens (the ones that would blow up an inverted index) sit
    *     outside every prefix. The length filter
    *     `den·min(|a|,|b|) ≥ num·max(|a|,|b|)` (J ≤ min/max) prunes
    *     incompatible sizes inside the join condition.
    *  4. '''Exact verification''' on the distinct candidates:
    *     `|∩|` via `array_intersect`, union by inclusion-exclusion,
    *     and the threshold test in INTEGER cross-multiplied form
    *     (`den·|∩| ≥ num·|∪|`) so no IEEE comparison sits on the
    *     decision boundary; the reported `jaccard` is one double
    *     division of exact longs (cross-engine bit-stable).
    *
    * The threshold is the exact rational `num/den` (e.g. 3/10);
    * `ceil(t·L)` is `(num·L + den - 1) DIV den` in 64-bit integers on
    * both engines, so the prefix lengths — hence the candidate set —
    * replay exactly in ANSI SQL (q192's oracle runs the whole
    * pipeline on string shingles). The positional refinement (PPJoin's
    * overlap upper bound from prefix positions) is a documented
    * non-goal: it prunes candidates that here flow into one hash-join
    * verification anyway, and keeping the candidate step position-free
    * lets the DISTINCT collapse duplicates early.
    *
    * Scale shape: shuffles are (set → collapse), (token → df + prefix
    * join), (rep → positions, verification joins) — all key-bounded;
    * candidate volume is Σ_token prefixEntries(token)², concentrated
    * on rare tokens by construction. Shingle arrays ride the collapse
    * shuffle once; the prefix join moves only (token, rep, ln) rows.
    *
    * Output: one row per verified pair of DISTINCT shingle sets —
    * (id_a, id_b, n_a, n_b, jaccard) with `n_*` the collapsed
    * multiplicities; 0 < jaccard < 1 by construction (identical sets
    * never pair — they share a representative). */
  def prefixJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                         shingleK: Int = 2, thresholdNum: Int = 3,
                         thresholdDen: Int = 10): DataFrame = {
    require(thresholdNum > 0 && thresholdDen > thresholdNum,
      s"threshold must be a rational in (0,1), got $thresholdNum/$thresholdDen")
    val num = thresholdNum.toLong
    val den = thresholdDen.toLong
    // Hashed (xxhash64) shingles end-to-end — the q25/q27 convention:
    // set SIZES (hence Jaccard values, multiplicities, and the verified
    // pair set) are identical to the string formulation up to 64-bit
    // collisions, while the collapse/df/join keys shuffle 8-byte longs
    // instead of n-gram strings and verification runs the fused
    // zero-allocation sorted-merge. The CANDIDATE set differs from the
    // string oracle's (a different total order ranks tokens
    // differently) — irrelevant by construction: prefix filtering is
    // complete under ANY common total order, and exact verification
    // makes the OUTPUT candidate-independent.
    val sets = df
      .select(col(idCol).as("id"),
        sort_array(graft.functions.GraftFunctions
          .hashed_shingles(col(textCol), shingleK)).as("s"))
      .filter(size(col("s")) >= 1)
    // 1. exact-collapse on the set itself (arrays are grouping keys in
    // both engines; the set must ride this shuffle anyway for step 4).
    // Materialized once (localCheckpoint, the Clustering/IVFPQ
    // pattern): it feeds the inverted index AND both verification
    // sides, and Spark's exchange reuse does not fire across the
    // differently-aliased self-join branches — without this the
    // collapse shuffle runs 3×.
    val grp = sets.groupBy(col("s"))
      .agg(min(col("id")).as("rep"), count(lit(1)).as("n"))
      .withColumn("ln", size(col("s")).cast("long"))
      .localCheckpoint(true)
    val inv = grp.select(col("rep"), col("ln"), explode(col("s")).as("g"))
    // 2. canonical (df ASC, token ASC) order → per-set positions
    val dft = inv.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val pos = inv.join(dft, "g")
      .withColumn("p", row_number().over(
        Window.partitionBy(col("rep")).orderBy(col("df"), col("g"))))
    // 3. prefix filter: first L - ceil(t·L) + 1 tokens of each set
    // materialized for the same reason: both sides of the candidate
    // self-join read it, and each would otherwise re-run the df agg +
    // per-set window
    val pref = pos.filter(
      col("p") <= col("ln") - expr(s"(${num} * ln + ${den - 1}) DIV ${den}") + 1)
      .select(col("rep"), col("ln"), col("g"))
      .localCheckpoint(true)
    val cand = pref.as("x").join(pref.as("y"),
        col("x.g") === col("y.g") && col("x.rep") < col("y.rep") &&
          lit(den) * least(col("x.ln"), col("y.ln")) >=
            lit(num) * greatest(col("x.ln"), col("y.ln")))
      .select(col("x.rep").as("id_a"), col("y.rep").as("id_b"))
      .distinct()
    // 4. exact verification, integer threshold test
    val a = grp.select(col("rep").as("id_a"), col("s").as("s_a"),
      col("n").as("n_a"), col("ln").as("ln_a"))
    val b = grp.select(col("rep").as("id_b"), col("s").as("s_b"),
      col("n").as("n_b"), col("ln").as("ln_b"))
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("inter", graft.functions.GraftFunctions
        .sorted_intersect_count(col("s_a"), col("s_b")).cast("long"))
      .withColumn("uni", col("ln_a") + col("ln_b") - col("inter"))
      .filter(lit(den) * col("inter") >= lit(num) * col("uni"))
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        (col("inter").cast("double") / col("uni")).as("jaccard"))
  }

  /** EXACT containment join — the ASYMMETRIC companion of
    * [[prefixJaccardPairs]]: emit (src, dst) where
    * C(src→dst) = |S_src ∩ S_dst| / |S_src| ≥ num/den — "most of
    * src's shingles appear in dst". Jaccard is blind to exactly this
    * case: a paragraph quoted inside a long document scores near-zero
    * Jaccard (the union is dominated by the long side) but
    * containment ≈ 1 — the sub-document copying / quotation /
    * boilerplate-inclusion detector a symmetric threshold cannot be
    * tuned into.
    *
    * Same exactness discipline as q192: hashed (xxhash64) shingles
    * end-to-end (set sizes, hence containment values and the verified
    * pair set, identical to the string formulation up to 64-bit
    * collisions), exact-collapse of identical sets BEFORE pairwise
    * work, candidates from a prefix filter, verification by the fused
    * sorted-merge intersect with the CROSS-MULTIPLIED integer test
    * `den·|∩| ≥ num·|S_src|` — no IEEE compare on the decision
    * boundary; the output `containment` is one division of exact
    * longs. Identical sets collapse to one representative, so
    * emitted pairs are between DISTINCT sets (intra-group pairs are
    * the exact-dup family's, multiplicities ride as n_src/n_dst).
    *
    * Candidate bound (the asymmetry's price): only the PROBE side has
    * a prefix — src needs just `ln_src − ceil(t·ln_src) + 1` of its
    * rarest tokens indexed (missing all of them forfeits > (1−t) of
    * src, so the filter is complete) — while dst must index EVERY
    * token. Candidates are therefore Σ_{g ∈ prefixes} df(g): the
    * canonical (df ASC, token ASC) order makes prefix tokens the
    * rarest ones, which is what keeps that sum near-linear on natural
    * corpora (the standard AllPairs containment bound); a corpus of
    * all-stopword documents degrades toward the full token join, the
    * documented worst case. The size filter `den·ln_dst ≥ num·ln_src`
    * (|∩| ≤ min of the sizes) prunes pairs whose dst is too small
    * before verification. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       shingleK: Int = 2, thresholdNum: Int = 8,
                       thresholdDen: Int = 10): DataFrame = {
    require(thresholdNum > 0 && thresholdDen > thresholdNum,
      s"threshold must be a rational in (0,1), got $thresholdNum/$thresholdDen")
    val num = thresholdNum.toLong
    val den = thresholdDen.toLong
    val sets = df
      .select(col(idCol).as("id"),
        sort_array(graft.functions.GraftFunctions
          .hashed_shingles(col(textCol), shingleK)).as("s"))
      .filter(size(col("s")) >= 1)
    val grp = sets.groupBy(col("s"))
      .agg(min(col("id")).as("rep"), count(lit(1)).as("n"))
      .withColumn("ln", size(col("s")).cast("long"))
      .localCheckpoint(true)
    val inv = grp.select(col("rep"), col("ln"), explode(col("s")).as("g"))
    val dft = inv.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // probe-side prefixes only; the dst side joins the FULL inverted
    // index (localCheckpointed once — it feeds the candidate join and
    // would otherwise re-run the explode)
    val posted = inv.localCheckpoint(true)
    val pref = posted.join(dft, "g")
      .withColumn("p", row_number().over(
        Window.partitionBy(col("rep")).orderBy(col("df"), col("g"))))
      .filter(col("p") <= col("ln") - expr(s"(${num} * ln + ${den - 1}) DIV ${den}") + 1)
      .select(col("rep"), col("ln"), col("g"))
    val cand = pref.as("x").join(posted.as("y"),
        col("x.g") === col("y.g") && col("x.rep") =!= col("y.rep") &&
          lit(den) * col("y.ln") >= lit(num) * col("x.ln"))
      .select(col("x.rep").as("id_src"), col("y.rep").as("id_dst"))
      .distinct()
    val a = grp.select(col("rep").as("id_src"), col("s").as("s_a"),
      col("n").as("n_src"), col("ln").as("ln_src"))
    val b = grp.select(col("rep").as("id_dst"), col("s").as("s_b"),
      col("n").as("n_dst"), col("ln").as("ln_dst"))
    cand.join(a, "id_src").join(b, "id_dst")
      .withColumn("inter", graft.functions.GraftFunctions
        .sorted_intersect_count(col("s_a"), col("s_b")).cast("long"))
      .filter(lit(den) * col("inter") >= lit(num) * col("ln_src"))
      .select(col("id_src"), col("id_dst"), col("n_src"), col("n_dst"),
        (col("inter").cast("double") / col("ln_src")).as("containment"))
  }

  /** Split-leakage audit: near-duplicate pairs that CROSS a train/test
    * boundary — the check a training pipeline runs after splitting,
    * because a test doc whose near-dup sits in train leaks the answer
    * even though no doc appears on both sides. Composes the
    * [[ngramJaccardPairs]] verified-candidate machinery with the
    * md5-uniform split decision ([[Relational.groupAwareSplit]]'s
    * formula, replayable in any engine), so the VIOLATION SET itself
    * is externally checkable, not just its size. Output one row per
    * leaking pair: (train_id, test_id, jaccard).
    *
    * Scale shape: inherited — the pair generation is the capped
    * inverted index (never all-pairs), the split flag is a per-row
    * projection, and the side filter drops same-side pairs before
    * anything wide. The fix for a violation is policy (move or drop
    * one side); this op only reports. */
  def splitLeakageAudit(df: DataFrame, textCol: String, idCol: String,
                        testFraction: Double, seed: Long = 42L,
                        shingleK: Int = 3, threshold: Double = 0.3,
                        dfCap: Int = 50): DataFrame = {
    val sides = Relational.groupAwareSplit(
        df.select(col(idCol)), group = col(idCol),
        testFraction = testFraction, seed = seed)
      .select(col(idCol).as("__sid"), col("is_test"))
    ngramJaccardPairs(df, textCol, idCol, shingleK, threshold, dfCap)
      .join(sides.select(col("__sid").as("id_a"), col("is_test").as("__ta")),
        Seq("id_a"))
      .join(sides.select(col("__sid").as("id_b"), col("is_test").as("__tb")),
        Seq("id_b"))
      .filter(col("__ta") =!= col("__tb"))
      .select(
        when(col("__ta"), col("id_b")).otherwise(col("id_a")).as("train_id"),
        when(col("__ta"), col("id_a")).otherwise(col("id_b")).as("test_id"),
        col("jaccard"))
  }

  /** Edit-distance-verified near-dup pairs: prefix blocking + BOUNDED
    * Levenshtein — the character-level verifier the set-based family
    * (Jaccard/minhash/SimHash) fundamentally lacks. Token-set methods
    * score a reordered doc as a perfect dup and are blind to
    * within-word noise (OCR errors, hyphenation, diff-sized typos);
    * edit distance is the standard exact verifier for both.
    *
    * Shape: block on the first `prefixLen` chars of the NORMALIZED
    * text ([[TextAnalysis.normalizeText]] — case/punctuation/
    * whitespace noise collapses first, so formatting edits don't
    * break the block), pair within blocks only, verify with Spark's
    * builtin `levenshtein(l, r, threshold)` — the threshold form runs
    * the banded O(len·maxDist) algorithm and returns -1 past the
    * band, so a blocked pair of 100 KB docs costs len·maxDist, not
    * len². One shuffle (the block-key window + the self-join share
    * the block clustering). Oversized blocks (shared boilerplate
    * prefixes) are dropped by `blockCap` — the q27 `dfCap` rule:
    * candidate generation stays ∝ blocks·cap², never quadratic in a
    * hot block. Blocking recall: an edit inside the first `prefixLen`
    * normalized chars moves the doc to another block — prefix
    * blocking is the documented trade (pair it with the minhash
    * family when edits can land anywhere; this op is the VERIFIER).
    *
    * Everything here — the normalization regexes, the prefix, the
    * plain `levenshtein` — replays in ANSI SQL, so the whole op is
    * oracle-checkable (q164), unlike hash-seeded candidates.
    * `sim = 1 - dist/max(len)` is one IEEE division of exact longs —
    * cross-engine bit-stable. ASCII contract: both engines count
    * Levenshtein in characters; the normalized text here is
    * [a-z0-9 ]-only, so byte = char and the counts agree. */
  def editDistancePairs(df: DataFrame, textCol: String, idCol: String,
                        prefixLen: Int = 12, maxDist: Int = 40,
                        blockCap: Int = 50): DataFrame = {
    require(prefixLen > 0 && maxDist >= 0 && blockCap >= 2,
      s"bad parameters: prefixLen=$prefixLen maxDist=$maxDist blockCap=$blockCap")
    val norm = df.select(col(idCol).as("id"),
      TextAnalysis.normalizeText(col(textCol)).as("nt"))
      .withColumn("bk", substring(col("nt"), 1, prefixLen))
    val sized = norm.withColumn("__bn",
      count(lit(1)).over(Window.partitionBy(col("bk"))))
    val ok = sized.filter(col("__bn") >= 2 && col("__bn") <= blockCap)
    // Collapse identical normalized texts before any Levenshtein —
    // the q103 exact-collapse rule, semantics-FREE here too: dist is
    // a function of nt alone, so every member of a text-group shares
    // its representative's distances (the expansion below reproduces
    // the exact per-doc pair set, oracle hash unchanged) and
    // intra-group distances are 0 by definition. Verification work is
    // ∝ DISTINCT text pairs: a 10×-duplicated corpus does 1× the
    // Levenshtein (round-8 ScaleBench caught the ×16 it costs
    // without this; block sizes still count DOCS, so the blockCap
    // drop set is unchanged). Group member lists are bounded by
    // blockCap.
    val groups = ok.groupBy(col("bk"), col("nt"))
      .agg(collect_list(col("id")).as("ids"))
    val ga = groups.select(col("bk"), col("nt").as("nt_a"),
      col("ids").as("ids_a"))
    val gb = groups.select(col("bk"), col("nt").as("nt_b"),
      col("ids").as("ids_b"))
    val cross = ga.join(gb, Seq("bk"))
      .filter(col("nt_a") < col("nt_b"))
      .withColumn("dist",
        levenshtein(col("nt_a"), col("nt_b"), maxDist).cast("long"))
      .filter(col("dist") >= 0L)
      .withColumn("sim", round(lit(1.0) - col("dist").cast("double") /
        greatest(length(col("nt_a")), length(col("nt_b"))).cast("double"),
        6))
      .select(explode(col("ids_a")).as("__ia"), col("ids_b"),
        col("dist"), col("sim"))
      .select(col("__ia"), explode(col("ids_b")).as("__ib"),
        col("dist"), col("sim"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"),
        col("dist"), col("sim"))
    val intra = groups.filter(size(col("ids")) >= 2)
      .select(col("nt"), explode(col("ids")).as("__ia"), col("ids"))
      .select(col("nt"), col("__ia"), explode(col("ids")).as("__ib"))
      .filter(col("__ia") < col("__ib"))
      .select(col("__ia").as("id_a"), col("__ib").as("id_b"),
        lit(0L).as("dist"),
        // same IEEE expression as the cross pairs at dist 0 (an empty
        // nt yields NaN in both engines, not a fabricated 1.0)
        round(lit(1.0) - lit(0.0) / length(col("nt")).cast("double"), 6)
          .as("sim"))
    cross.unionAll(intra)
  }

  /** Dedup-quality evaluation — the [[graft.ops.RetrievalMetrics]]
    * idea applied to near-dup detection: audit the banded MinHash-LSH
    * candidate generator ([[minhashDedupPairsMd5]]) against the
    * capped-inverted-index reference pair set ([[ngramJaccardPairs]])
    * at the same shingle space and verification threshold, in ONE
    * summary row:
    *
    *  - `candidate_precision` = verified / candidates — how much of
    *    the banding's candidate volume survives exact-Jaccard
    *    verification (the efficiency knob bands/numHashes tune);
    *  - `reference_recall` = common / reference — what fraction of
    *    the reference pairs the banding surfaced (the recall knob);
    *  - `n_extra` = verified pairs the reference's df-capped index
    *    missed (pairs whose every shared shingle is a stop-shingle —
    *    the two generators' blind spots are DIFFERENT, which is
    *    exactly why this audit reports both directions).
    *
    * Both constituent pipelines are externally replayable (the
    * q149/q27 oracles), so the metric VALUES hash-compare — for the
    * production xxhash64 pipeline, this audit is the spec-level
    * recall evidence made continuous. Scale shape: inherited from the
    * two generators (bucket/df caps, never all-pairs); the audit
    * join touches only pair rows. */
  def nearDupEval(df: DataFrame, textCol: String, idCol: String,
                  shingleK: Int = 2, numHashes: Int = 16, bands: Int = 4,
                  threshold: Double = 0.5, dfCap: Int = 20,
                  bucketCap: Int = 200): DataFrame = {
    val cand = minhashDedupPairsMd5(df, textCol, idCol, shingleK,
        numHashes, bands, threshold = 0.0, bucketCap)
      .select(col("id_a"), col("id_b"),
        (col("jaccard") >= threshold).as("__verified"))
    val ref = ngramJaccardPairs(df, textCol, idCol, shingleK, threshold,
        dfCap)
      .select(col("id_a"), col("id_b"), lit(true).as("__in_ref"))
    cand.join(ref, Seq("id_a", "id_b"), "full_outer")
      .agg(
        sum(when(col("__verified").isNotNull, 1L).otherwise(0L))
          .as("n_candidates"),
        sum(when(col("__verified") === true, 1L).otherwise(0L))
          .as("n_verified"),
        sum(when(col("__in_ref"), 1L).otherwise(0L)).as("n_reference"),
        sum(when(col("__in_ref") && col("__verified") === true, 1L)
          .otherwise(0L)).as("n_common"),
        sum(when(col("__verified") === true && col("__in_ref").isNull, 1L)
          .otherwise(0L)).as("n_extra"))
      .select(col("n_candidates"), col("n_verified"), col("n_reference"),
        col("n_common"), col("n_extra"),
        // guard with CASE, not coalesce: double x/0 is Inf/NaN (not
        // null) and engines disagree on it — never let it form
        when(col("n_candidates") > 0,
          round(col("n_verified").cast("double") /
            col("n_candidates").cast("double"), 6)).otherwise(lit(0.0))
          .as("candidate_precision"),
        when(col("n_reference") > 0,
          round(col("n_common").cast("double") /
            col("n_reference").cast("double"), 6)).otherwise(lit(0.0))
          .as("reference_recall"))
  }
}
