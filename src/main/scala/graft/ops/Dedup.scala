package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SimHash64.simhash64

/** Deduplication surface over the `documents` table (doc_id, text, lang,
  * source, n_chars) — the training-data-pipeline operators layered on top
  * of the reference's single-table model.
  *
  * Tiers:
  *  - [[exact]]            — hash-groupBy; one shuffle on the text hash.
  *  - [[minHashPairs]]     — MinHash + LSH banding: shingle → k minhashes →
  *                           band buckets → equi-join on bucket → exact
  *                           jaccard re-rank. Candidate generation is a
  *                           shuffle on band keys, never a cross join.
  *  - [[simHashPairs]]     — 64-bit SimHash (native Catalyst expression)
  *                           + hamming-ball match via band partitioning.
  *  - [[ngramJaccardPairs]]— exact n-gram jaccard on LSH candidates.
  *  - [[charJaccardPairs]] — character-set jaccard (the cheap fingerprint
  *                           DuckDB also implements, giving an exact SQL
  *                           oracle for the pair-generation plumbing).
  *
  * Everything is `functions._` / native expressions — codegen'd, no UDFs.
  */
object Dedup {

  /** Whitespace tokenization shared by the fuzzy tiers. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Word n-gram shingles of the text; distinct set
    * ([[graft.functions.WordShingles]] — one fused native pass). */
  def shingles(text: Column, n: Int): Column =
    graft.functions.WordShingles.wordShingles(text, n)

  /** Exact dedup: group identical texts, keep the smallest doc_id as the
    * canonical row. The groupBy key is the md5 of the text (not the full
    * text) so the shuffle carries 16 bytes per row instead of the document
    * body — the difference between shuffling 100 TB and shuffling 2 TB. */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  /** The duplicate rows [[exact]] would drop (doc_id != canonical). */
  def exactDropList(documents: DataFrame): DataFrame = {
    val canon = exact(documents).select(col("text_hash"), col("keep_id"))
    documents
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
      .join(canon, "text_hash")
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), col("keep_id"))
      .orderBy(col("doc_id"))
  }

  /** Incremental history dedup through a bloom runtime filter: keep every
    * `incoming` document whose text does NOT already appear in `history` —
    * the per-snapshot dedup a pipeline runs against its accumulated
    * corpus. The bloom carries the economics: the history's text hashes
    * fold into a KB–MB filter (scalar subquery — built once, broadcast
    * with the plan); a bloom-NEGATIVE row is DEFINITELY unseen (blooms
    * admit no false negatives) and bypasses the anti-join entirely, so
    * only the maybe-seen minority re-checks exactly. Against 100 TB of
    * history the exact anti-join processes a few percent of the batch
    * instead of all of it; correctness never depends on the filter.
    *
    * An empty history (or all-NULL texts) makes the bloom aggregate NULL;
    * NULL means nothing was ever inserted — definitely unseen — so both
    * branches coalesce `maybe` to false and the bootstrap batch survives
    * intact instead of being silently dropped.
    *
    * Output: surviving (doc_id, text_hash), doc_id order. */
  def historyDedupBloom(spark: org.apache.spark.sql.SparkSession,
      incoming: DataFrame, history: DataFrame,
      estItems: Long = 65536L): DataFrame = {
    graft.GraftExtensions.register(spark)
    incoming.createOrReplaceTempView("bloom_dedup_inc")
    history.createOrReplaceTempView("bloom_dedup_hist")
    spark.sql(
      s"""WITH inc AS (SELECT doc_id, md5(text) AS text_hash FROM bloom_dedup_inc),
         |hist AS (SELECT DISTINCT md5(text) AS h FROM bloom_dedup_hist),
         |flagged AS (
         |  SELECT doc_id, text_hash,
         |    bloom_might_contain(
         |      (SELECT bloom_build(md5(text), ${estItems}L) FROM bloom_dedup_hist),
         |      text_hash) AS maybe
         |  FROM inc)
         |SELECT doc_id, text_hash FROM flagged WHERE NOT coalesce(maybe, false)
         |UNION ALL
         |SELECT f.doc_id, f.text_hash
         |FROM (SELECT * FROM flagged WHERE coalesce(maybe, false)) f
         |LEFT ANTI JOIN hist ON f.text_hash = hist.h
         |ORDER BY doc_id""".stripMargin)
  }

  /** MinHash signature column: array of `k` minhashes of the shingle set —
    * the [[graft.functions.MinHashSig]] native expression (one FNV hash
    * per shingle, k affine permutations derived in-register; the composed
    * transform+array_min version rehashed every shingle k times through
    * interpreted HOFs). */
  def minHashSignature(shingleSet: Column, k: Int): Column =
    graft.functions.MinHashSig.minhashSig(shingleSet, k)

  /** MinHash+LSH near-duplicate candidate pairs with exact jaccard re-rank.
    *
    * `k` minhashes split into `bands` bands of k/bands rows each; docs
    * colliding on any band's hash become candidates (standard banding: with
    * k=64, bands=16 → r=4, the S-curve threshold is ≈ (1/16)^(1/4) ≈ 0.5).
    * Exact jaccard over shingle sets then filters to `threshold`.
    */
  def minHashPairs(documents: DataFrame, n: Int = 3, k: Int = 64,
      bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    // The band join carries only (band, bandhash, doc_id) — 24-byte rows —
    // and the shingle sets are re-attached to the few surviving candidate
    // pairs afterwards. Shuffling shingle arrays through the join/distinct
    // (the naive layout) dominates runtime and network at scale. The
    // banded frame is snapshotted so the shingle+signature computation
    // runs ONCE — a self-join's sides are separate subplans, and without
    // the snapshot the k-minhash pass over every document runs twice.
    // DISK_ONLY (the bandedSelfJoin convention): `bands` rows per
    // document must not compete with the band join's shuffle memory at
    // billion-row corpora.
    val banded = minHashBanded(documents, n, k, bands)
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val candidates = banded.select(col("band"), col("bh"), col("doc_id").as("id_a"))
      .join(banded.select(col("band"), col("bh"), col("doc_id").as("id_b")), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    jaccardVerify(candidates, documents, n, threshold)
  }

  /** The LSH banding frame both the batch join and the STREAMING bucket
    * state consume: (doc_id, band, bh) — stateless column expressions
    * only, so the same construction runs under Structured Streaming
    * unchanged (the parity guarantee's foundation). */
  def minHashBanded(documents: DataFrame, n: Int = 3, k: Int = 64,
      bands: Int = 16): DataFrame = {
    val r = k / bands
    documents.select(col("doc_id"), shingles(col("text"), n).as("sh"))
      .withColumn("sig", minHashSignature(col("sh"), k))
      .select(col("doc_id"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            xxhash64(slice(col("sig"), b * r + 1, r)).as("bh"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Exact-jaccard verification over candidate (id_a, id_b) pairs:
    * shingle sets re-attach to the candidates by id (two equi-joins),
    * never riding the candidate-generation shuffle. Shared by the batch
    * LSH path and the streaming parity harness, so both verify
    * identically by construction. */
  def jaccardVerify(candidates: DataFrame, documents: DataFrame,
      n: Int = 3, threshold: Double = 0.5): DataFrame =
    jaccardVerifyUnordered(candidates, documents, n, threshold)
      .orderBy(col("id_a"), col("id_b"))

  /** [[jaccardVerify]] without the presentation sort — for composition
    * under a downstream union/distinct/aggregation, where an
    * intermediate global sort is a wasted exchange. */
  private[graft] def jaccardVerifyUnordered(candidates: DataFrame,
      documents: DataFrame, n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val shingled = documents.select(col("doc_id"), shingles(col("text"), n).as("sh"))
    candidates
      .join(shingled.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shingled.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** [[minHashPairs]] for a DELTA of newly-arrived documents against a
    * STANDING corpus — the text tier's arrival-time deep-history pair
    * generation, closing the one asymmetry in the incremental family:
    * the TTL streaming LSH answers "near-dup of anything in the recent
    * horizon", [[historyDedupBloom]] answers "byte-identical to anything
    * ever seen", and this answers "near-dup of ANYTHING ever seen", batch
    * over a persisted index like [[hammingPairs128Between]] for images.
    *
    * The standing corpus persists its (band, bh, doc_id) band-signature
    * table ONCE (a MinHash signature is corpus-independent, so the index
    * never needs retraining — append-only under arrivals, like the
    * inverted index). The delta's banded frame BROADCASTS into the index
    * (no shuffle of either side), the delta self-join adds delta×delta
    * candidates, and the exact-jaccard verify re-attaches shingle sets
    * ONLY for candidate endpoints: the corpus text scan is pruned by a
    * broadcast semi-join on the delta-bounded candidate id set before
    * anything is shingled — nothing corpus-sized is shingled, shuffled,
    * or banded at arrival time. Same (id_a, id_b, jaccard) rows as the
    * full [[minHashPairs]] restricted to delta-touching pairs (signature
    * corpus-independence makes that an exact equality, not a recall
    * statement). Base/delta doc_id sets must be disjoint. EAGER: the
    * delta banding is snapshotted (it feeds both join legs). */
  /** `expiredIds` composes RETENTION with arrival-time serving: the
    * persisted band-signature index and doc-text lookup drop the expired
    * documents' rows through [[expireRows]]' broadcast anti-join before
    * the delta joins them — so arrivals can never re-pair with retired
    * documents, and the output equals [[minHashPairsIncremental]] over
    * (base − expired) exactly (band signatures are per-document, pinned
    * in RetentionSpec). The physical index rewrite stays an offline
    * compaction decision; serving-path expiry is one narrow anti-join. */
  def minHashPairsIncremental(spark: org.apache.spark.sql.SparkSession,
      dir: String, baseDocs: => DataFrame, deltaDocs: DataFrame,
      n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, suffix: String = "_base",
      expiredIds: Option[DataFrame] = None): DataFrame = {
    def expire(df: DataFrame): DataFrame =
      expiredIds.fold(df)(e => expireRows(df, "doc_id", e))
    val idx = expire(minHashBandIndexPersisted(spark, dir, baseDocs, n, k,
      bands, suffix))
    val lookup = expire(minHashDocTextPersisted(spark, dir, baseDocs, suffix))
    val bandedDelta = minHashBanded(deltaDocs, n, k, bands)
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = minHashCandidates(bandedDelta, idx)
    // candidate-endpoint shard set: candidates are delta-bounded and
    // already snapshotted, so this is a bounded driver read of ≤
    // DocTextShards longs — the same class as the BM25 term-shard
    // literals. The isin filter becomes a PartitionFilter on the lookup
    // table, so verify-side base-text I/O is ∝ candidate shards, not one
    // full corpus stream-through per arrival batch.
    val shards = candidates
      .select(explode(array(pmod(col("id_a"), lit(DocTextShards)),
        pmod(col("id_b"), lit(DocTextShards)))).as("s"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val docs = lookup.filter(col("shard").isin(shards: _*))
      .select(col("doc_id"), col("text"))
      .unionByName(deltaDocs.select(col("doc_id"), col("text")))
    verifyCandidates(candidates, docs, n, threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** [[minHashPairsIncremental]]`(expiredIds)`'s MAINTENANCE-WINDOW twin
    * (the [[graft.ops.Search.bm25TopKRetiredRewritten]] pattern on the
    * text tier): instead of anti-joining the expired set against the
    * persisted band index AND the doc-text lookup on every arrival
    * batch — right for a fresh TTL batch, but a standing per-batch tax
    * that grows with the expired set — both tables are physically
    * REWRITTEN once ([[graft.sources.ManagedTable.rewriteExpired]],
    * expired rows dropped in place, band/shard partitioning preserved),
    * and serving runs the exact un-expired incremental plan against the
    * dedicated `_rwret` copies: band broadcast join + shard-pruned text
    * lookup, NO anti-join anywhere. Band signatures are per-document
    * (RetentionSpec), so the rewritten index IS the survivors' index and
    * the emitted pairs are bit-identical to the serve-time-expiry path —
    * both share one oracle. The `_rwret` copies keep the shared
    * full-corpus `_base` index serving the other query families. */
  def minHashPairsIncrementalRewritten(spark: org.apache.spark.sql.SparkSession,
      dir: String, baseDocs: => DataFrame, deltaDocs: DataFrame,
      expiredIds: DataFrame, n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    val appId = spark.sparkContext.applicationId
    val fp = graft.sources.ManagedTable.idSetFingerprint(expiredIds, "doc_id")
    val builtFp = graft.sources.ManagedTable.once(
        s"$appId/minhash_rwret/$dir/${n}_${k}_$bands") {
      val tag = graft.sources.ManagedTable.tag(dir)
      // build the dedicated copies (memoized persisted builders), then
      // drop the expired rows in place — one maintenance pass, not a
      // per-batch anti-join
      minHashBandIndexPersisted(spark, dir, baseDocs, n, k, bands, "_rwret")
      minHashDocTextPersisted(spark, dir, baseDocs, "_rwret")
      graft.sources.ManagedTable.rewriteExpired(spark,
        s"minhash_bands_${n}_${k}_${bands}_rwret_$tag", "doc_id",
        expiredIds, partitionCol = Some("band"))
      graft.sources.ManagedTable.rewriteExpired(spark,
        s"minhash_doctext_rwret_$tag", "doc_id",
        expiredIds, partitionCol = Some("shard"))
      fp
    }
    graft.sources.ManagedTable.requireSameExpiry(builtFp, fp,
      s"the _rwret MinHash index for $dir")
    // the persisted builders are memoized per (app, table), so this read
    // path picks up the REWRITTEN tables without rebuilding them
    minHashPairsIncremental(spark, dir, baseDocs, deltaDocs, n, k, bands,
      threshold, suffix = "_rwret", expiredIds = None)
  }

  /** doc_id shard count of [[minHashDocTextPersisted]] — enough
    * directories that an arrival batch's candidate endpoints prune most
    * of the corpus text, few enough that the shard set stays a bounded
    * literal list. */
  private val DocTextShards = 64L

  /** The PERSISTED (doc_id, text) lookup the incremental verify reads —
    * partitioned by `shard = pmod(doc_id, 64)` so a candidate-bounded
    * shard list prunes whole directories at listing time (the
    * [[graft.ops.Search.invertedIndexPersisted]] layout applied to
    * document bodies). A live pipeline persists its corpus text anyway;
    * this is that table in the layout the verify path wants. */
  def minHashDocTextPersisted(spark: org.apache.spark.sql.SparkSession,
      dir: String, baseDocs: => DataFrame,
      suffix: String = "_base"): DataFrame =
    graft.sources.ManagedTable.persisted(spark,
      s"minhash_doctext${suffix}_" + graft.sources.ManagedTable.tag(dir),
      partitionCol = Some("shard"))(
      baseDocs.select(col("doc_id"), col("text"),
        pmod(col("doc_id"), lit(DocTextShards)).as("shard")))

  /** The standing corpus's persisted (band, bh, doc_id) band-signature
    * table — the one artifact [[minHashPairsIncremental]] reads, exposed
    * so ingest-side prep (and the soak's untimed setup) build EXACTLY the
    * table the query path will hit instead of duplicating the name
    * recipe. `suffix` keys indexes built over DIFFERENT base corpora
    * under the same dir/params (the [[graft.ops.Similarity
    * .ivfIndexPersisted]] precedent — without it two splits would
    * silently share the first caller's table). */
  def minHashBandIndexPersisted(spark: org.apache.spark.sql.SparkSession,
      dir: String, baseDocs: => DataFrame, n: Int = 3, k: Int = 64,
      bands: Int = 16, suffix: String = "_base"): DataFrame =
    graft.sources.ManagedTable.persisted(spark,
      s"minhash_bands_${n}_${k}_$bands${suffix}_" +
        graft.sources.ManagedTable.tag(dir),
      partitionCol = Some("band"))(minHashBanded(baseDocs, n, k, bands))

  /** BAND-INDEX HEALTH GAUGE — the MinHash twin of
    * [[graft.ops.Similarity.ivfDriftGauge]], watching the one thing that
    * can rot in an append-only LSH index: BUCKET ECONOMICS. Signatures
    * are corpus-independent, so unlike IVF the ANSWERS never decay —
    * what decays is candidate efficiency: a hot (band, bh) bucket makes
    * candidate generation quadratic in its occupancy, corpus-wide, and a
    * shifted arrival stream (templated text, a boilerplate flood)
    * concentrates new signatures the same way. TWO signals, because each
    * has a measured blind spot (the `bandhealth` soak probes both):
    *
    *  - BATCH CONCENTRATION: the new batch's hottest bucket as a share
    *    of batch docs (ppb). Catches a template flood in the arrivals
    *    themselves — which the collision signal misses when the standing
    *    index is clean (nothing to collide with yet).
    *  - INDEX COLLISION RATE: the batch's (band, bh) matches against the
    *    PERSISTED index per batch doc (ppb; 1e9 = one candidate leg per
    *    doc). Catches arrivals brushing a hot STANDING bucket — which
    *    batch concentration misses when only a fraction of each batch
    *    hits it.
    *
    * Both are compared against a reference in-distribution batch, like
    * the IVF gauge, and everything is integer ppb — hash-exact against
    * the DuckDB replica. ACTION POLICY on alert (unlike IVF there is no
    * retrain — answers are already exact): re-shard the band layout
    * (more bands / longer rows cut per-bucket collision probability),
    * cap hot buckets at verify admission, or quarantine the upstream
    * template flood. Scale shape: one banding pass per batch
    * (snapshotted — it feeds the occupancy and collision legs), a
    * broadcast-hash probe into the index, 1-row aggregates; nothing
    * corpus-sized shuffles. EAGER (batch-only). */
  def bandIndexHealthGauge(spark: org.apache.spark.sql.SparkSession,
      dir: String, baseDocs: => DataFrame, refDelta: DataFrame,
      newDelta: DataFrame, n: Int = 3, k: Int = 64, bands: Int = 16,
      suffix: String = "_base",
      alertSharePpb: Long = 200000000L,
      alertCandPpb: Long = 16000000000L): DataFrame = {
    val idx = minHashBandIndexPersisted(spark, dir, baseDocs, n, k, bands,
      suffix)
    def probe(batch: DataFrame): DataFrame = {
      val banded = minHashBanded(batch, n, k, bands)
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nDocs = banded.agg(
        count_distinct(col("doc_id")).as("n_docs"))
      val top = banded.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(max(col("c")), lit(0L)).as("mx"))
      val cand = broadcast(banded.select(col("band"), col("bh")))
        .join(idx.select(col("band"), col("bh")), Seq("band", "bh"))
        .agg(count(lit(1)).as("hits"))
      nDocs.crossJoin(broadcast(top)).crossJoin(broadcast(cand))
        .select(col("n_docs").as("n"),
          expr("mx * 1000000000L div n_docs").as("top_share_ppb"),
          expr("hits * 1000000000L div n_docs").as("cand_ppb"))
    }
    val r = probe(refDelta).select(col("n").as("n_ref"),
      col("top_share_ppb").as("ref_top_share_ppb"),
      col("cand_ppb").as("ref_cand_ppb"))
    val d = probe(newDelta).select(col("n").as("n_new"),
      col("top_share_ppb").as("new_top_share_ppb"),
      col("cand_ppb").as("new_cand_ppb"))
    // empty batch (quiet window) → NULL signals, alert pinned false —
    // the ivfDriftGauge convention
    r.crossJoin(broadcast(d))
      .select(col("n_ref"), col("n_new"),
        col("ref_top_share_ppb"), col("new_top_share_ppb"),
        col("ref_cand_ppb"), col("new_cand_ppb"),
        (coalesce(col("new_top_share_ppb") > alertSharePpb, lit(false)) ||
          coalesce(col("new_cand_ppb") > alertCandPpb, lit(false)))
          .as("alert"))
  }

  /** HOT-BUCKET CAP — the executable remediation
    * [[bandIndexHealthGauge]]'s alert policy prescribes ("cap hot
    * buckets"): an LSH bucket whose occupancy exceeds `cap` makes
    * candidate generation quadratic in that occupancy while contributing
    * almost no precision — a bucket runs hot because a shared template
    * or boilerplate band collides corpus-wide, the stop-word phenomenon
    * on the LSH axis (Lucene's maxDocFreq analogue). This variant
    * EXCLUDES over-occupied (band, bh) buckets from candidate generation
    * entirely and exact-verifies the survivors.
    *
    * The semantics are explicitly RECALL-BOUNDED, and deterministically
    * so: a pair whose EVERY colliding band is hot is missed — but for
    * template-driven hotness such a pair IS the boilerplate the cap
    * quarantines, and a true near-dup family under the cap keeps all its
    * bands. The DuckDB oracle applies the same occupancy rule, so the
    * row is hash-exact, not a recall statement — the policy itself is
    * the tested contract (bucket grouping by (band, xxhash64-slice) here
    * equals the oracle's by-slice grouping barring a 2⁻⁶⁴ collision).
    *
    * Scale shape: occupancy is one map-side-combinable count on the
    * 24-byte band-key rows (the same exchange class as the band join
    * itself); the hot set is tiny by construction (buckets OVER the cap)
    * and broadcasts into a LeftAnti prune of the banded frame — the
    * pair-join's shape is unchanged, its worst key is now bounded by
    * `cap`, so the join's skew ceiling is cap² per bucket instead of
    * occupancy². That bound is exactly what a 100 TB corpus needs from
    * an LSH tier: one template flood can otherwise turn a single bucket
    * into a corpus-scale quadratic join key. */
  def minHashPairsCapped(documents: DataFrame, n: Int = 3, k: Int = 64,
      bands: Int = 16, threshold: Double = 0.5, cap: Int = 16): DataFrame = {
    val banded = minHashBanded(documents, n, k, bands)
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val hot = banded.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > cap)
      .select(col("band"), col("bh"))
    val cool = banded.join(broadcast(hot), Seq("band", "bh"), "left_anti")
    // snapshotted: candidates feed the endpoint restriction AND both
    // verify joins
    val candidates = cool
      .select(col("band"), col("bh"), col("doc_id").as("id_a"))
      .join(cool.select(col("band"), col("bh"), col("doc_id").as("id_b")),
        Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // verify restricts the text scan to CANDIDATE ENDPOINTS before
    // anything is shingled (the incremental family's convention) — the
    // uncapped path already shingled the corpus once for banding; a
    // second corpus-wide shingle pass plus a corpus-sized broadcast
    // side is exactly what the semi-join removes for free
    verifyCandidates(candidates, documents, n, threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The candidate+verify core of [[minHashPairsIncremental]] over ANY
    * (banded delta, banded index) pair — public so the deep-history
    * wave-replay gate can drive it against a GROWING index frame. The
    * banded delta BROADCASTS into the index (delta×index candidates, no
    * shuffle of the index) and self-joins for delta×delta; verify
    * shingles ONLY candidate endpoints — the id set is delta-bounded, so
    * it broadcasts and `documents`' text scan streams through the
    * semi-join without shuffling or shingling anything corpus-sized.
    * `documents` must carry the text for every id either banding can
    * reference. Callers snapshot `bandedDelta` (it feeds both legs). */
  def minHashPairsAgainst(bandedDelta: DataFrame, bandedIndex: DataFrame,
      documents: DataFrame, n: Int = 3, threshold: Double = 0.5): DataFrame =
    verifyCandidates(minHashCandidates(bandedDelta, bandedIndex),
      documents, n, threshold)

  /** The candidate half of [[minHashPairsAgainst]]: delta×index band
    * collisions (delta BROADCASTS, index streams through unshuffled) ∪
    * the delta self-join, canonical (id_a < id_b), deduped across bands.
    * EAGER: snapshotted — every caller fans it into at least two
    * consumers (the verify joins; the incremental path's shard probe). */
  private[graft] def minHashCandidates(bandedDelta: DataFrame,
      bandedIndex: DataFrame): DataFrame = {
    val between = broadcast(
        bandedDelta.select(col("band"), col("bh"), col("doc_id").as("id_d")))
      .join(bandedIndex.select(col("band"), col("bh"), col("doc_id").as("id_i")),
        Seq("band", "bh"))
      .select(least(col("id_d"), col("id_i")).as("id_a"),
        greatest(col("id_d"), col("id_i")).as("id_b"))
    val selfCand = bandedDelta
      .select(col("band"), col("bh"), col("doc_id").as("id_a"))
      .join(bandedDelta.select(col("band"), col("bh"), col("doc_id").as("id_b")),
        Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    between.unionByName(selfCand).distinct()
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The verify half: shingle ONLY candidate endpoints — the id set is
    * delta-bounded, so it broadcasts and `documents`' text scan streams
    * through the semi-join without shuffling or shingling anything
    * corpus-sized. UNSORTED (the composition convention): the wave-replay
    * gate unions per-wave outputs and [[minHashPairsIncremental]] adds
    * the single presentation sort its oracle expects. */
  private def verifyCandidates(candidates: DataFrame, documents: DataFrame,
      n: Int, threshold: Double): DataFrame = {
    val candIds = candidates.select(col("id_a").as("doc_id"))
      .unionByName(candidates.select(col("id_b").as("doc_id"))).distinct()
    val docs = documents.select(col("doc_id"), col("text"))
      .join(broadcast(candIds), Seq("doc_id"))
    jaccardVerifyUnordered(candidates, docs, n, threshold)
  }

  /** SimHash near-duplicate pairs: 64-bit simhash, candidates = docs
    * agreeing on at least one of 4 16-bit bands (catches all pairs within
    * hamming distance 3), verified with bit_count(a^b) <= maxHamming. */
  def simHashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingPairs(documents.select(col("doc_id"),
      simhash64(tokens(col("text"))).as("sh")), maxHamming)

  /** 128-bit SimHash near-duplicate pairs — the text tier on the same
    * wide-fingerprint footing as the multimodal tiers: word 1 is the
    * classic FNV-voted [[simhash64]], word 2 re-votes the same token
    * stream through the splitmix64 finalizer
    * ([[graft.functions.SimHash64.mix64]]), and candidates/verify run
    * through [[hammingPairs128]]'s 4×32-bit banding. Doubling the
    * fingerprint halves the per-bit noise of the similarity estimate
    * (Charikar 2002: each bit is an independent LSH of the token
    * distribution) and moves the band-key space from 2¹⁶ to 2³² — the
    * corpus-scale candidate-volume fix. Banding is complete for
    * hamming ≤ 3; beyond that it is a recall stage (exactly as the
    * 64-bit tier's banding was for its radius-12 caller), replicated
    * band-for-band by the DuckDB oracle. */
  def simHash128Pairs(documents: DataFrame, maxHamming: Int = 24): DataFrame =
    hammingPairs128(documents.select(col("doc_id"),
      simhash64(tokens(col("text"))).as("sh0"),
      graft.functions.SimHash64.simhashMix64(tokens(col("text"))).as("sh1")),
      maxHamming)

  /** Banded hamming-neighbor pairs over ANY (doc_id, sh: 64-bit hash)
    * frame — the candidate/verify machinery [[simHashPairs]] runs on text
    * simhashes: candidates = docs agreeing on ≥ 1 of 4 16-bit bands
    * (complete for hamming ≤ 3; a recall stage, verified exactly below
    * it), verify = `bit_count(a^b) <= maxHamming`. Only (band, bh, id,
    * sh) rows shuffle — never payloads.
    *
    * The 64-bit hash caps the band key space at 2¹⁶ buckets, so at
    * billion-row corpora random band collisions make the within-bucket
    * pair volume quadratic-mass; per-TASK work stays bounded regardless
    * via [[bandedSelfJoin]]'s sub-block grid (the [[charJaccardPairs]]
    * guard applied to hash buckets). Operators free to choose their
    * fingerprint width should prefer 128 bits ([[hammingPairs128]] — the
    * multimodal tiers and [[simHash128Pairs]] do), where the 4×32-bit
    * band keys make random collisions vanishingly rare instead of merely
    * bounded.
    *
    * EAGER: construction materializes the banded frame and probes its
    * max bucket (see [[bandedSelfJoin]]) — batch-only. */
  def hammingPairs(hashed: DataFrame, maxHamming: Int): DataFrame = {
    val banded = hashed.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sh"), b * 16).bitwiseAND(lit(0xffffL)).as("bh"))): _*)).as("bb"))
      .select(col("doc_id"), col("sh"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    bandedSelfJoin(banded, Seq("sh"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** [[hammingPairs]] for 128-bit fingerprints carried as two BIGINT words
    * (doc_id, sh0, sh1): 4 bands of 32 bits, hamming = popcount over both
    * words.
    *
    * COMPLETENESS CONTRACT: the 4-band split is exhaustive only for
    * hamming ≤ 3 (pigeonhole — 4 mismatching bits can land one per band).
    * Callers passing `maxHamming` ≥ 4 (the multimodal tiers and
    * [[simHash128Pairs]] do, deliberately) get a RECALL stage: every
    * emitted pair is exactly verified below the banding, but a true pair
    * whose mismatching bits spread across all four bands is never
    * proposed. That is the standard LSH trade — for simhash-family
    * fingerprints, near-duplicates concentrate their disagreement in few
    * bits, so band-collision recall stays high while the candidate volume
    * stays corpus-linear.
    *
    * EAGER: construction materializes the banded frame and probes its
    * max bucket (see [[bandedSelfJoin]]), so calling this triggers Spark
    * jobs — batch-only; not composable under a streaming plan. The wide fingerprint and the wide band key
    * are BOTH load-bearing at corpus scale: 2¹²⁸ hash entropy keeps
    * correlated near-misses (hamming 4..16) from saturating whole buckets
    * the way a 64-bit hash's bands do, and 2³² band keys make RANDOM band
    * collisions vanishingly rare (expected spurious candidates
    * ~C(n,2)·4/2³² — at 10⁹ rows under a thousandth of the corpus,
    * where 16-bit keys would shuffle ~10¹³ junk rows). The grid guard in
    * [[bandedSelfJoin]] stays as the backstop for non-uniform real-world
    * hash mass (pHash sign bits are not uniform over natural images).
    * Only (band, bh, id, sh0, sh1) rows shuffle. */
  def hammingPairs128(hashed: DataFrame, maxHamming: Int): DataFrame =
    hammingPairs128Unordered(hashed, maxHamming)
      .orderBy(col("id_a"), col("id_b"))

  /** [[hammingPairs128]] without the final presentation sort — for
    * composition under a downstream aggregation (the video frame-vote
    * tier), where an intermediate global sort would be a wasted
    * shuffle. One row per matched (hash_a, hash_b) combination — plus
    * one per distinct `extra` payload combination when the caller
    * threads extra columns (e.g. `frame_idx`) through the join, which
    * is how the frame-vote tier counts matched FRAMES rather than
    * matched hash values. */
  private[graft] def hammingPairs128Unordered(hashed: DataFrame,
      maxHamming: Int, extra: Seq[String] = Nil,
      targetBlock: Int = 4096): DataFrame =
    hammingPairs128FromBanded(hammingBanding128(hashed, extra),
      maxHamming, extra, targetBlock)

  /** The 4×32-bit banding of a 128-bit fingerprint frame — (doc_id, sh0,
    * sh1[, extra…], band, bh), four rows per fingerprint (each 32-bit
    * word of the hash is one band; maxHamming ≤ 3 < 4 bands guarantees
    * one untouched band, so every qualifying pair collides on ≥ 1
    * bucket). ONE definition of the bucket key, shared by the self-join,
    * the delta-vs-index join, the capped batch operator and the live
    * media pipeline's hot-bucket occupancy count — the occupancy a cap
    * prunes on must be counted over exactly the buckets the joins key
    * on. */
  private[graft] def hammingBanding128(hashed: DataFrame,
      extra: Seq[String] = Nil): DataFrame = {
    def word(b: Int): Column = if (b < 2) col("sh0") else col("sh1")
    val keep = Seq(col("doc_id"), col("sh0"), col("sh1")) ++ extra.map(col)
    hashed.select(keep :+
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(word(b), (b % 2) * 32)
            .bitwiseAND(lit(0xffffffffL)).as("bh"))): _*)).as("bb"): _*)
      .select(keep :+ col("bb.band").as("band") :+ col("bb.bh").as("bh"): _*)
  }

  /** [[hammingPairs128Unordered]]'s join half over an ALREADY-BANDED
    * frame ([[hammingBanding128]] rows, possibly hot-bucket-pruned) —
    * the live media pipeline bands its batch ONCE, applies the
    * occupancy prune, and feeds the surviving band rows to both pair
    * legs instead of re-banding per leg. */
  private[graft] def hammingPairs128FromBanded(banded: DataFrame,
      maxHamming: Int, extra: Seq[String] = Nil,
      targetBlock: Int = 4096, snapshotted: Boolean = false): DataFrame =
    bandedSelfJoin(banded, Seq("sh0", "sh1") ++ extra, targetBlock,
        snapshotted)
      .distinct()
      .withColumn("hamming",
        (bit_count(col("sh0_a").bitwiseXOR(col("sh0_b"))) +
          bit_count(col("sh1_a").bitwiseXOR(col("sh1_b")))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a") +: col("id_b") +: col("hamming") +:
        extra.flatMap(p => Seq(col(s"${p}_a"), col(s"${p}_b"))): _*)

  /** [[hammingPairs128]] with the [[minHashPairsCapped]] hot-bucket
    * policy on the HAMMING-BAND axis — the media tier's template-flood
    * containment, batch form: (band, bh) buckets whose occupancy exceeds
    * `cap` are excluded from pair generation entirely. A flooded
    * fingerprint family collides on ALL FOUR of its band buckets
    * (near-identical images hash identically, so the family IS each
    * bucket), which uncapped makes the band join quadratic in the flood
    * size; capped, the join's worst key is bounded at cap² per bucket.
    * Explicitly RECALL-BOUNDED, deterministically: any fingerprint
    * family larger than the cap — flood or organically viral — emits no
    * pairs until an operator intervenes; the DuckDB oracle
    * (q_phash_pairs_capped) applies the same occupancy rule, so the row
    * is hash-exact and the POLICY is the tested contract. Occupancy is
    * one map-side-combinable count over the 4-rows-per-doc band keys;
    * the hot set (buckets OVER the cap) is tiny by construction and
    * broadcasts into a LeftAnti prune — the pair join's shape is
    * unchanged. */
  def hammingPairs128Capped(hashed: DataFrame, maxHamming: Int,
      cap: Int): DataFrame = {
    val banded = hammingBanding128(hashed)
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val hot = banded.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > cap)
      .select(col("band"), col("bh"))
    // `cool` derives narrowly from the one checkpointed banding, so the
    // within-leg must NOT take a second snapshot of near-identical rows
    // (snapshotted = true — the live pipeline's convention); the OUTPUT
    // materializes instead (cap-bounded: worst key is cap² per bucket),
    // which lets the corpus×4-row banding free HERE rather than pinning
    // for the session. Returned checkpointed; ownership to the caller.
    val cool = banded.join(broadcast(hot), Seq("band", "bh"), "left_anti")
    val out = hammingPairs128FromBanded(cool, maxHamming, snapshotted = true)
      .orderBy(col("id_a"), col("id_b"))
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.Snap.free(banded)
    out
  }

  /** Banded hamming pairs BETWEEN a small delta frame and a large index
    * frame (both (doc_id, sh0, sh1)) — arrival-time near-dup detection
    * against a PERSISTED fingerprint index, the pair-generation half of
    * the live-corpus story ([[mergeClusterDelta]] is the label half):
    * new fingerprints band-join the index at cost ∝ delta + ONE narrow
    * index scan, instead of re-running the full self-join.
    *
    * Scale shape: the DELTA side is banded and BROADCAST (4 rows per new
    * document — a delta batch is broadcast-sized by the same contract as
    * the label merge), so the index side STREAMS through a broadcast-hash
    * join with no shuffle of either side and no repartition of the index;
    * candidates dedupe across bands and verify by summed popcount exactly
    * like [[hammingPairs128]]. Emits canonical (id_a < id_b, hamming),
    * UNSORTED — callers compose it (union with the delta self-join) and
    * sort once at the end; delta×delta pairs are NOT emitted (run
    * [[hammingPairs128]] over the delta alone and union — the registered
    * incremental queries do). */
  def hammingPairs128Between(delta: DataFrame, index: DataFrame,
      maxHamming: Int): DataFrame =
    hammingPairs128BetweenBanded(hammingBanding128(delta), index, maxHamming)

  /** [[hammingPairs128Between]] taking a PRE-BANDED delta
    * ([[hammingBanding128]] rows, possibly hot-bucket-pruned) — the live
    * media pipeline's between-leg: the batch bands once, prunes, and the
    * surviving band rows broadcast into one streamed index scan. */
  private[graft] def hammingPairs128BetweenBanded(bandedDelta: DataFrame,
      index: DataFrame, maxHamming: Int): DataFrame = {
    val d = bandedDelta.select(col("doc_id").as("id_d"),
      col("sh0").as("sh0_d"), col("sh1").as("sh1_d"),
      col("band"), col("bh"))
    val i = hammingBanding128(index).select(col("doc_id").as("id_i"),
      col("sh0").as("sh0_i"), col("sh1").as("sh1_i"),
      col("band"), col("bh"))
    broadcast(d)
      .join(i, Seq("band", "bh"))
      .filter(col("id_d") =!= col("id_i"))
      .select(least(col("id_d"), col("id_i")).as("id_a"),
        greatest(col("id_d"), col("id_i")).as("id_b"),
        (bit_count(col("sh0_d").bitwiseXOR(col("sh0_i"))) +
          bit_count(col("sh1_d").bitwiseXOR(col("sh1_i")))).cast("long")
          .as("hamming"))
      .distinct() // a pair may collide on several bands
      .filter(col("hamming") <= maxHamming)
  }

  /** Self-join of a banded frame (band, bh, doc_id, payload…) on its
    * bucket key, with the [[charJaccardPairs]] g×g sub-block grid guard
    * engaged ADAPTIVELY: a bucket with m members is split into
    * g = ceil(m / targetBlock) sub-blocks, each side replicated g times,
    * every unordered pair matched EXACTLY once — per-task pair work
    * bounded by ~targetBlock² for ANY bucket size (one hot band value
    * must not become one task's quadratic loop), output identical for
    * any g.
    *
    * The banded frame is SNAPSHOTTED (eager localCheckpoint) before
    * anything else — load-bearing twice over. First, a self-join's two
    * sides are separate subplans to Spark, so the whole upstream (for
    * the multimodal tiers: per-row PNG/WAV/GIF decode, DCT, FFT) would
    * otherwise run TWICE; the snapshot halves the dominant codec cost
    * at any scale, for storage bounded by the same (band, bh, id,
    * hash-words) rows the join shuffles anyway. Second, the snapshot
    * makes the max-bucket probe cheap, and the guard only engages when
    * some bucket actually exceeds targetBlock: the common case (honest
    * hashes, no hot bucket) pays a bare equi-join — none of the g
    * machinery's three extra stages — while a skewed run takes the
    * guarded path with identical output. The per-bucket counts join
    * back on the SAME (band, bh) key the self-join shuffles on, so AQE
    * reuses the exchange; counts are never broadcast (bucket
    * cardinality scales with the corpus, unlike [[charJaccardPairs]]'
    * source count). Emits (id_a < id_b, payload_a…, payload_b…), one
    * row per (band-bucket, pair) — callers `distinct()` across bands.
    *
    * The snapshot is DISK_ONLY (the [[graft.analytics.Graph.pageRankPpb]]
    * precedent): at 10⁹-row media corpora the 4-rows-per-document banded
    * frame must not compete with the self-join's shuffle memory, and a
    * disk block costs one sequential re-read. Contract note:
    * localCheckpoint TRUNCATES LINEAGE, so losing an executor mid-job
    * means job retry, not partition recompute — acceptable for these
    * bounded derivations, and the price of running the upstream codec
    * pass once instead of twice. The construction is EAGER (snapshot +
    * max-bucket probe run jobs at DataFrame-build time); callers'
    * public docstrings carry the batch-only warning. */
  private def bandedSelfJoin(banded: DataFrame, payload: Seq[String],
      targetBlock: Int = 4096, snapshotted: Boolean = false): DataFrame = {
    val t = math.max(targetBlock, 1)
    // `snapshotted = true`: the caller already holds `banded` (or its
    // checkpointed parent) materialized and OWNS the unpersist — the
    // live pipelines pass it so a per-batch call pins no extra frame
    val snap = if (snapshotted) banded
      else banded.localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val maxBucket = Option(snap.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("_bc")).agg(max(col("_bc"))).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    if (maxBucket <= t) {
      val a = snap.select(col("band") +: col("bh") +: col("doc_id").as("id_a") +:
        payload.map(p => col(p).as(s"${p}_a")): _*)
      val b = snap.select(col("band") +: col("bh") +: col("doc_id").as("id_b") +:
        payload.map(p => col(p).as(s"${p}_b")): _*)
      a.join(b, Seq("band", "bh"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a") +: col("id_b") +:
          payload.flatMap(p => Seq(col(s"${p}_a"), col(s"${p}_b"))): _*)
    } else {
      val gPerBucket = snap.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("_bc"))
        .select(col("band"), col("bh"),
          greatest(ceil(col("_bc").cast("double") / t).cast("long"), lit(1L)).as("_g"))
      val withG = snap.join(gPerBucket, Seq("band", "bh"))
      val a = withG.select(
        Seq(col("band"), col("bh"), col("doc_id").as("id_a"),
          pmod(xxhash64(col("doc_id")), col("_g")).as("ga"),
          explode(sequence(lit(0L), col("_g") - 1L)).as("gb")) ++
          payload.map(p => col(p).as(s"${p}_a")): _*)
      val b = withG.select(
        Seq(col("band"), col("bh"), col("doc_id").as("id_b"),
          pmod(xxhash64(col("doc_id")), col("_g")).as("gb"),
          explode(sequence(lit(0L), col("_g") - 1L)).as("ga")) ++
          payload.map(p => col(p).as(s"${p}_b")): _*)
      a.join(b, Seq("band", "bh", "ga", "gb"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a") +: col("id_b") +:
          payload.flatMap(p => Seq(col(s"${p}_a"), col(s"${p}_b"))): _*)
    }
  }

  /** Exact n-gram jaccard over LSH candidates — [[minHashPairs]] with the
    * banding tuned loose so the exact jaccard filter dominates. */
  def ngramJaccardPairs(documents: DataFrame, n: Int = 3, threshold: Double = 0.3): DataFrame =
    minHashPairs(documents, n = n, k = 64, bands = 32, threshold = threshold)

  /** Connected components over a near-duplicate pair frame — the cluster
    * assignment a dedup pipeline actually needs (every doc labeled with
    * the smallest doc_id reachable through near-dup edges, so "keep one
    * per cluster" is a filter, and transitive duplicates A~B~C collapse
    * even when A~C was never emitted as a pair).
    *
    * Alternating LARGE-STAR / SMALL-STAR (Kiveris et al. 2014, "Connected
    * components in MapReduce and beyond", two-phase algorithm): each
    * round re-wires edges toward neighborhood minima —
    *
    *  - large-star, per center c over the undirected adjacency: attach
    *    every strictly-larger neighbor to m = min(Γ(c) ∪ {c});
    *  - small-star, per larger-endpoint c (all neighbors smaller):
    *    attach c and its other neighbors to m = min(Γ(c)).
    *
    * Connectivity is preserved by both phases, labels only decrease, and
    * the fixed point is one STAR per component centered at its minimum —
    * O(log n) rounds regardless of component diameter (label propagation
    * needs O(diameter), pointer-jumped O(log diameter), and both carry a
    * full |docs| label frame through every round; the star rounds carry
    * only the shrinking edge set). Per round: two keyed aggregations +
    * two joins over edges, one eager checkpoint, one 1-row convergence
    * agg. Deterministic (min is order-free).
    */
  /** Asymmetric shingle CONTAINMENT (Broder, "On the resemblance and
    * containment of documents", SEQUENCES 1997): for ordered pairs
    * (a, b) within a source block, `|S(a) ∩ S(b)| · 1e9 div |S(a)|` over
    * distinct token `n`-shingles — the quote-inclusion detector that
    * symmetric Jaccard structurally misses (a short document wholly
    * quoted inside a long one has high containment but low resemblance).
    * Emits pairs at or above `thresholdPpb`, both directions scored
    * independently (a⊂b and b⊂a differ).
    *
    * Scale shape: shingling is per-row map work; candidates come from the
    * (source, shingle) equi-join — the same banded-candidate class as the
    * n-gram/MinHash tiers, map-side combinable counts on both sides of
    * it, AQE splitting hot shingle keys. Integer-only arithmetic. */
  def shingleContainment(documents: DataFrame, n: Int = 3,
      thresholdPpb: Long = 500000000L, snapshot: Boolean = true): DataFrame = {
    val toks = filter(split(trim(col("text")), "\\s+"), t => t =!= "")
    // snapshotted (default): the distinct shingle explosion feeds BOTH
    // sides of the candidate self-join below (plus the per-doc size
    // frame) — without it the tokenize+shingle+distinct pass over the
    // corpus runs three times, and the snapshot rows are the same ones
    // the join shuffles. DISK_ONLY, not the default level: this frame is
    // corpus-TOKEN-sized (larger than the corpus itself), and
    // memory-cached blocks of that magnitude would compete with the
    // candidate join's shuffle memory — disk blocks cost a sequential
    // re-read and nothing else. (This is the one token-scale frame the
    // repo does snapshot: unlike [[Sampling.importanceWeights]]' explode,
    // which feeds two cheap keyed aggs, this one feeds a self-JOIN whose
    // sides are separate subplans, so recompute means re-running the
    // distinct's corpus-wide shuffle per side.) `snapshot = false` takes
    // the importanceWeights convention instead — recompute the explode
    // per consumer, materialize nothing token-scale; the r12 `containab`
    // receipt measured the DISK_ONLY snapshot 1.05–1.3× FASTER at every
    // TRUE-growth scale up to 50k docs / 1.3M pairs (the distinct's
    // corpus-wide shuffle, run once vs three times, outweighs the disk
    // write), so the snapshot stays the default and the flag remains
    // the measurement hook.
    val shRaw = documents
      .withColumn("_tk", toks)
      .filter(size(col("_tk")) >= n)
      .select(col("doc_id"), col("source"), explode(transform(
        sequence(lit(0), size(col("_tk")) - n),
        i => concat_ws(" ", slice(col("_tk"), i + 1, lit(n))))).as("sh"))
      .distinct()
    val sh = if (snapshot)
      shRaw.localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    else shRaw
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_a"))
    sh.select(col("source"), col("sh"), col("doc_id").as("id_a"))
      .join(sh.select(col("source"), col("sh"), col("doc_id").as("id_b")),
        Seq("source", "sh"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.withColumnRenamed("doc_id", "id_a"), "id_a")
      .withColumn("containment_ppb", expr("n_inter * 1000000000L div n_a"))
      .filter(col("containment_ppb") >= thresholdPpb)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"),
        col("containment_ppb"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Degree distribution of the near-duplicate graph: for each degree
    * value, how many nodes have it — the one-glance shape diagnostic for
    * a dedup run (a heavy right tail = template/boilerplate cliques that
    * [[nearDupSurvivors]] will collapse; mass at degree 1 = genuine
    * pairwise near-dups). Nodes appear with their full undirected degree;
    * isolated documents (no near-dup edge) are not graph nodes and are
    * excluded, matching the edge-derived oracle.
    *
    * Scale shape: two keyed integer aggregations over the (already
    * bounded) pair set — degree per node, then node-count per degree.
    * Nothing document-sized is touched; feed it
    * [[charJaccardPairsPersisted]] and the query never re-runs candidate
    * generation. */
  def degreeDistribution(pairs: DataFrame): DataFrame =
    pairs
      .select(col("id_a").as("node"))
      .unionByName(pairs.select(col("id_b").as("node")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("degree"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree"))

  def nearDupClusters(documents: DataFrame, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val stars = starContract(pairs, maxIter)
    documents.select(col("doc_id"))
      .join(stars.select(col("v").as("doc_id"), col("u").as("cluster_id")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** The iterative core of [[nearDupClusters]]: converge a pair frame
    * (id_a, id_b) to its component STARS — one (u = component minimum,
    * v = member) edge per non-minimum member. Shared by the full rebuild
    * and [[mergeClusterDelta]]'s delta-restricted re-run. Throws if the
    * fixed point is not reached within `maxIter` rounds.
    *
    * `level` sets the per-round checkpoint storage: the FULL rebuild
    * must go DISK_ONLY (corpus-scale edge sets compete with the rounds'
    * hash aggregates for execution memory), but the delta merge's edge
    * set is delta-sized BY CONSTRUCTION, where a memory-first level
    * drops the per-round disk write that would otherwise dominate a
    * small merge. */
  private[graft] def starContract(pairs: DataFrame, maxIter: Int,
      level: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.DISK_ONLY): DataFrame = {
    // canonical undirected edge set (u < v), materialized ONCE — candidate
    // generation is the expensive part and must not re-run per iteration.
    // Checkpoints go DISK_ONLY: at 10×+ the edge set is tens of millions
    // of rows, and memory-cached blocks from round r compete with round
    // r+1's 32 concurrent hash aggregates for execution memory
    // (UNABLE_TO_ACQUIRE_MEMORY in an 8 GB driver); disk blocks cost a
    // sequential re-read and nothing else, and superseded rounds are
    // freed explicitly below (graft.Snap — the context cleaner does not
    // release localCheckpoint blocks). The FINAL round is returned still
    // checkpointed; ownership passes to the caller.
    var edges = pairs
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .distinct()
      .localCheckpoint(true, level)
    // (count, Σu, Σv) fingerprint: both phases only ever move endpoints
    // DOWN, so an unchanged fingerprint on a monotone sequence means an
    // unchanged edge set — a 1-row agg instead of a set-difference join.
    // The final star-shape assertion below backstops it regardless.
    def fingerprint(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)), coalesce(sum(col("u")), lit(0L)),
        coalesce(sum(col("v")), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    var fp = fingerprint(edges)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // LARGE-STAR over the undirected adjacency
      val adj = edges.select(col("u").as("c"), col("v").as("n"))
        .unionByName(edges.select(col("v").as("c"), col("u").as("n")))
      val mins = adj.groupBy(col("c"))
        .agg(least(min(col("n")), first(col("c"))).as("m"))
      val ls = adj.join(mins, "c")
        .filter(col("n") > col("c"))
        .select(col("m").as("u"), col("n").as("v")) // m <= c < n
        .distinct()
      // SMALL-STAR grouped by the larger endpoint (neighbors all smaller)
      val byLarger = ls.select(col("v").as("c"), col("u").as("n"))
      val mins2 = byLarger.groupBy(col("c")).agg(min(col("n")).as("m"))
      val ss = byLarger.join(mins2, "c")
        .select(col("m").as("u"),
          when(col("n") === col("m"), col("c")).otherwise(col("n")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true, level)
      val fp2 = fingerprint(ss)
      converged = fp2 == fp
      fp = fp2
      // the superseded round's blocks serve nothing once the new round
      // is materialized (the eager checkpoint above) — free them now;
      // "reaped by the context cleaner" is NOT true for localCheckpoint
      // blocks (Dataset.unpersist never touches them — see graft.Snap)
      graft.Snap.free(edges)
      edges = ss
      i += 1
    }
    // The fixed point must be stars: every non-center node hangs off
    // exactly one center and no node is on both sides. A violated shape
    // means non-convergence — fail loudly rather than hand the caller a
    // partially-collapsed labeling the oracle's transitive closure would
    // refute.
    if (!converged || edges.groupBy(col("v")).agg(count(lit(1)).as("d"))
        .filter(col("d") > 1).limit(1).count() > 0 ||
        edges.select(col("u")).intersect(edges.select(col("v"))).limit(1).count() > 0)
      throw new IllegalStateException(
        s"nearDupClusters did not converge to stars after $maxIter " +
          "iterations; raise maxIter")
    edges
  }

  /** Delta-subgraph edge bound below which [[mergeClusterDelta]] /
    * [[retireClusterDelta]] resolve components by driver union-find (one
    * bounded collect) instead of distributed star rounds — ~8 MB of
    * (long, long) rows at the limit, far under the broadcast sizes the
    * methods already commit to, and path-compressed union-find over it is
    * tens of milliseconds where each star round costs two joins, two
    * aggregations, a checkpoint and a convergence probe in
    * driver-synchronous latency. (Raised 200k → 500k in r12: the sf0.1
    * gate's char-jaccard graph is a measured degenerate case — 455
    * expired docs touch components covering 97% of the corpus, a 369k-edge
    * surviving subgraph — and the driver path resolves it 2× faster than
    * the contraction while staying trivially driver-sized.) */
  private val DriverMergeEdges = 500000

  /** INCREMENTAL connected-components maintenance — merge a PAIR DELTA
    * into an existing (doc_id, cluster_id) labeling at cost proportional
    * to the delta, not the corpus: the batch link that closes the live
    * dedup story (TTL stream LSH finds new near-dup pairs as documents
    * arrive; [[historyDedupBloom]] screens exact dups against deep
    * history; this merges the new pairs into the persisted label table
    * without re-converging 100 TB of components).
    *
    * Semantics: the output equals a FULL [[nearDupClusters]] rebuild over
    * (base corpus ∪ delta documents) with (base pairs ∪ delta pairs) —
    * exact, not approximate. The key fact making delta-restriction sound:
    * a component untouched by any delta edge has an identical pair set in
    * base and merged corpora, so its labels cannot change; only
    * components reachable from a delta edge need re-converging, and a
    * base component is reconstructible from its label edges alone
    * (cluster_id ↔ member is a spanning star of the component).
    *
    * Steps, each keyed/bounded by the delta:
    *  1. canonical delta edges; their endpoint set (small);
    *  2. touched clusters = labels of endpoints (endpoint-keyed join);
    *  3. touched members = base labels in those clusters (a semi-join
    *     against a delta-sized cluster-id set, broadcast);
    *  4. star-contract (delta edges ∪ touched label edges) — the same
    *     [[starContract]] rounds, over a delta-sized subgraph;
    *  5. untouched labels pass through via a broadcast anti-join (a
    *     narrow scan of the label table, never a corpus shuffle);
    *     `deltaDocs` with no edge become singleton self-labels.
    *
    * New cluster ids are exact component minima: the contracted subgraph
    * contains every member of every touched component (step 3) plus all
    * delta endpoints, so the minimum over the merged component is the
    * minimum over the subgraph component.
    *
    * CONTRACT: the delta (edges + touched components) must be small
    * relative to executor/driver memory — the endpoint and universe
    * frames BROADCAST. That is the regime this operator exists for; a
    * delta approaching the corpus (or one whose edges touch most
    * components) should take the full [[nearDupClusters]] rebuild, which
    * is built for corpus-scale edge sets. */
  def mergeClusterDelta(baseLabels: DataFrame, deltaDocs: DataFrame,
      deltaPairs: DataFrame, maxIter: Int = 20,
      driverEdgeLimit: Int = DriverMergeEdges): DataFrame = {
    // MEMORY_AND_DISK snapshots throughout this method: every frame here
    // is delta-sized BY CONSTRUCTION (the whole point of the merge), so
    // the full rebuild's DISK_ONLY discipline would just add per-round
    // disk writes to a small job
    val memDisk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val dEdges = deltaPairs
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .distinct()
      .localCheckpoint(true, memDisk)
    val endpoints = dEdges.select(col("u").as("doc_id"))
      .unionByName(dEdges.select(col("v").as("doc_id")))
      .distinct()
    // clusters any delta edge touches — delta-sized, broadcast both ways
    val touchedClusters = baseLabels
      .join(broadcast(endpoints), "doc_id")
      .select(col("cluster_id")).distinct()
    val touchedMembers = baseLabels
      .join(broadcast(touchedClusters), "cluster_id")
      .select(col("doc_id"), col("cluster_id"))
    // a base component IS the star (cluster_id, member): its label edges
    // reconnect the component inside the delta subgraph
    val labelEdges = touchedMembers
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("cluster_id").as("id_a"), col("doc_id").as("id_b"))
    // SNAPSHOTTED before the size probe: the probe and the over-bound
    // distributed contraction are separate consumers, and without the
    // snapshot `starContract` would recompute the label-edge joins from
    // scratch after the probe already ran them (the r11 verdict nit) —
    // delta-sized rows, so the eager snapshot is cheap on both paths
    val subgraph = dEdges.select(col("u").as("id_a"), col("v").as("id_b"))
      .unionByName(labelEdges)
      .localCheckpoint(true, memDisk)
    val stars = resolveStars(baseLabels.sparkSession, subgraph, maxIter,
      driverEdgeLimit, memDisk)
    // every doc whose label may change: touched members, delta-edge
    // endpoints, and the delta's own documents (edge-less ones become
    // singletons); delta-sized by construction. Snapshotted because it
    // has THREE consumers (relabel join, base-label lookup, pass-through
    // anti-join), each broadcasting it.
    val universe = touchedMembers.select(col("doc_id"))
      .unionByName(endpoints)
      .unionByName(deltaDocs.select(col("doc_id")))
      .distinct()
      .localCheckpoint(true, memDisk)
    // fallback chain: star label (re-converged) → existing base label (a
    // doc listed in deltaDocs that was already labeled and untouched by
    // any edge keeps its label, making the merge idempotent under
    // replayed deltas) → self (genuinely new singleton)
    val relabeled = universe
      .join(stars.select(col("v").as("doc_id"), col("u").as("cluster_id")),
        Seq("doc_id"), "left_outer")
      .join(baseLabels.select(col("doc_id"), col("cluster_id").as("_base"))
        .join(broadcast(universe), "doc_id"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("_base"), col("doc_id")).as("cluster_id"))
    // materialize the OUTPUT so the internal snapshots (dEdges, subgraph,
    // universe, a distributed-path star round) can be freed HERE instead
    // of pinning three delta-sized block sets per call for the session's
    // life — the live pipelines call this once per micro-batch. The
    // returned frame is checkpointed; ownership passes to the caller
    // (the pipelines Snap.free it once the label snapshot is on disk).
    val out = baseLabels
      .join(broadcast(universe), Seq("doc_id"), "left_anti")
      .unionByName(relabeled)
      .orderBy(col("doc_id"))
      .localCheckpoint(true, memDisk)
    Seq(dEdges, subgraph, universe, stars).foreach(graft.Snap.free(_))
    out
  }

  /** Shared component resolution for the delta-sized subgraphs the
    * incremental label paths build ([[mergeClusterDelta]] /
    * [[retireClusterDelta]]): below `driverEdgeLimit` edges (a few MB of
    * (long, long) rows) the components resolve by path-compressed
    * union-find on the driver — ONE bounded collect instead of ~log(n)
    * star rounds, each of which costs two joins, two aggregations, a
    * checkpoint, and a convergence probe in driver-synchronous latency
    * (the small-delta merge is LATENCY-bound, not data-bound, in exactly
    * the regime it exists for). Past the bound the distributed
    * [[starContract]] takes over — same output, proven by the shared
    * oracle and the property rows, which run both paths. `subgraph` must
    * be snapshotted by the caller (the probe and the distributed
    * contraction are separate consumers of it). Returns component STARS
    * (u = component minimum, v = non-minimum member). */
  private def resolveStars(spark: org.apache.spark.sql.SparkSession,
      subgraph: DataFrame, maxIter: Int, driverEdgeLimit: Int,
      level: org.apache.spark.storage.StorageLevel): DataFrame = {
    val limited = subgraph.limit(driverEdgeLimit + 1).collect()
    if (limited.length <= driverEdgeLimit) {
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      for (row <- limited) {
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) { // min id becomes the root → labels are minima
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val nodes = limited.iterator
        .flatMap(r => Iterator(r.getLong(0), r.getLong(1))).toSet
      val rows = nodes.iterator.map(n => (find(n), n))
        .filter { case (u, v) => u != v }.toSeq
      spark.createDataFrame(rows).toDF("u", "v")
    } else starContract(subgraph, maxIter, level)
  }

  /** RETENTION/REMOVAL delta for the persisted label table — the dual of
    * [[mergeClusterDelta]]: retire a set of EXPIRED documents (aged out
    * of TTL, takedown'd, re-licensed away) from an existing (doc_id,
    * cluster_id) labeling at cost proportional to the components they
    * touch, not the corpus. Without this, live-pipeline label state grows
    * with the ALL-TIME corpus (the reference's TTL,
    * internal/db/db.go:59-65, deletes aged rows from its table; the label
    * table must follow its corpus).
    *
    * Removal is strictly harder than the merge's edge-addition: deleting
    * a node can SPLIT its component (a bridge document's neighbors lose
    * their only path), so pass-through labeling of survivors is wrong —
    * the touched components must RE-CONVERGE from their surviving pair
    * edges, which is exactly what the persisted pair table
    * ([[charJaccardPairsPersisted]] / [[nearDupClustersPersisted]]'s
    * input) holds.
    *
    * Semantics: the output equals a FULL [[nearDupClusters]] rebuild over
    * (corpus − expired) with `pairs` restricted to surviving endpoints —
    * exact, not approximate. Soundness of the delta-restriction: a pair's
    * endpoints always share a component, so a component with NO expired
    * member keeps its exact pair set and its labels cannot change; a
    * touched component's surviving pair edges are exactly the pair rows
    * with both endpoints in its surviving member set, and re-converging
    * them yields the rebuild's labels (component minima over survivors,
    * including any split parts).
    *
    * Steps, each keyed/bounded by the expired-touched components:
    *  1. touched clusters = labels of expired docs (broadcast semi-join);
    *  2. touched members = base labels in those clusters (broadcast);
    *  3. surviving members = touched members − expired;
    *  4. subgraph = pair rows with BOTH endpoints surviving-touched — two
    *     broadcast semi-joins, so the pair table STREAMS through one
    *     narrow scan (never shuffles, same class as the merge's
    *     base-label scan);
    *  5. resolve ([[resolveStars]] — driver union-find under the bound,
    *     star rounds above it); edge-less survivors become singletons;
    *  6. untouched labels pass through via a broadcast anti-join;
    *     expired docs simply never re-enter.
    *
    * CONTRACT: `baseLabels` must be the [[nearDupClusters]] labeling OF
    * `pairs` over its corpus (the persisted pair/label tables are built
    * together, so this holds by construction), and the expired set plus
    * its touched components must be small relative to memory — the
    * broadcast regime, same as the merge. A purge approaching the corpus
    * should take the full rebuild — and when the touched components turn
    * out corpus-sized anyway (the measured char-jaccard near-clique
    * case), the touched-member/survivor broadcasts are DROPPED above
    * `broadcastRowLimit` rows instead of shipping a corpus-scale frame
    * to every executor: the joins degrade to shuffled equi-joins (same
    * rows, rebuild-class cost) rather than OOMing the executors. */
  def retireClusterDelta(baseLabels: DataFrame, pairs: DataFrame,
      expiredIds: DataFrame, maxIter: Int = 20,
      driverEdgeLimit: Int = DriverMergeEdges,
      broadcastRowLimit: Long = 8L << 20): DataFrame =
    reconvergeCore(baseLabels, pairs, expiredIds, dropSeeds = true,
      maxIter, driverEdgeLimit, broadcastRowLimit)

  /** EDGE-DELETION repair for the persisted label table — the third
    * member of the incremental-label family ([[mergeClusterDelta]] adds
    * edges, [[retireClusterDelta]] removes DOCUMENTS, this removes
    * EDGES): re-converge exactly the components containing `seedIds`
    * from the given (post-deletion) pair set, at cost proportional to
    * those components, passing every untouched label through. The
    * retroactive-decontamination repair shared by the runnable
    * pipelines ([[graft.streaming.IndexTier.repairFlood]]) calls this with
    * `seedIds` = the endpoints of the pairs they just deleted from the
    * persisted pair state.
    *
    * Deleting an edge can SPLIT a component (same argument as document
    * retirement: a bridge pair's endpoints lose their only path), so
    * pass-through labeling of seed components would be wrong — they
    * re-converge from their surviving edges, and members left edge-less
    * become singletons.
    *
    * Semantics: equals a FULL [[nearDupClusters]] rebuild over the same
    * corpus with the post-deletion `pairs` — exact, by the
    * [[retireClusterDelta]] restriction argument (pairs never cross
    * components; a component with no seed member kept its exact pair
    * set). CONTRACT: `baseLabels` must be the labeling of the
    * PRE-deletion pair set (so every seed component is fully enumerated
    * by its label), and `pairs` the post-deletion state. Same broadcast
    * regime and over-limit degradation as the retire. */
  def reconvergeClusterDelta(baseLabels: DataFrame, pairs: DataFrame,
      seedIds: DataFrame, maxIter: Int = 20,
      driverEdgeLimit: Int = DriverMergeEdges,
      broadcastRowLimit: Long = 8L << 20): DataFrame =
    reconvergeCore(baseLabels, pairs, seedIds, dropSeeds = false,
      maxIter, driverEdgeLimit, broadcastRowLimit)

  /** Shared core of [[retireClusterDelta]] (`dropSeeds` — the seeds
    * leave the corpus) and [[reconvergeClusterDelta]] (the seeds stay;
    * only edges changed). */
  private def reconvergeCore(baseLabels: DataFrame, pairs: DataFrame,
      seedIds: DataFrame, dropSeeds: Boolean, maxIter: Int,
      driverEdgeLimit: Int, broadcastRowLimit: Long): DataFrame = {
    val memDisk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // snapshotted: three broadcast consumers (touched-cluster lookup,
    // survivor filter, and nothing else corpus-sized) — seed-sized
    val expired = seedIds.select(col("doc_id")).distinct()
      .localCheckpoint(true, memDisk)
    val touchedClusters = baseLabels
      .join(broadcast(expired), "doc_id")
      .select(col("cluster_id")).distinct()
    // every member of every component an expired doc belongs to —
    // delta-sized by the contract; snapshotted (three consumers: the
    // survivor set, the pass-through anti-join, the relabel universe)
    // PERSIST + count instead of localCheckpoint + count: the count IS
    // the materializing action, so the smallness guard costs zero extra
    // jobs over the eager snapshot the frame needed anyway (its three
    // consumers read the cached blocks either way)
    val touchedMembers = baseLabels
      .join(broadcast(touchedClusters), "cluster_id")
      .select(col("doc_id"), col("cluster_id"))
      .persist(memDisk)
    // the smallness contract, ENFORCED: within the regime the
    // touched/survivor frames broadcast as hinted; above it the hints
    // drop so Spark shuffles instead of shipping a corpus-scale frame to
    // every executor — degrade to rebuild-class cost, never OOM.
    val inBroadcastRegime = touchedMembers.count() <= broadcastRowLimit
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (inBroadcastRegime) broadcast(df) else df
    // NOT checkpointed: survivors derive from the two frames snapshotted
    // above by one broadcast anti-join, so per-consumer recompute is a
    // delta-sized local pass — cheaper than another driver-synchronous
    // eager-checkpoint round (the retire is latency-bound, like the merge)
    val survivors =
      if (dropSeeds) touchedMembers.select(col("doc_id"))
        .join(broadcast(expired), Seq("doc_id"), "left_anti")
      else touchedMembers.select(col("doc_id"))
    // surviving pair edges of the touched components: both endpoints must
    // survive (an edge with an expired endpoint dies with it). The pair
    // table streams through two broadcast semi-joins — one narrow scan,
    // no shuffle of the edge set.
    val subgraph = pairs
      .select(col("id_a"), col("id_b"))
      .join(maybeBroadcast(survivors.select(col("doc_id").as("id_a"))), Seq("id_a"))
      .join(maybeBroadcast(survivors.select(col("doc_id").as("id_b"))), Seq("id_b"))
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true, memDisk)
    val stars = resolveStars(baseLabels.sparkSession, subgraph, maxIter,
      driverEdgeLimit, memDisk)
    // survivors of touched components relabel from the re-converged
    // stars; edge-less survivors (their component split them off, or
    // their only neighbors expired) become singletons
    val relabeled = survivors
      .join(stars.select(col("v").as("doc_id"), col("u").as("cluster_id")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    // materialize the OUTPUT and free the internal snapshots — the
    // mergeClusterDelta discipline (see there); returned checkpointed,
    // ownership to the caller. A retire caller was previously
    // re-checkpointing the lazy result anyway (it must materialize
    // before overwriting its own input snapshot), so this moves that
    // materialization inside rather than adding one.
    val out = baseLabels
      .join(maybeBroadcast(touchedMembers.select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
      .unionByName(relabeled)
      .orderBy(col("doc_id"))
      .localCheckpoint(true, memDisk)
    Seq(expired, touchedMembers, subgraph, stars)
      .foreach(graft.Snap.free(_))
    out
  }

  /** Generic RETENTION pass for the persisted per-document index
    * artifacts (the band-signature table, the pHash fingerprint index,
    * the BM25 postings/doclen pair, the IVF assignment): drop every row
    * whose `idCol` is in the expired set, via a broadcast anti-join —
    * the expired set is TTL-batch-sized by the retention contract, so
    * the index streams through one narrow scan with no shuffle.
    *
    * Exactness per artifact (each pinned in RetentionSpec): a MinHash
    * band signature, a pHash fingerprint, a posting row, and a
    * fixed-centroid IVF assignment are all PER-DOCUMENT derivations
    * independent of the rest of the corpus, so "index of (corpus −
    * expired)" IS "index minus expired rows" — and the corpus-level
    * statistics that are NOT per-document (BM25's N/Σdl/df) recompose
    * from the pruned doclen/postings at serve time, which is why
    * [[graft.ops.Search.bm25TopKRetired]] is hash-exact against the
    * filtered-corpus oracle. The IVF CENTROIDS deliberately stay (the
    * FAISS train-once contract; [[graft.ops.Similarity.ivfDriftGauge]]
    * watches their decay). */
  /** Resolve which column of `expiredIds` is the expiry key: BY NAME
    * when the frame carries `idCol`; otherwise demand a single column —
    * a positional head() on a multi-column frame would key on whatever
    * happens to be first and silently retire the wrong column. Shared
    * by [[expireRows]] and the runnable pipelines' retire entry points. */
  def expiryKey(expiredIds: DataFrame, idCol: String): String =
    if (expiredIds.columns.contains(idCol)) idCol
    else {
      require(expiredIds.columns.length == 1,
        s"expiredIds carries no '$idCol' column and is not " +
          s"single-column: (${expiredIds.columns.mkString(", ")})")
      expiredIds.columns.head
    }

  def expireRows(index: DataFrame, idCol: String,
      expiredIds: DataFrame): DataFrame = {
    val key = expiryKey(expiredIds, idCol)
    index.join(
      broadcast(expiredIds.select(col(key).as(idCol)).distinct()),
      Seq(idCol), "left_anti")
      // a using-column join reorders the key first; hand back the
      // index's own column order so positional consumers are unaffected
      .select(index.columns.map(col): _*)
  }

  /** Dedup KEEP LIST — the actual output corpus of a near-dup pass: one
    * canonical survivor (the minimum doc_id) per connected component,
    * with its member count; singletons survive as their own 1-member
    * cluster. Since [[nearDupClusters]] labels every document with its
    * component's MINIMUM id, the survivors are exactly the distinct
    * labels — one grouped count over the label frame, no extra joins. */
  def nearDupSurvivors(documents: DataFrame, pairs: DataFrame,
      maxIter: Int = 20): DataFrame =
    survivorsFromLabels(nearDupClusters(documents, pairs, maxIter))

  /** The keep-list tail alone — one grouped count over an existing
    * (doc_id, cluster_id) labeling. Lets readers of the PERSISTED label
    * table ([[nearDupClustersPersisted]]) get survivors without
    * re-converging connected components. */
  def survivorsFromLabels(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("cluster_id").as("doc_id"), col("n_members"))
      .orderBy(col("doc_id"))

  /** One-time-per-JVM PERSISTED cluster-label table over the persisted
    * pair graph — the second tier of the dedup-index economics: connected
    * components are themselves an iterative (if log-round-bounded)
    * derivation, and every composite that needs family structure
    * (survivor selection, centrality composites, clique detection) should
    * read the labeling, not re-converge it. Rows are exactly
    * [[nearDupClusters]]' output, so readers share its oracle. */
  def nearDupClustersPersisted(spark: org.apache.spark.sql.SparkSession,
      dir: String, documents: => DataFrame, pairs: => DataFrame,
      threshold: Double): DataFrame =
    graft.sources.ManagedTable.persisted(spark,
      s"neardup_clusters_${math.round(threshold * 1000)}_" +
        graft.sources.ManagedTable.tag(dir))(
      nearDupClusters(documents, pairs))

  /** One-time-per-JVM PERSISTED near-dup pair table, memoized per
    * (app, dir, threshold) — the [[graft.ops.Similarity.ivfIndexPersisted]]
    * economics applied to dedup: candidate-pair generation is the
    * expensive artifact of a near-dup pass, and a real pipeline
    * materializes it once, then runs clusters, survivor lists, drop
    * lists, and audits as cheap queries over it. The persisted rows are
    * exactly [[charJaccardPairs]]' output, so downstream queries share
    * the lazy twins' oracles. */
  def charJaccardPairsPersisted(spark: org.apache.spark.sql.SparkSession,
      dir: String, documents: => DataFrame, threshold: Double): DataFrame =
    graft.sources.ManagedTable.persisted(spark,
      s"neardup_pairs_${math.round(threshold * 1000)}_" +
        graft.sources.ManagedTable.tag(dir))(
      charJaccardPairs(documents, threshold))

  /** Character-set jaccard pairs within each source group — exact pairwise
    * inside small groups (source is a natural blocking key). Matches
    * DuckDB's `jaccard()` text-similarity function (distinct code points
    * of each string, case-sensitive), so the whole pipeline is
    * SQL-oracle-checkable; computed by the native
    * [[graft.functions.CharSetJaccard]] expression. */
  def charJaccardPairs(documents: DataFrame, threshold: Double,
      targetBlock: Int = 1024): DataFrame = {
    // Build each document's character set once (128-bit ASCII mask + rare
    // code points), so the quadratic-within-block pair loop only bitcounts
    // — re-scanning the text per pair is O(|text|) × |pairs| and dominated
    // the whole pipeline.
    //
    // The pairwise comparison inside a `source` block is inherently
    // quadratic; unguarded, one oversized block becomes one task doing
    // |block|² work (the single-straggler scale-killer). Each block is
    // split into a g×g grid of sub-block pairs keyed by
    // (source, salt_a, salt_b) — each side replicated g times, every
    // unordered pair matched exactly once. g is derived PER SOURCE from
    // the block's row count, g = ceil(|block| / targetBlock), so per-task
    // pair work is bounded by ~targetBlock² for ANY block size (a fixed g
    // still left (|block|/g)² unbounded for a mega-block), and small
    // blocks pay no replication at all (g = 1). Output is identical for
    // any g (exactness preserved; the guard parallelizes, it does not
    // approximate).
    val t = math.max(targetBlock, 1)
    // snapshotted: the mask frame feeds BOTH sides of the self-join and
    // the per-source counts — without it the corpus text is re-scanned
    // and re-masked three times (self-join sides are separate subplans).
    // DISK_ONLY: one mask row per document — document-count-sized, so at
    // 10⁹ rows it must not hold executor memory against the join
    val d = documents.select(col("source"), col("doc_id"),
      graft.functions.CharSetMask.charsetMask(col("text")).as("m"))
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // one row per source — broadcast back; at 100 TB the source count is
    // orders of magnitude below the row count, and broadcasting avoids
    // re-shuffling the corpus on the source key just to learn g
    val gPerSource = d.groupBy(col("source"))
      .agg(count(lit(1)).as("_bc"))
      .select(col("source"),
        greatest(ceil(col("_bc").cast("double") / t).cast("long"), lit(1L)).as("_g"))
    val withG = d.join(broadcast(gPerSource), "source")
    val a = withG.select(col("source"), col("doc_id").as("id_a"), col("m").as("m_a"),
      pmod(xxhash64(col("doc_id")), col("_g")).as("ga"),
      explode(sequence(lit(0L), col("_g") - 1L)).as("gb"))
    val b = withG.select(col("source"), col("doc_id").as("id_b"), col("m").as("m_b"),
      pmod(xxhash64(col("doc_id")), col("_g")).as("gb"),
      explode(sequence(lit(0L), col("_g") - 1L)).as("ga"))
    a.join(b, Seq("source", "ga", "gb"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", graft.functions.MaskJaccard.maskJaccard(col("m_a"), col("m_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("source"), col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("source"), col("id_a"), col("id_b"))
  }
}
