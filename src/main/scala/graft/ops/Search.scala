package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-text relevance scoring over `documents` — the retrieval side of a
  * training-data pipeline (dedup against a query set, boosted sampling,
  * eval-set mining all start from "score every document against terms").
  *
  * Design notes for cross-engine exactness: classical BM25 uses
  * `idf = ln((N-df+0.5)/(df+0.5) + 1)`. `ln` is implementation-defined in
  * the last ulp (JVM `Math.log` vs libm), which can flip a hash-compared
  * rank, so we use the RAW ODDS idf `(N-df+0.5)/(df+0.5)` — a strictly
  * monotone transform of the classical idf (same ranking per term; the
  * cross-term mix weights differ from Lucene's, which is acceptable for a
  * deterministic engine and documented here). Every arithmetic op is IEEE
  * +,*,/ with a fixed association, so Spark and the DuckDB oracle agree
  * bit-for-bit.
  *
  * Scale shape: one narrow projection computes per-doc `(dl, tf_i)` (pure
  * map work, codegen'd), one global aggregate folds corpus stats `(N,
  * sum_dl, df_i)` into a SINGLE row that re-attaches via broadcast — the
  * same lazy one-row-broadcast pattern as the IVF centroids, so there is
  * no driver-side collect and the corpus never shuffles. Top-k is
  * TakeOrderedAndProject (partial per partition, final k on one task).
  */
object Search {

  /** Top-`k` documents by BM25 (raw-odds idf) over `terms`.
    *
    * Output: (doc_id, dl, tf_<term>..., score), score desc, doc_id tie.
    * Documents matching none of the terms are dropped (score 0).
    */
  def bm25TopK(documents: DataFrame, terms: Seq[String], k: Int = 50,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8, s"1..8 terms: $terms")
    // ONE regex split + explode per document, then conditional counts in a
    // single map-side-combinable aggregation — computing dl and each tf as
    // separate array expressions re-splits the text once per column (and
    // the stats crossJoin doubles it again): measured 7.2 s → this shape.
    // explode_outer keeps token-less documents (dl = 0) in the stats.
    val toks = filter(split(trim(col("text")), "\\s+"), t => t =!= "")
    val perDoc = documents
      .select(col("doc_id"), explode_outer(toks).as("tok"))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("tok").isNotNull, 1L).otherwise(0L)).as("dl"),
        terms.map(t =>
          sum(when(col("tok") === t, 1L).otherwise(0L)).as(s"tf_$t")): _*)

    // ONE row of corpus stats, attached lazily via broadcast — no collect.
    val statCols = count(lit(1)).as("n_docs") :: sum(col("dl")).as("sum_dl") ::
      terms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t")).toList
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)

    val joined = perDoc.crossJoin(broadcast(stats))
    joined
      .withColumn("score", bm25Score(terms, k1, b))
      .filter(col("score") > 0.0)
      .select(col("doc_id") :: col("dl") ::
        terms.map(t => col(s"tf_$t")).toList ::: List(col("score")): _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The BM25 score expression over columns `dl, n_docs, sum_dl, tf_<t>,
    * df_<t>` — ONE definition shared by the scan path ([[bm25TopK]]) and
    * the index path ([[bm25TopKIndexed]]) so the two are bit-identical by
    * construction. */
  private def bm25Score(terms: Seq[String], k1: Double, b: Double)
      : org.apache.spark.sql.Column = {
    // z = dl/avgdl computed as (dl*N)/sum_dl: one integer multiply (exact)
    // then one double divide (correctly rounded) — identical in DuckDB.
    val z = (col("dl") * col("n_docs")).cast("double") / col("sum_dl")
    def termScore(t: String) = {
      val tf = col(s"tf_$t").cast("double")
      val idf = (col("n_docs") - col(s"df_$t") + lit(0.5)) /
        (col(s"df_$t") + lit(0.5))
      // tf·(k1+1) written as tf·k1 + tf: `k1 + 1.0` evaluated HERE could
      // round differently from the oracle's decimal literal; this shape
      // uses only literals both engines parse identically
      idf * (tf * lit(k1) + tf) / (tf + lit(k1) * (lit(1.0 - b) + lit(b) * z))
    }
    // fixed left-assoc sum so the double result is engine-independent
    terms.map(termScore).reduceLeft(_ + _)
  }

  // ── persisted inverted index (the text-side analog of the IVF index) ──


  /** Build-once inverted index over `documents`, memoized per (app,
    * fixture) like the IVF index: a term-sharded POSTINGS table
    * `(tok, doc_id, tf)` partitioned by `shard = pmod(xxhash64(tok), 64)`
    * and a DOCLEN table `(doc_id, dl)` carrying every document (token-less
    * ones at dl = 0, so corpus stats match the scan path exactly).
    *
    * At 100 TB the postings table is the classic term-sharded layout: a
    * query for ≤ 8 terms prunes to ≤ 8 of 64 shard partitions (plus a
    * row-level `tok IN` filter inside them) instead of tokenizing the
    * corpus — the scan cost scales with the posting lists touched, not
    * with corpus bytes. The build is one explode + two keyed aggregates
    * (map-side combinable), paid once at ingest. */
  /** The pure postings/doclen construction — one posexplode, two keyed
    * aggregates. Shared by the one-time persisted build and the
    * incremental path's delta-batch index ([[bm25TopKIncremental]]):
    * both observe the EXACT token stream the scan path counts. */
  private[graft] def indexFrames(documents: DataFrame): (DataFrame, DataFrame) = {
    // Postings are POSITIONAL (sorted 0-based offsets per (tok, doc)):
    // tf queries read the tf column, phrase queries intersect the
    // position lists.
    val toks = filter(split(trim(col("text")), "\\s+"), t => t =!= "")
    val exploded = documents.select(col("doc_id"),
      posexplode_outer(toks).as(Seq("pos", "tok")))
    val doclen = exploded.groupBy(col("doc_id"))
      .agg(sum(when(col("tok").isNotNull, 1L).otherwise(0L)).as("dl"))
    val postings = exploded.filter(col("tok").isNotNull)
      .groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("tf"),
        // collect_list order is partition-dependent — sort_array makes
        // the stored posting list canonical
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("shard", pmod(xxhash64(col("tok")), lit(64L)))
    (postings, doclen)
  }

  def invertedIndexPersisted(spark: org.apache.spark.sql.SparkSession,
      dir: String, documents: => DataFrame,
      suffix: String = ""): (DataFrame, DataFrame) = {
    val appId = spark.sparkContext.applicationId
    // per-key build lock (ManagedTable.once): concurrent first queries must
    // not double-run the two writes below
    val (pName, dName) = graft.sources.ManagedTable.once(
        s"$appId/bm25_index$suffix/$dir") {
      val tag = graft.sources.ManagedTable.tag(dir)
      val p = s"bm25_postings${suffix}_$tag"
      val d = s"bm25_doclen${suffix}_$tag"
      val (postings, doclen) = indexFrames(documents)
      graft.sources.ManagedTable.write(postings, p, partitionCol = Some("shard"))
      graft.sources.ManagedTable.write(doclen, d)
      (p, d)
    }
    (spark.table(pName), spark.table(dName))
  }

  /** [[bm25TopK]] reading the PERSISTED inverted index: the query terms'
    * shard ids are computed as literals (one bounded 1-row local eval, the
    * same class as a broadcast LUT) so partition pruning cuts the postings
    * scan to the touched shards; df/tf come from the pruned posting rows,
    * corpus stats (N, Σdl) from the narrow doclen table. Same parameters →
    * same rows as the scan path, same oracle — only the tokenize+explode
    * moved out of the query into the one-time index build. */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
      documents: => DataFrame, terms: Seq[String], k: Int = 50,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (postings, doclen) = invertedIndexPersisted(spark, dir, documents)
    bm25Serve(spark, postings, doclen, terms, k, k1, b)
  }

  /** BM25 serving over ANY (postings, doclen) pair — the query half of
    * [[bm25TopKIndexed]], factored out so the incremental path can serve
    * the UNION of a persisted base index and a delta batch's freshly
    * aggregated postings through the identical scoring plan. */
  private def bm25Serve(spark: org.apache.spark.sql.SparkSession,
      postings: DataFrame, doclen: DataFrame, terms: Seq[String], k: Int,
      k1: Double, b: Double): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8, s"1..8 terms: $terms")
    val shardIds = spark.range(1)
      .select(terms.map(t => pmod(xxhash64(lit(t)), lit(64L))): _*)
      .head().toSeq.map(_.asInstanceOf[Long]).distinct
    val hit = postings
      .filter(col("shard").isin(shardIds: _*) &&
        col("tok").isin(terms: _*))
    // (tok, doc_id) is unique in the postings table, so a conditional
    // row-count IS the document frequency.
    val dfCols = terms.map(t =>
      coalesce(sum(when(col("tok") === t, 1L).otherwise(0L)), lit(0L))
        .as(s"df_$t"))
    val dfRow = hit.agg(dfCols.head, dfCols.tail: _*)
    val corpus =
      doclen.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tfCols = terms.map(t =>
      sum(when(col("tok") === t, col("tf")).otherwise(0L)).as(s"tf_$t"))
    val tfs = hit.groupBy(col("doc_id")).agg(tfCols.head, tfCols.tail: _*)
    tfs
      .join(doclen, Seq("doc_id"))
      .crossJoin(broadcast(corpus.crossJoin(dfRow)))
      .withColumn("score", bm25Score(terms, k1, b))
      .filter(col("score") > 0.0)
      .select(col("doc_id") :: col("dl") ::
        terms.map(t => col(s"tf_$t")).toList ::: List(col("score")): _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** INCREMENTAL BM25 — retrieval over a growing corpus without
    * rebuilding the index: the persisted BASE postings/doclen tables
    * absorb a newly-arrived delta by UNION, and every corpus-wide
    * statistic BM25 needs recomposes exactly from the two halves —
    * postings rows are per-(tok, doc) over DISJOINT doc sets (append,
    * never merge), df is a row count over the union, N and Σdl are sums
    * over the unioned doclen — so the served scores are bit-identical to
    * a full rebuild (same oracle as `q_bm25`). This is the retrieval
    * twin of [[graft.ops.Dedup.mergeClusterDelta]]: the expensive
    * artifact updates at cost ∝ delta (the delta's one tokenize +
    * two keyed aggregates), while serving keeps the base side's shard
    * pruning — the delta leg is delta-batch-sized by construction. */
  def bm25TopKIncremental(spark: org.apache.spark.sql.SparkSession,
      dir: String, baseDocs: => DataFrame, deltaDocs: DataFrame,
      terms: Seq[String], k: Int = 50,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (bp, bd) = invertedIndexPersisted(spark, dir, baseDocs, "_base")
    val (dp, dd) = indexFrames(deltaDocs)
    bm25Serve(spark, bp.unionByName(dp), bd.unionByName(dd), terms, k, k1, b)
  }

  /** RETIRED BM25 — retrieval after a retention pass, without rebuilding
    * the index: the persisted postings/doclen tables drop the expired
    * documents' rows via [[graft.ops.Dedup.expireRows]]' broadcast
    * anti-join, and every corpus statistic recomposes from what is left —
    * df is a row count over surviving postings, N and Σdl are sums over
    * the surviving doclen — so the served scores are bit-identical to a
    * full rebuild over (corpus − expired), the same oracle with the
    * expired docs filtered out. This is the retrieval half of the
    * reference's TTL semantics (internal/db/db.go:59-65) applied to the
    * index artifacts: state follows the LIVE corpus, and the per-delete
    * cost is one narrow anti-join pass, not a corpus re-tokenize. */
  def bm25TopKRetired(spark: org.apache.spark.sql.SparkSession,
      dir: String, documents: => DataFrame, expiredIds: DataFrame,
      terms: Seq[String], k: Int = 50,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (postings, doclen) = invertedIndexPersisted(spark, dir, documents)
    bm25Serve(spark,
      graft.ops.Dedup.expireRows(postings, "doc_id", expiredIds),
      graft.ops.Dedup.expireRows(doclen, "doc_id", expiredIds),
      terms, k, k1, b)
  }

  /** [[bm25TopKRetired]]'s MAINTENANCE-WINDOW twin: instead of applying
    * the expired anti-join at SERVE time per query (right for a fresh
    * TTL batch, but a standing per-query tax that grows with the expired
    * set), the persisted postings/doclen tables are physically REWRITTEN
    * once ([[graft.sources.ManagedTable.rewriteExpired]] — the
    * [[graft.streaming.IndexTier.retireWith]] pattern applied to
    * ManagedTable artifacts), and serving reads them through the exact
    * [[bm25TopKIndexed]] plan: shard partition pruning intact, NO
    * anti-join anywhere — post-rewrite serve cost equals the
    * never-expired baseline (SCALE.md receipt). The rewrite targets a
    * DEDICATED `_rwret` index copy so the shared full-corpus index keeps
    * serving the other query families. Scores are bit-identical to
    * [[bm25TopKRetired]]'s (df/N/Σdl recompose from the surviving rows
    * either way), so both serve paths share one oracle. */
  def bm25TopKRetiredRewritten(spark: org.apache.spark.sql.SparkSession,
      dir: String, documents: => DataFrame, expiredIds: DataFrame,
      terms: Seq[String], k: Int = 50,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val appId = spark.sparkContext.applicationId
    val fp = graft.sources.ManagedTable.idSetFingerprint(expiredIds, "doc_id")
    val (pName, dName, builtFp) = graft.sources.ManagedTable.once(
        s"$appId/bm25_index_rwret/$dir") {
      val tag = graft.sources.ManagedTable.tag(dir)
      val p = s"bm25_postings_rwret_$tag"
      val d = s"bm25_doclen_rwret_$tag"
      // the copy sources from the PERSISTED base index, not a corpus
      // re-tokenize: the base tables are deterministic products of the
      // same corpus (built here if absent, amortized across families),
      // so the _rwret copy is a narrow table-to-table write
      val (postings, doclen) = invertedIndexPersisted(spark, dir, documents)
      graft.sources.ManagedTable.write(postings, p, partitionCol = Some("shard"))
      graft.sources.ManagedTable.write(doclen, d)
      graft.sources.ManagedTable.rewriteExpired(spark, p, "doc_id",
        expiredIds, partitionCol = Some("shard"))
      graft.sources.ManagedTable.rewriteExpired(spark, d, "doc_id",
        expiredIds)
      (p, d, fp)
    }
    graft.sources.ManagedTable.requireSameExpiry(builtFp, fp,
      s"the _rwret BM25 index for $dir")
    bm25Serve(spark, spark.table(pName), spark.table(dName), terms, k, k1, b)
  }

  /** Conjunctive (AND) retrieval off the persisted inverted index: the
    * documents containing EVERY query term, with their lengths — the
    * other classic posting-list operation (BM25 is the ranked OR). The
    * pruned posting rows are grouped by document and a distinct-term
    * count equal to |terms| is the AND; dl comes from the doclen table.
    * Same shard pruning as [[bm25TopKIndexed]]: the scan touches the
    * query terms' partitions, never the corpus. */
  def booleanAndIndexed(spark: org.apache.spark.sql.SparkSession,
      dir: String, documents: => DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8, s"1..8 terms: $terms")
    val (postings, doclen) = invertedIndexPersisted(spark, dir, documents)
    val shardIds = spark.range(1)
      .select(terms.map(t => pmod(xxhash64(lit(t)), lit(64L))): _*)
      .head().toSeq.map(_.asInstanceOf[Long]).distinct
    postings
      .filter(col("shard").isin(shardIds: _*) && col("tok").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("tok")).as("n_terms"))
      .filter(col("n_terms") === terms.size.toLong)
      .join(doclen, Seq("doc_id"))
      .select(col("doc_id"), col("dl"))
      .orderBy(col("doc_id"))
  }

  /** Exact phrase search off the positional postings: documents where
    * `phrase`'s tokens occur CONSECUTIVELY, with the occurrence count —
    * the operation a tf-only index cannot answer. Each phrase term's
    * (pruned) posting row contributes its position list; an occurrence is
    * a start offset x with term i's list containing x+i for every i, so
    * the match is |phrase|−1 broadcast-joinable equi-joins on doc_id plus
    * one higher-order filter over the FIRST term's list — no text, no
    * explode, nothing corpus-sized. Overlapping occurrences count (both
    * engines scan every start offset). Repeated phrase terms reuse the
    * same posting row at different offsets. */
  def phraseIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
      documents: => DataFrame, phrase: Seq[String]): DataFrame =
    phraseStarts(spark, dir, documents, phrase)
      .select(col("doc_id"), size(col("starts")).cast("long").as("n_occ"))
      .orderBy(col("doc_id"))

  /** Shared phrase-match core: (doc_id, starts) with the SORTED 0-based
    * start offsets of every occurrence — [[phraseIndexed]] counts them,
    * [[snippetsIndexed]] slices context windows around them. Only docs
    * with >= 1 occurrence survive. */
  private def phraseStarts(spark: org.apache.spark.sql.SparkSession,
      dir: String, documents: => DataFrame,
      phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2 && phrase.size <= 8, s"2..8 terms: $phrase")
    val terms = phrase.distinct
    val (postings, _) = invertedIndexPersisted(spark, dir, documents)
    val shardIds = spark.range(1)
      .select(terms.map(t => pmod(xxhash64(lit(t)), lit(64L))): _*)
      .head().toSeq.map(_.asInstanceOf[Long]).distinct
    val hit = postings
      .filter(col("shard").isin(shardIds: _*) && col("tok").isin(terms: _*))
    val joined = terms.zipWithIndex.map { case (t, i) =>
        hit.filter(col("tok") === t)
          .select(col("doc_id"), col("positions").as(s"pos_$i"))
      }.reduceLeft((a, b) => a.join(b, Seq("doc_id")))
    val posCol = (t: String) => col(s"pos_${terms.indexOf(t)}")
    val starts = filter(posCol(phrase.head), x =>
      phrase.zipWithIndex.tail
        .map { case (t, i) => array_contains(posCol(t), x + i) }
        .reduce(_ && _))
    joined
      .withColumn("starts", starts)
      .filter(size(col("starts")) > 0)
      .select(col("doc_id"), col("starts"))
  }

  /** Search-result snippets: for each phrase-matching document, the
    * occurrence count and a `context`-token window around the FIRST
    * occurrence, re-materialized from the document text — the one
    * retrieval step that genuinely needs the text back, so it joins the
    * bounded match frame TO the corpus (broadcastable at any corpus
    * size: |matches| ≤ |docs with the rarest term|) and re-tokenizes
    * only the matching documents. */
  def snippetsIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
      documents: => DataFrame, phrase: Seq[String],
      context: Int = 3): DataFrame = {
    val st = phraseStarts(spark, dir, documents, phrase)
    val toks = filter(split(trim(col("text")), "\\s+"), t => t =!= "")
    val first = element_at(col("starts"), 1)
    val from0 = greatest(first - context, lit(0))
    val len = first + lit(phrase.size + context) - from0
    st.join(documents.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"),
        size(col("starts")).cast("long").as("n_occ"),
        concat_ws(" ", slice(toks, from0 + 1, len)).as("snippet"))
      .orderBy(col("doc_id"))
  }

  /** Proximity search off the positional postings — [[phraseIndexed]]'s
    * relaxation: the pair count of `a`/`b` occurrences within `window`
    * tokens of each other (order-free), the classic NEAR operator. Same
    * shard-pruned posting scan and doc_id equi-join; the pair count is
    * one higher-order fold over the two position lists (positions are
    * 0-based in the index, 1-based in the oracle — only DIFFERENCES
    * enter the predicate, so the basis cancels). */
  def proximityIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
      documents: => DataFrame, a: String, b: String,
      window: Int = 5): DataFrame = {
    require(a != b, "distinct terms")
    val (postings, _) = invertedIndexPersisted(spark, dir, documents)
    val shardIds = spark.range(1)
      .select(Seq(a, b).map(t => pmod(xxhash64(lit(t)), lit(64L))): _*)
      .head().toSeq.map(_.asInstanceOf[Long]).distinct
    val hit = postings
      .filter(col("shard").isin(shardIds: _*) && col("tok").isin(a, b))
    val pa = hit.filter(col("tok") === a)
      .select(col("doc_id"), col("positions").as("pos_a"))
    val pb = hit.filter(col("tok") === b)
      .select(col("doc_id"), col("positions").as("pos_b"))
    pa.join(pb, Seq("doc_id"))
      .withColumn("n_pairs", aggregate(col("pos_a"), lit(0L),
        (acc, x) => acc +
          size(filter(col("pos_b"), y => abs(y - x) <= window)).cast("long")))
      .filter(col("n_pairs") > 0L)
      .select(col("doc_id"), col("n_pairs"))
      .orderBy(col("doc_id"))
  }

  /** Prefix (wildcard `pre*`) term lookup off the persisted inverted
    * index: every vocabulary term starting with `prefix`, with its
    * document frequency and corpus-wide term frequency — the
    * term-dictionary operation behind autocomplete and wildcard search.
    *
    * Unlike the exact-term paths, shard pruning cannot apply (shards key
    * on `xxhash64(tok)`, which scatters a prefix range over all 64
    * shards), so the query scans the POSTINGS table — but that is the
    * point of the index: the postings table is |vocabulary|·|docs-per-term|
    * rows of a few bytes, orders of magnitude smaller than re-tokenizing
    * corpus text, and the `StartsWith` filter pushes into its parquet
    * scan. (tok, doc_id) is unique, so `count(*)` IS the document
    * frequency. */
  def prefixTermsIndexed(spark: org.apache.spark.sql.SparkSession,
      dir: String, documents: => DataFrame, prefix: String): DataFrame = {
    require(prefix.nonEmpty, "non-empty prefix")
    val (postings, _) = invertedIndexPersisted(spark, dir, documents)
    postings
      .filter(col("tok").startsWith(prefix))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
      .orderBy(col("tok"))
  }

  /** More-like-this: the top-`k` documents sharing vocabulary with a
    * probe DOCUMENT (not a term list), scored by rarity-weighted overlap —
    * each shared distinct term contributes `1e9 div df` (BIGINT floor
    * division of the inverse document frequency; integer, order-free,
    * engine-exact). The Lucene MoreLikeThis shape re-expressed on the
    * persisted postings: the probe's term row-set is a broadcast (one
    * document's vocabulary), the candidate scan is a broadcast-hash join
    * against it — the postings table never shuffles; only the matched
    * rows (Σ df over the probe's terms) reach the doc-keyed rollup.
    * `df` counts the probe itself, as Lucene does. Ties break on doc_id,
    * so the top-k is total-ordered and hash-stable. */
  def moreLikeThisIndexed(spark: org.apache.spark.sql.SparkSession,
      dir: String, documents: => DataFrame, probeId: Long,
      k: Int = 20): DataFrame = {
    val (postings, _) = invertedIndexPersisted(spark, dir, documents)
    val probeToks = postings.filter(col("doc_id") === probeId)
      .select(col("tok"))
    val hits = postings.join(broadcast(probeToks), "tok")
      .select(col("tok"), col("doc_id"))
    val dfPerTok = hits.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    hits
      .join(broadcast(dfPerTok), "tok")
      .filter(col("doc_id") =!= probeId)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"),
        sum(expr("1000000000L div df")).as("score_ppb"))
      .orderBy(col("score_ppb").desc, col("doc_id"))
      .limit(k)
  }

  /** Hybrid retrieval — reciprocal-rank fusion (Cormack et al., SIGIR
    * 2009) of a lexical BM25 leg and a dense cosine-kNN leg, the standard
    * two-tower retrieval mix in RAG / eval-mining pipelines.
    *
    * Each leg contributes `1e9 div (60 + rank)` in ppb fixed point
    * (integer floor division — the classical 1/(60+r) made
    * order-independent and cross-engine exact); a document absent from a
    * leg contributes 0 via the full-outer join. The legs themselves are
    * the already-oracle-proven [[bm25TopK]] and
    * [[graft.ops.Similarity.bruteForceTopK]] plans, so fusion adds one
    * full-outer join on doc_id over two ≤ `nCand`-row frames plus a
    * bounded top-k sort — nothing corpus-sized moves.
    *
    * The window over the BM25 leg is a bounded-domain frame (≤ nCand
    * rows post-limit), the same class as the PQ-seed and day-rank
    * windows. The vector leg excludes the probe vector itself (kNN
    * contract); the probe DOCUMENT can still enter via the text leg.
    */
  def hybridRrfTopK(documents: DataFrame, embeddings: DataFrame,
      terms: Seq[String], probeId: Long, nCand: Int = 100,
      k: Int = 20): DataFrame =
    hybridRrfFuse(bm25TopK(documents, terms, k = nCand), embeddings,
      probeId, nCand, k)

  /** [[hybridRrfTopK]] with the sparse leg read off the PERSISTED
    * term-sharded postings ([[bm25TopKIndexed]] — bit-identical rows to
    * the scan leg by construction, so the fusion shares q_hybrid_rrf's
    * oracle): at scale the fused query tracks the FLAT economics of the
    * pruned index scan instead of re-tokenizing the corpus per query —
    * the production shape of a two-tower retrieval endpoint, where both
    * legs (postings, IVF buckets) are ingest-time artifacts. */
  def hybridRrfTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      dir: String, documents: => DataFrame, embeddings: DataFrame,
      terms: Seq[String], probeId: Long, nCand: Int = 100,
      k: Int = 20): DataFrame =
    hybridRrfFuse(bm25TopKIndexed(spark, dir, documents, terms, k = nCand),
      embeddings, probeId, nCand, k)

  /** Shared RRF fusion core over a ≤ nCand-row BM25 top frame. */
  private def hybridRrfFuse(textTop: DataFrame, embeddings: DataFrame,
      probeId: Long, nCand: Int, k: Int): DataFrame = {
    val textLeg = textTop
      .select(col("doc_id"), col("score"))
      .withColumn("rank_text", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(graft.analytics.GlobalRank.singleBucket) // bounded: ≤ nCand rows
          .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rank_text"))
    val vecLeg = Similarity.bruteForceTopK(embeddings, Seq(probeId), nCand)
      .select(col("vec_id").as("doc_id"), col("rank").as("rank_vec"))
    textLeg.join(vecLeg, Seq("doc_id"), "full_outer")
      .withColumn("rrf_ppb",
        coalesce(expr("1000000000L div (60 + rank_text)"), lit(0L)) +
          coalesce(expr("1000000000L div (60 + rank_vec)"), lit(0L)))
      .select(col("doc_id"), col("rank_text"), col("rank_vec"), col("rrf_ppb"))
      .orderBy(col("rrf_ppb").desc, col("doc_id"))
      .limit(k)
  }

  /** Bigram language-model scoring: train an add-one-smoothed bigram LM on
    * the TRAIN split (doc_id % 5 != 0), score the held-out split — the
    * perplexity-filter shape every pretraining pipeline runs, kept in
    * exact fixed-point so it hash-matches across engines.
    *
    * Per held-out document: `n_bigrams`, `n_oov` (bigrams never seen in
    * training), and `sum_ppb`/`mean_ppb` where each bigram contributes
    * `floor((B+1)·1e9 / (U+V))` — B the train count of the bigram, U the
    * train count of its left context, V the train vocabulary size. Integer
    * floor-division, so sums are order-free (a double log-prob sum would
    * be partition-order-dependent). Classical perplexity is a monotone
    * function of the geometric mean of the same probabilities; the
    * arithmetic fixed-point mean ranks documents for filtering purposes
    * identically at the extremes that matter (rare-bigram documents).
    *
    * Scale shape: bigram extraction is per-row map work; the LM tables are
    * keyed aggregates (map-side partial combine); scoring is two equi-joins
    * on (bigram) and (context) — broadcastable when the vocabulary is
    * bounded, shuffle-joins otherwise. Nothing is driver-side.
    */
  def bigramLmScore(documents: DataFrame): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    // bigrams as "w1 w2" strings (tokens are whitespace-free by split)
    val bigrams = when(length(trim(col("text"))) === 0,
        array().cast("array<string>"))
      .otherwise(zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b)))

    val withBg = documents.select(col("doc_id"), bigrams.as("bgs"))
    val heldOut = withBg.filter(col("doc_id") % 5 === 0)

    // ONE explode over the train split; the context counts and vocabulary
    // both derive from the aggregated bigram-count frame (bounded by the
    // DISTINCT bigram count, not the corpus), so the corpus-sized
    // tokenize+explode runs once for train and once for held-out — not
    // once per LM table.
    val bgCounts = withBg.filter(col("doc_id") % 5 =!= 0)
      .select(explode(col("bgs")).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("b_cnt"))
    val ctxCounts = bgCounts
      .groupBy(split(col("bigram"), " ").getItem(0).as("ctx"))
      .agg(sum(col("b_cnt")).as("u_cnt"))
    // V = distinct tokens over train bigrams (both positions contribute)
    val vocab = bgCounts
      .select(explode(array(
        split(col("bigram"), " ").getItem(0),
        split(col("bigram"), " ").getItem(1))).as("tok"))
      .agg(countDistinct(col("tok")).as("v_size"))

    val scored = heldOut
      .select(col("doc_id"), explode(col("bgs")).as("bigram"))
      .withColumn("ctx", split(col("bigram"), " ").getItem(0))
      .join(bgCounts, Seq("bigram"), "left_outer")
      .join(ctxCounts, Seq("ctx"), "left_outer")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        col("b_cnt").isNull.cast("long").as("oov"),
        (coalesce(col("b_cnt"), lit(0L)) + 1L).as("b1"),
        (coalesce(col("u_cnt"), lit(0L)) + col("v_size")).as("uv"))
      // floor((B+1)*1e9 / (U+V)) — BIGINT floor division, exact in both
      // engines (a double divide could round across an integer boundary)
      .withColumn("ppb", expr("(b1 * 1000000000L) div uv"))
    scored.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("oov")).as("n_oov"),
        sum(col("ppb")).as("sum_ppb"))
      .withColumn("mean_ppb", expr("sum_ppb div n_bigrams"))
      .orderBy(col("doc_id"))
  }
}
