package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-level statistics and curation operators for training-data
  * pipelines: repetition scoring, relevance (BM25) scoring, and
  * deterministic hash-based sampling.
  *
  * Everything here is declarative DataFrame composition, so Catalyst keeps
  * pushdown/pruning/partial aggregation, and each operator's shuffle
  * profile is spelled out in its doc — the difference between "works on
  * 60k rows" and "works on 100 TB" is exactly which of these shuffle and
  * on what key.
  *
  * Capability target: the corpus-hygiene passes (repetition filters à la
  * Gopher, relevance scoring, subsampling) a user of the reference engine
  * (go-sif/sif) would hand-write as `Map`/`Reduce` closures
  * (operations/transform/map.go:25-35, reduce.go:16-44), expressed as
  * oracle-checkable relational plans.
  */
object Corpus {

  /** Per-document lexical diversity census — type-token ratio and
    * distinct-bigram ratio as exact floor-ppm integers (the distinct-n
    * diversity signal: templated/boilerplate docs score low, natural
    * prose high — the complement of [[repetitionSignals]]' top-gram
    * concentration view). Bigrams are space-joined token pairs
    * (tokens are whitespace-free by construction, so the join is
    * collision-free — no hashing, no caveat). Docs with no tokens (or
    * no bigrams) report null ratios rather than a fake 0.
    *
    * Scale shape: ZERO shuffles — every count is an array op inside
    * one scan projection (tokens, array_distinct, a zip_with bigram
    * build); nothing leaves its map task, the cheapest possible shape
    * for a per-doc census.
    */
  def diversitySignals(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    df.select(col(idCol), toks.as("__t"))
      .select(col(idCol),
        size(col("__t")).cast("long").as("n_tokens"),
        size(array_distinct(col("__t"))).cast("long").as("n_distinct_tokens"),
        when(size(col("__t")) >= 2,
          zip_with(
            slice(col("__t"), lit(1), size(col("__t")) - 1),
            slice(col("__t"), lit(2), size(col("__t")) - 1),
            (a, b) => concat(a, lit(" "), b)))
          .otherwise(array().cast("array<string>")).as("__bg"))
      .select(col(idCol), col("n_tokens"), col("n_distinct_tokens"),
        size(col("__bg")).cast("long").as("n_bigrams"),
        size(array_distinct(col("__bg"))).cast("long")
          .as("n_distinct_bigrams"))
      .withColumn("ttr_ppm",
        expr(Stats.ppmSql("n_distinct_tokens", "n_tokens")))
      .withColumn("distinct_bigram_ppm",
        expr(Stats.ppmSql("n_distinct_bigrams", "n_bigrams")))
  }

  /** Per-document repetition signals (the Gopher-style quality gates):
    *
    *  - `n_tokens`      total whitespace tokens
    *  - `n_distinct`    distinct tokens
    *  - `top_token_frac`  fraction of tokens taken by the single most
    *                      frequent token — boilerplate/spam detector
    *  - `top_bigram_frac` fraction of adjacent bigrams taken by the most
    *                      frequent bigram — loop/template detector
    *
    * Shuffle profile: two aggregations, both keyed by (doc id [, gram]) —
    * token rows shuffle once into (id, token) groups, bigram *hashes*
    * (8 bytes via xxhash64, never the gram string) shuffle once into
    * (id, hash) groups, then the per-doc rollups co-partition on the id.
    * Nothing is quadratic and no full document body ever shuffles.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    // Both branches hash via the native NgramHashesAll expression (one
    // fused pass per row, multiplicity kept) — no interpreted per-gram
    // HOF, and only (id, 8-byte hash) rows ever shuffle. Token counts
    // group on the 1-gram hash: identical multiplicities modulo a 64-bit
    // collision inside one document.
    def gramCounts(n: Int): DataFrame = df
      .select(id, explode(graft.plans.HashExpressions.ngramHashesAll(
        TextFunctions.tokens(col(textCol)), n)).as("gram"))
      .groupBy(id, col("gram")).agg(count(lit(1)).as("cnt"))
    val tokCounts = gramCounts(1)
      .groupBy(id).agg(
        sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_token_cnt"))
    val bigramCounts = gramCounts(2)
      .groupBy(id).agg(max(col("cnt")).as("top_bigram_cnt"))
    tokCounts.join(bigramCounts, Seq(idCol), "left")
      .select(
        id,
        col("n_tokens"),
        col("n_distinct"),
        (col("top_token_cnt").cast("double") / col("n_tokens").cast("double"))
          .as("top_token_frac"),
        when(col("n_tokens") < 2, lit(0.0))
          .otherwise(col("top_bigram_cnt").cast("double") /
            (col("n_tokens") - 1).cast("double"))
          .as("top_bigram_frac"))
  }

  /** BM25 relevance of every document against a small bag of query terms.
    *
    * Uses the rational idf `(N − df + 0.5) / (df + 0.5)` (the BM25+ idf
    * without the log wrapper): every factor is a ratio of exactly
    * representable doubles, so the score is bit-deterministic across
    * engines — a transcendental `ln` could differ in the last ulp between
    * libm implementations. Per-term partial scores accumulate in DECIMAL
    * (order-free) before the final double cast.
    *
    * Shuffle profile: the token explode filters to query terms *before*
    * any shuffle (map-side `isin`), so the shuffled tf table is
    * O(docs × |terms|), not O(tokens). Document-frequency and corpus
    * stats are tiny aggregates broadcast back — the only non-broadcast
    * shuffle is the (id, term) tf grouping.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val id = col(idCol)
    val docs = df.select(id,
      TextFunctions.tokenCount(col(textCol)).cast("long").as("dl"),
      TextFunctions.tokens(col(textCol)).as("tok"))

    // Corpus stats: one row, broadcast. Exact integers → exact avgdl.
    val stats = docs.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

    val tf = docs
      .select(id, col("dl"), explode(col("tok")).as("term"))
      .where(col("term").isin(terms.map(lit(_)): _*))
      .groupBy(id, col("dl"), col("term")).agg(count(lit(1)).as("tf"))

    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))

    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(id, col("term"),
        // idf * ((tf * (k1+1)) / (tf + k1 * ((1 - b) + ((b * dl) / avgdl))))
        // — parenthesization mirrored exactly in the oracle SQL.
        (((col("n_docs").cast("double") - col("df").cast("double")) + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) *
          ((col("tf").cast("double") * lit(k1 + 1.0)) /
            (col("tf").cast("double") + lit(k1) *
              ((lit(1.0) - lit(b)) + ((lit(b) * col("dl").cast("double")) /
                (col("sum_dl").cast("double") / col("n_docs").cast("double")))))))
          .as("s"))
      .groupBy(id)
      .agg(sum(col("s").cast(DecimalType(30, 15))).cast("double").as("bm25raw"))
      .select(id, round(col("bm25raw"), 9).as("bm25"))
  }

  /** Sparse lexical top-k retrieval: for every query document, its `k`
    * most TF-IDF-cosine-similar corpus documents, with candidate
    * generation through an inverted index — the sparse counterpart of the
    * dense ANN family ([[graft.functions.Similarity.knnJoin]]), and the
    * standard shape for decontamination review, near-dup triage and
    * lexical RAG-style indexing over a crawl.
    *
    * Terms are `ngram`-token shingles keyed by their 8-byte hash
    * ([[graft.plans.HashExpressions.ngramHashesAll]] — bodies never
    * shuffle); weights are `tf · (ln N − ln df)` with both `ln` inputs
    * integral doubles (counts — the cross-engine-exactness rule of
    * [[unigramNll]]); per-pair dot products and per-doc norms accumulate
    * products in DECIMAL so partial-aggregation order cannot flip bits.
    * Terms with `df > maxDfRatio · N` are pruned — simultaneously the
    * stopword cut and THE scale lever: it bounds every posting list, so
    * candidate generation degrades gracefully instead of degenerating to
    * all-pairs on boilerplate-heavy corpora (`maxDfRatio < 1` is required:
    * it also guarantees every kept term has `idf > 0`, making norms
    * strictly positive — no 0/0 cosine can reach the engine-vs-oracle
    * divide).
    *
    * Capability target: retrieval a user of the reference engine would
    * hand-roll as tokenize/score `Map` closures plus a `Reduce` rollup
    * (reference operations/transform/map.go:25-35, reduce.go:16-44) —
    * here one declarative plan with a real inverted-index join.
    *
    * Shuffle profile: token instances collapse map-side to
    * `(doc, gram-hash, tf)` before the first exchange; `df` aggregates
    * 8-byte hashes; the doc-frequency table joins back hash-keyed
    * (vocabulary-sized — NOT broadcast, n-gram vocabularies outgrow the
    * driver at crawl scale); the query-side postings (q · doc-terms rows)
    * broadcast into the inverted-index equi-join on the gram hash, whose
    * output is bounded by Σ_term df_q(t)·df(t) ≤ q·terms·(maxDfRatio·N)
    * — never all-pairs; per-(query, doc) partials combine map-side; the
    * final top-k is a rank-truncated window (WindowGroupLimit partial
    * heaps, the [[graft.functions.Similarity.knnJoinBlocked]] shape).
    * Docs with fewer than `ngram` tokens have no shingles and drop out of
    * both sides by construction.
    *
    * @param isQuery boolean column marking the query documents
    * @return (query_id, doc_id, cos, rank), rank 1..k per query by
    *   (cos desc, doc_id); self-pairs excluded
    */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
                isQuery: Column, k: Int, ngram: Int = 2,
                maxDfRatio: Double = 0.5): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(ngram >= 1, s"ngram must be positive: $ngram")
    require(maxDfRatio > 0.0 && maxDfRatio < 1.0,
      s"maxDfRatio must be in (0, 1): $maxDfRatio")
    val tf = gramTf(df, textCol, ngram,
      "__id" -> col(idCol).cast("long"), "__q" -> isQuery.cast("boolean"))
    val nDocs = df.agg(count(lit(1)).as("__n"))
    val kept = tf.groupBy("__th").agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nDocs))
      .where(col("__df").cast("double") <=
        lit(maxDfRatio) * col("__n").cast("double"))
    val posting = tf.join(kept, "__th")
      .select(col("__id"), col("__q"), col("__th"),
        (col("__tf").cast("double") *
          (log(col("__n").cast("double")) - log(col("__df").cast("double"))))
          .as("__w"))
    val norms = posting.groupBy("__id").agg(l2Norm(col("__w")).as("__nrm"))
    val qp = posting.where(col("__q"))
      .select(col("__id").as("__qid"), col("__th"), col("__w").as("__qw"))
    val dots = posting.join(broadcast(qp), Seq("__th"))
      .where(col("__id") =!= col("__qid"))
      .groupBy(col("__qid"), col("__id"))
      .agg(sum((col("__qw") * col("__w")).cast(DecimalType(30, 15)))
        .cast("double").as("__dot"))
    val qn = norms.select(col("__id").as("__qid"), col("__nrm").as("__qn"))
    val w = Window.partitionBy(col("__qid")).orderBy(col("cos").desc, col("__id"))
    dots
      .join(norms, "__id")
      .join(broadcast(qn), "__qid")
      .select(col("__qid"), col("__id"),
        round(col("__dot") / (col("__qn") * col("__nrm")), 9).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("__qid").as("query_id"), col("__id").as("doc_id"),
        col("cos"), col("rank"))
  }

  /** Delta between two corpus snapshots: (id, status) with status ∈
    * added | removed | changed — the audit that makes an incremental
    * pipeline trustworthy ("yesterday's index + today's probe" is only
    * valid if you know what moved). Content comparison is by 128-bit
    * fingerprint (md5 — bodies never shuffle). 128 bits, not the 8-byte
    * xxhash64 the dedup family uses: a dedup collision errs toward
    * DROPPING a row (visible downstream); a diff collision would read a
    * changed doc as *unchanged* and silently corrupt the audit — the one
    * place the extra 24 bytes/row buys out an undetectable failure mode.
    * Null text is explicit: a null↔non-null transition IS a change
    * (null-safe compare engine-side, IS DISTINCT FROM oracle-side —
    * both engines agree by contract, not by fixture luck). The id join
    * is a full outer on longs, and unchanged rows are filtered OUT so
    * the output is delta-sized, not corpus-sized.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   idCol: String, textCol: String): DataFrame =
    snapshotDiffWithFingerprint(oldDf, newDf, idCol, textCol,
      c => md5(c.cast("binary")))

  /** [[snapshotDiff]] with an injectable fingerprint — the
    * removeFrequentUnitsWithHash testing convention: a spec injects a
    * deliberately weak hash to manufacture a collision and pin down that
    * the default 128-bit fingerprint catches what a weak one misses.
    * The fingerprint must map null to null (md5/xxhash64 column fns do).
    */
  private[graft] def snapshotDiffWithFingerprint(
      oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String,
      fingerprint: Column => Column): DataFrame = {
    val o = oldDf.select(col(idCol).cast("long").as("__ido"),
      fingerprint(col(textCol)).as("__fo"))
    val n = newDf.select(col(idCol).cast("long").as("__idn"),
      fingerprint(col(textCol)).as("__fn"))
    o.join(n, col("__ido") === col("__idn"), "full_outer")
      // null-safe inequality: null vs null ⇒ unchanged, null vs value ⇒
      // changed — matches the oracle's IS DISTINCT FROM explicitly
      .where(col("__ido").isNull || col("__idn").isNull ||
        !(col("__fo") <=> col("__fn")))
      .select(coalesce(col("__ido"), col("__idn")).as(idCol),
        when(col("__ido").isNull, "added")
          .when(col("__idn").isNull, "removed")
          .otherwise("changed").as("status"))
  }

  /** Build the persistable state of a TF-IDF inverted index over a
    * corpus snapshot: `(postings, dict)` where `postings` =
    * (doc_id, __th gram-hash, wn = tf·idf/‖doc‖ — the doc side
    * pre-normalized so probes never re-read corpus norms) and `dict` =
    * (__th, idf) with idf frozen at build time (`ln N − ln df` over the
    * INDEXED corpus — later probes score against the snapshot's
    * statistics, the [[graft.functions.Dedup.dedupAgainstIndex]]
    * convention). Write both to parquet and [[tfidfProbeIndex]] new
    * arrivals without touching the indexed bodies again — the
    * build-once/probe-incrementally split that matters when the index
    * side is the 100 TB corpus. Same df-pruning lever and ln/DECIMAL
    * discipline as [[tfidfTopK]].
    */
  def tfidfIndex(df: DataFrame, idCol: String, textCol: String,
                 ngram: Int = 2, maxDfRatio: Double = 0.5): (DataFrame, DataFrame) = {
    require(ngram >= 1, s"ngram must be positive: $ngram")
    require(maxDfRatio > 0.0 && maxDfRatio < 1.0,
      s"maxDfRatio must be in (0, 1): $maxDfRatio")
    val tf = gramTf(df, textCol, ngram, "doc_id" -> col(idCol).cast("long"))
    val nDocs = df.agg(count(lit(1)).as("__n"))
    val dict = tf.groupBy("__th").agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nDocs))
      .where(col("__df").cast("double") <=
        lit(maxDfRatio) * col("__n").cast("double"))
      .select(col("__th"),
        (log(col("__n").cast("double")) - log(col("__df").cast("double")))
          .as("idf"))
    (unitPostings(tf, dict), dict)
  }

  // (doc, gram-hash, __tf) instance counts of one ngram width: the
  // hashes collapse map-side before any exchange, bodies never shuffle.
  // `keys` are the (name, column) pairs that identify the doc.
  private def gramTf(df: DataFrame, textCol: String, ngram: Int,
                     keys: (String, Column)*): DataFrame = {
    val names = keys.map(_._1)
    df.select(keys.map { case (n, c) => c.as(n) } :+ graft.plans.HashExpressions
        .ngramHashesAll(TextFunctions.tokens(col(textCol)), ngram).as("__g"): _*)
      .select(names.map(col) :+ explode(col("__g")).as("__th"): _*)
      .groupBy(names.head, names.tail :+ "__th": _*)
      .agg(count(lit(1)).as("__tf"))
  }

  // sqrt of the DECIMAL-accumulated Σ w² (order-free partials)
  private def l2Norm(w: Column): Column =
    sqrt(sum((w * w).cast(DecimalType(30, 15))).cast("double"))

  // (doc_id, __th, wn): tf·idf weights under `dict`, each doc scaled to
  // unit L2 norm — the stored side of the TF-IDF index
  private def unitPostings(tf: DataFrame, dict: DataFrame): DataFrame = {
    val w = tf.join(dict, "__th")
      .select(col("doc_id"), col("__th"),
        (col("__tf").cast("double") * col("idf")).as("__w"))
    val norms = w.groupBy("doc_id").agg(l2Norm(col("__w")).as("__nrm"))
    w.join(norms, "doc_id")
      .select(col("doc_id"), col("__th"), (col("__w") / col("__nrm")).as("wn"))
  }

  /** [[tfidfIndex]] as the full persistable artifact with its build
    * scheme attached — the third member of the index-maintenance trio
    * ([[graft.functions.Similarity.ivfIndex]] froze its quantizer,
    * [[graft.functions.Dedup.minhashBandIndexBuild]] its banding
    * scheme; here the frozen state is the dict's idf AND the
    * extraction knobs). Returns `(params, postings, dict)`: `params`
    * is the 1-row (ngram, max_df_ratio) frame — the dict is only
    * meaningful for grams extracted the same way, so the knobs persist
    * WITH it; `postings`/`dict` are [[tfidfIndex]]'s. Persist all
    * three; tomorrow's crawl appends through [[tfidfIndexAppend]].
    */
  def tfidfIndexBuild(df: DataFrame, idCol: String, textCol: String,
                      ngram: Int = 2, maxDfRatio: Double = 0.5)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    val params = Seq((ngram, maxDfRatio)).toDF("ngram", "max_df_ratio")
    val (postings, dict) = tfidfIndex(df, idCol, textCol, ngram, maxDfRatio)
    (params, postings, dict)
  }

  /** Incremental [[tfidfIndexBuild]] maintenance: file NEW documents
    * into the index under the FROZEN dictionary — no df recount, no
    * contact with the stored postings. Each arrival's grams weight by
    * the dict's snapshot idf (grams outside the dict drop — they can
    * match no posting and would need a df the snapshot doesn't have),
    * normalize by the arrival's own norm, and the returned rows append
    * onto the stored postings: [[tfidfProbeIndex]] then retrieves old
    * and new docs alike against one consistent statistic. The
    * ivfIndexAppend convention — yesterday's 100 TB postings never
    * move, today's batch never recounts — with the same honest decay
    * note: as the corpus drifts, frozen idf ages (retrieval quality
    * decays, not correctness); rebuild on your drift cadence
    * ([[graft.functions.Stats.histogramDrift]] tells you when).
    *
    * REFUSES a mixed build loudly: one distinct (ngram, max_df_ratio)
    * row or the append dies — grams extracted under a different ngram
    * silently match nothing, the same seam bug the band-index guard
    * exists for.
    *
    * Scale shape: one (doc, gram) tf aggregation over the ARRIVAL
    * batch, a broadcast dict join, a per-arrival-doc norm — the stored
    * index never reads.
    */
  def tfidfIndexAppend(params: DataFrame, dict: DataFrame,
                       newDf: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val ngram = frozenTfidfNgram(params)
    unitPostings(
      gramTf(newDf, textCol, ngram, "doc_id" -> col(idCol).cast("long")),
      broadcast(dict))
  }

  // The one-row frozen-scheme read shared by append and probe: the dict
  // is only meaningful for grams extracted the same way, so BOTH
  // maintenance paths refuse a mixed params frame loudly.
  private def frozenTfidfNgram(params: DataFrame): Int = {
    val rows = params
      .select(col("ngram").cast("int"), col("max_df_ratio").cast("double"))
      .distinct().collect()
    require(rows.length == 1,
      s"mixed-scheme tfidf index: ${rows.length} distinct param rows " +
        "(one extraction scheme per index; rebuild instead of unioning " +
        "indexes built with different knobs)")
    rows.head.getInt(0)
  }

  /** [[tfidfProbeIndex]] under the index's FROZEN extraction scheme:
    * `ngram` comes from the persisted params frame instead of a free
    * parameter, closing the probe-side seam the append guard already
    * closes on writes — query grams extracted under a different ngram
    * hash to different 8-byte keys, match nothing, and would silently
    * return empty/garbage top-k. Prefer this overload whenever the
    * index came from [[tfidfIndexBuild]]; mixed params refuse loudly.
    */
  def tfidfProbeIndex(queries: DataFrame, idCol: String, textCol: String,
                      params: DataFrame, postings: DataFrame,
                      dict: DataFrame, k: Int): DataFrame =
    tfidfProbeIndex(queries, idCol, textCol, postings, dict, k,
      frozenTfidfNgram(params))

  /** Probe a [[tfidfIndex]] snapshot with new query documents: top-k
    * indexed docs per query by TF-IDF cosine under the INDEX's frozen
    * statistics. Query grams missing from the index dictionary carry no
    * idf and drop out (they cannot match any posting anyway); a query
    * whose every gram is unindexed has no candidates and is absent.
    *
    * Shuffle profile: the query side collapses to (query, gram-hash, tf)
    * map-side and — being the small arrival batch — broadcasts into both
    * the dict join and the posting equi-join; the index side streams
    * (the 100 TB side never re-shuffles); per-(query, doc) partials
    * combine map-side; top-k = WindowGroupLimit heaps.
    */
  def tfidfProbeIndex(queries: DataFrame, idCol: String, textCol: String,
                      postings: DataFrame, dict: DataFrame,
                      k: Int, ngram: Int = 2): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(ngram >= 1, s"ngram must be positive: $ngram")
    val qtf = gramTf(queries, textCol, ngram,
      "query_id" -> col(idCol).cast("long"))
    val qw = qtf.join(dict, "__th")
      .select(col("query_id"), col("__th"),
        (col("__tf").cast("double") * col("idf")).as("__qw"))
    val qn = qw.groupBy("query_id").agg(l2Norm(col("__qw")).as("__qn"))
    val dots = postings.join(broadcast(qw), Seq("__th"))
      .groupBy("query_id", "doc_id")
      .agg(sum((col("__qw") * col("wn")).cast(DecimalType(30, 15)))
        .cast("double").as("__dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("doc_id"))
    dots.join(broadcast(qn), "query_id")
      .select(col("query_id"), col("doc_id"),
        round(col("__dot") / col("__qn"), 9).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of ranked retrieval
    * lists: each list contributes `1/(c + rank)` per (query, doc) and the
    * fused score is the sum — the standard hybrid-retrieval combiner
    * (sparse [[tfidfTopK]] + dense [[graft.functions.Similarity.knnJoin]]
    * lists, or multiple shingle widths of the same ranker). Rank-based,
    * so incomparable score scales fuse without calibration.
    *
    * Determinism: each contribution is ONE double divide of
    * integral-valued doubles (identical across engines); contributions
    * accumulate in DECIMAL so list order and shuffle order cannot flip
    * bits; ties break by doc_id.
    *
    * Shuffle profile: input lists are already top-k-sized (q·k rows
    * each), so the union + (query, doc) aggregation moves L·q·k tiny
    * rows with map-side partials; the final per-query top-k is a
    * rank-truncated window (WindowGroupLimit heaps). Nothing here is
    * data-sized — the expensive part is the upstream rankers.
    *
    * @param lists ranked lists, each with (query_id, doc_id, rank)
    * @param k     fused neighbors kept per query
    * @param c     RRF damping constant (60 in the original paper)
    * @return (query_id, doc_id, rrf, rank), rank 1..k per query by
    *   (rrf desc, doc_id)
    */
  def rrfFuse(lists: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one list")
    require(k >= 1, s"k must be positive: $k")
    require(c >= 0, s"c must be non-negative: $c")
    val tagged = lists.map(_.select(
      col("query_id").cast("long").as("query_id"),
      col("doc_id").cast("long").as("doc_id"),
      (lit(1.0) / (lit(c).cast("double") + col("rank").cast("double")))
        .as("__contrib")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    tagged.reduce(_ union _)
      .groupBy("query_id", "doc_id")
      .agg(sum(col("__contrib").cast(DecimalType(30, 15)))
        .cast("double").as("rrf"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Retrieval-quality evaluation of a ranked list against a relevance
    * set — the measurement rung of the retrieval family ([[tfidfTopK]] /
    * [[bm25]] / [[rrfFuse]] produce rankings; this scores them): per
    * query, `n_rel` (relevant docs), `hits_at_k` (relevant found in the
    * top-k), `first_rel_rank` (the MRR@k numerator's denominator — null
    * when no relevant doc made the cut), and precision/recall@k as
    * exact floor parts-per-million (integer arithmetic only — the
    * [[graft.functions.Events.associationPairs]] convention; MRR/MAP
    * averaging is one aggregation the caller does at whatever precision
    * they accept). Queries with no relevant documents are excluded —
    * every metric is undefined there (0/0) — and duplicate qrel rows
    * collapse.
    *
    * Scale shape: the rank filter cuts the ranked input to q·k rows
    * BEFORE any join; qrels dedup + per-query counts are one
    * aggregation each; the hit join keys on (query, doc). Nothing is
    * corpus-sized — like [[rrfFuse]], the expensive part is the
    * upstream ranker, never the evaluation.
    */
  def retrievalEval(ranked: DataFrame, qrels: DataFrame, queryCol: String,
                    docCol: String, rankCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val rel = qrels.select(col(queryCol).as("__q"), col(docCol).as("__d"))
      .where(col("__q").isNotNull && col("__d").isNotNull)
      .distinct()
    val nRel = rel.groupBy(col("__q")).agg(count(lit(1)).as("n_rel"))
    val topk = ranked.where(col(rankCol) <= k)
      .select(col(queryCol).as("__q"), col(docCol).as("__d"),
        col(rankCol).cast("long").as("__r"))
    val hits = topk.join(rel, Seq("__q", "__d"))
      .groupBy(col("__q"))
      .agg(count(lit(1)).as("__h"), min(col("__r")).as("first_rel_rank"))
    nRel.join(hits, Seq("__q"), "left")
      .select(col("__q").as(queryCol), col("n_rel"),
        coalesce(col("__h"), lit(0L)).as("hits_at_k"),
        col("first_rel_rank"),
        expr(Stats.ppmSql("coalesce(__h, 0L)", s"${k}L"))
          .as("precision_ppm"),
        expr(Stats.ppmSql("coalesce(__h, 0L)", "n_rel")).as("recall_ppm"))
  }

  /** Top-k distribution-shifted tokens between two corpus slices —
    * "which words drove the drift between yesterday's crawl and
    * today's" at token grain (the token-level companion to
    * [[graft.functions.Stats.histogramDrift]]'s value-level view).
    * Tokens rank by the cross-product statistic
    * `shift = |c_a·N_b − c_b·N_a|` — the common-denominator numerator
    * of `|c_a/N_a − c_b/N_b|`, so the ordering equals the
    * rate-difference ordering while staying EXACT INTEGER arithmetic
    * (the pmiTopK lesson: a transcendental or a float ratio in a
    * ranking key is a latent cross-engine flake; a DECIMAL(38,0)
    * product is not). Ties break token-ascending. Output keeps the raw
    * counts and totals so the consumer can form any normalized
    * statistic at their own precision.
    *
    * Scale shape: one vocab-sized count aggregation per slice (the
    * x_vocab shape — instances collapse map-side, the exchange carries
    * (token, count)), a vocab-sized full-outer join, two 1-row total
    * broadcasts, and a global top-k (TakeOrdered — never a full sort).
    * At 10¹² tokens the products stay under 10³⁸ by a wide margin.
    */
  def tokenShiftTopK(a: DataFrame, b: DataFrame, textCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val d38 = DecimalType(38, 0)
    def counts(df: DataFrame) = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    // totals derive from the JOINED vocab table (Σc_a over it = N_a —
    // every token appears exactly once); the vocab table snapshots once
    // (it is vocab-sized) so its two consumers — the 1-row totals and
    // the scored output — never replay the tokenize+count subtrees
    val mergedPlan = counts(a).withColumnRenamed("c", "c_a")
      .join(counts(b).withColumnRenamed("c", "c_b"), Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
    val merged = Snapshots.snapshot(mergedPlan)
    val tot = merged.agg(
      coalesce(sum(col("c_a")), lit(0L)).as("n_a"),
      coalesce(sum(col("c_b")), lit(0L)).as("n_b"))
    merged.crossJoin(broadcast(tot))
      .withColumn("shift",
        abs(col("c_a").cast(d38) * col("n_b").cast(d38) -
          col("c_b").cast(d38) * col("n_a").cast(d38)).cast(d38))
      .orderBy(col("shift").desc, col("token").asc)
      .limit(k)
  }

  /** Unigram LM negative log-likelihood of every document under the
    * corpus's own token distribution — the CCNet-style perplexity quality
    * signal (a doc whose tokens are globally rare scores high; boilerplate
    * scores low), with the LM trained in the same query that applies it.
    *
    * `avg_nll` is the per-token negative log-likelihood
    * `(1/n)·Σ −ln(cnt(t)/N) = (1/n)·Σ (ln N − ln cnt(t))` — the log of
    * the document's unigram perplexity. `ln` is applied to INTEGER-valued
    * doubles only (counts, never ratios), keeping the transcendental's
    * input domain identical across engines; per-(doc,token) partials
    * accumulate in DECIMAL (order-free) before the final double division.
    * Docs with zero tokens keep `n_tokens = 0` and a null `avg_nll` (the
    * doc set is exactly the input's).
    *
    * Shuffle profile: instances collapse to (doc, token-hash, tf) BEFORE
    * any corpus-wide stage, so the hash join shuffles distinct
    * (doc, token) pairs, never token instances; global counts aggregate
    * 8-byte `xxhash64` keys (bodies never shuffle) and the corpus total
    * is a one-row broadcast scalar. One (id) aggregation co-partitions
    * the rollup. Nothing is quadratic; every stage is data-parallel.
    */
  def unigramNll(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    val keyed = df
      .select(id, explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .select(id, xxhash64(col("__t")).as("__th"))
    // ln N − ln cnt: both ln inputs are integral doubles
    nllRollup(df, idCol, keyed, "n_tokens",
      log(col("__N").cast("double")) - log(col("__cnt").cast("double"))) { tf =>
      val cnts = tf.groupBy(col("__th")).agg(sum(col("__tf")).as("__cnt"))
      val total = cnts.agg(sum(col("__cnt")).as("__N"))
      tf.join(cnts, "__th").crossJoin(broadcast(total))
    }
  }

  /** The per-document rollup every n-gram NLL scorer ends in. `keyed`
    * holds one row per gram instance (the doc id, then the gram's hash
    * keys); it collapses to (doc, keys, `__tf`), `joins` attaches the
    * count tables, and each distinct gram pays `__tf · nll`. Per-doc
    * sums accumulate in DECIMAL(30,15) (shuffle order cannot flip bits)
    * before the one double divide; every doc of `df` is kept, with
    * `nCol` = 0 and a null `avg_nll` when it has no gram.
    */
  private def nllRollup(df: DataFrame, idCol: String, keyed: DataFrame,
                        nCol: String, nll: Column)
                       (joins: DataFrame => DataFrame): DataFrame = {
    val id = col(idCol)
    val tf = keyed.groupBy(keyed.columns.map(col): _*)
      .agg(count(lit(1)).as("__tf"))
    val scored = joins(tf)
      .select(id, col("__tf"), (col("__tf").cast("double") * nll).as("__nll"))
      .groupBy(id).agg(
        sum(col("__tf")).as("__n"),
        sum(col("__nll").cast(DecimalType(30, 15))).cast("double").as("__s"))
    df.select(id)
      .join(scored, Seq(idCol), "left")
      .select(id,
        coalesce(col("__n"), lit(0L)).as(nCol),
        round(col("__s") / col("__n").cast("double"), 9).as("avg_nll"))
  }

  /** One row per `n`-gram instance (n ∈ {2, 3}) of `d`'s text: the
    * `keep` columns, then the gram's `xxhash64` keys — (`__h1`, `__h12`,
    * `__h2`) for bigrams, (`__h123`, `__h12`, `__h23`, `__h2`, `__h3`)
    * for trigrams. Map-only: an array transform pairs each position with
    * its predecessors via the 1-based `element_at` (no posexplode, no
    * self-join). The text tokenizes ONCE into `__tk` — an `element_at`
    * over the raw tokens(...) expression inside the lambda would re-split
    * the text per element if Catalyst declined to CSE it.
    */
  private def ngramKeys(d: DataFrame, textCol: String, n: Int,
                        keep: Column*): DataFrame = {
    val toks = col("__tk")
    val g = if (n == 2) "__bg" else "__tg"
    def w(j: Int) = col(s"$g.w$j")
    val keys =
      if (n == 2) Seq(xxhash64(w(1)).as("__h1"),
        xxhash64(w(1), w(2)).as("__h12"), xxhash64(w(2)).as("__h2"))
      else Seq(xxhash64(w(1), w(2), w(3)).as("__h123"),
        xxhash64(w(1), w(2)).as("__h12"), xxhash64(w(2), w(3)).as("__h23"),
        xxhash64(w(2)).as("__h2"), xxhash64(w(3)).as("__h3"))
    d.select(keep :+ TextFunctions.tokens(col(textCol)).as("__tk"): _*)
      .select(keep :+ explode(
        transform(slice(toks, lit(n), greatest(size(toks) - (n - 1), lit(0))),
          (t, i) => struct((1 until n).map(j => element_at(toks, i + j).as(s"w$j"))
            :+ t.as(s"w$n"): _*)))
        .as(g): _*)
      .select(keep ++ keys: _*)
  }

  // train-side unigram counts (`__h` token hash, `__c1`)
  private def unigramCounts(train: DataFrame, textCol: String): DataFrame =
    train
      .select(explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .select(xxhash64(col("__t")).as("__h"))
      .groupBy(col("__h")).agg(count(lit(1)).as("__c1"))

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    * document with [[unigramNll]] and split each group (language) into
    * `nBuckets` equal-frequency bands by that score — bucket 0 is the
    * group's most-fluent (lowest-perplexity) "head", the last bucket
    * its "tail"; CCNet's head/middle/tail is exactly `nBuckets = 3`.
    * The cuts are computed INDEPENDENTLY per group
    * ([[graft.functions.Stats.quantileBucketByGroup]] — one global cut
    * grid is wrong across languages whose LM scores live on different
    * scales), with its exact order-statistic convention, so the band a
    * doc lands in is reproducible bit-for-bit. Docs with zero tokens
    * keep a null score and a null bucket and shift no ranks.
    *
    * Scale shape: [[unigramNll]]'s (distinct (doc, token-hash) pairs
    * shuffle, bodies never do) + one group-keyed window pass over the
    * #docs-sized score table reduced to a #groups-sized cut array.
    *
    * @return (idCol, groupCol, n_tokens, avg_nll, ppl_bucket)
    */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
                        groupCol: String, nBuckets: Int = 3,
                        outCol: String = "ppl_bucket"): DataFrame = {
    val scored = df.select(col(idCol), col(groupCol))
      .join(unigramNll(df, idCol, textCol), Seq(idCol), "left")
    Stats.quantileBucketByGroup(scored, "avg_nll", groupCol, nBuckets,
      outCol)
  }

  /** Per-document character-distribution entropy — the compression-proxy
    * gibberish detector (low entropy = repeated-character spam, high
    * entropy = random bytes / encoded binary; natural language sits in a
    * stable band): `H = ln n − (Σ_c k_c·ln k_c)/n` over the doc's
    * code-point counts. Same cross-engine-exactness discipline as
    * [[unigramNll]]: every `ln` input is an integral double (a count),
    * each `k·ln k` product is one double op, and the sum accumulates in
    * DECIMAL so Spark's shuffle order vs another engine's scan order
    * cannot flip bits.
    *
    * Shuffle profile: (id, char) pairs collapse via map-side partial
    * aggregation to ≤ alphabet-size rows per doc before the exchange;
    * the per-doc rollup co-partitions on the id. Empty/null docs report
    * n_chars 0 and a null entropy (no distribution to measure).
    *
    * @return (idCol, n_chars, char_entropy)
    */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    // ONE codegen'd map pass: the kernel builds the per-doc code-point
    // counts and the decimal-accumulated Σ k·ln k in row-local memory
    // (CharEntropyStats documents the bit-parity contract with the
    // relational explode+groupBy chain this replaced — the DuckDB oracle
    // is unchanged and still hash-matches). Zero shuffles at any scale;
    // the former shape exchanged one row per character.
    val st = graft.plans.HashExpressions
      .charEntropyStats(coalesce(col(textCol), lit("")))
    df.select(id, st.as("__st"))
      .select(id,
        col("__st.n").as("n_chars"),
        // __st.s is null exactly when n = 0 — entropy stays null for
        // empty docs, the left-join contract of the old formulation
        round(log(col("__st.n").cast("double")) -
          col("__st.s") / col("__st.n").cast("double"), 9).as("char_entropy"))
  }

  /** `ln 0.4` as an exact double literal. The Stupid-Backoff discount is
    * the one non-integral `ln` input in [[bigramNll]]; baking its value in
    * as a literal (instead of computing `log(0.4)` per engine) keeps the
    * cross-engine bit-for-bit discipline — a literal parses to the same
    * double everywhere, while two libms' `ln(0.4)` need not agree in the
    * last ulp.
    */
  private val Ln04 = -0.916290731874155

  /** Per-document bigram language-model score under Stupid Backoff
    * (Brants et al. 2007, "Large Language Models in Machine
    * Translation") — the CCNet-flavor quality signal one tier above
    * [[unigramNll]]: an LM is trained on `train`'s bigram/unigram counts
    * and every document in `df` scores its average per-bigram negative
    * log-score. Backoff chain for bigram (w1, w2):
    *
    *  - seen bigram:   S = c(w1 w2) / c(w1)          → nll = ln c(w1) − ln c(w1 w2)
    *  - unseen, w2 in vocab: S = 0.4 · c(w2) / N     → nll = −ln 0.4 + ln N − ln c(w2)
    *  - OOV w2:        S = 0.4 · 1 / N  (count floor) → nll = −ln 0.4 + ln N
    *
    * Stupid Backoff's whole point at corpus scale: scores are count
    * RATIOS, no discount mass bookkeeping (Kneser–Ney's right-context
    * tables), so training is two hash-keyed count aggregations and
    * scoring is three 8-byte-hash joins — nothing touches strings after
    * tokenization. Every `ln` input is an integral double (a count or N);
    * the only non-integral term is the baked [[Ln04]] literal; per-doc
    * sums accumulate in DECIMAL(30,15) so shuffle order cannot flip bits.
    *
    * Bigram extraction is map-only (an array transform over the token
    * array — no posexplode + self-join, no per-doc window). Shuffle
    * profile: two vocab-sized count aggregations on the train side (map-
    * side partials), one (doc, bigram-hash)-keyed tf collapse on the
    * score side, hash equi-joins against the count tables, one per-doc
    * rollup. Bodies never shuffle; N broadcasts.
    *
    * Docs with <2 tokens have no bigram: n_bigrams 0, null avg_nll.
    *
    * @return (idCol, n_bigrams, avg_nll)
    */
  def bigramNll(df: DataFrame, train: DataFrame,
                idCol: String, textCol: String): DataFrame = {
    val c1 = unigramCounts(train, textCol)
    val n = c1.agg(sum(col("__c1")).as("__N"))
    val c2 = ngramKeys(train, textCol, 2)
      .groupBy(col("__h12")).agg(count(lit(1)).as("__c2"))
    nllRollup(df, idCol, ngramKeys(df, textCol, 2, col(idCol)), "n_bigrams",
      when(col("__c2").isNotNull && col("__cprev").isNotNull,
        log(col("__cprev").cast("double")) - log(col("__c2").cast("double")))
      .when(col("__ccur").isNotNull,
        lit(-Ln04) + log(col("__N").cast("double")) -
          log(col("__ccur").cast("double")))
      .otherwise(lit(-Ln04) + log(col("__N").cast("double")))) {
      _.join(c2, Seq("__h12"), "left")
        .join(c1.withColumnRenamed("__h", "__h1")
          .withColumnRenamed("__c1", "__cprev"), Seq("__h1"), "left")
        .join(c1.withColumnRenamed("__h", "__h2")
          .withColumnRenamed("__c1", "__ccur"), Seq("__h2"), "left")
        .crossJoin(broadcast(n))
    }
  }

  /** Jelinek–Mercer interpolated bigram NLL (Jelinek & Mercer 1980;
    * the λ-interpolation rung of the smoothing ladder next to
    * [[bigramNll]]'s backoff and the KN/MKN discount family): every
    * bigram position pays
    *
    *   p(w₂|w₁) = λ·c(w₁w₂)/c(w₁) + (1−λ)·(c(w₂)+1)/(N+V)
    *
    * with λ = 3/4 pinned as an EXACT rational (not a parameter) and a
    * Laplace floor on the unigram level (the +1/(N+V) term keeps
    * p > 0 for OOV w₂, so the interpolation is total without a
    * separate OOV branch). Unlike backoff, the lower order contributes
    * on EVERY position — the mixture the classic held-out EM would
    * tune λ for; here λ is a pinned rational so the whole score is the
    * exact integer ratio A/B:
    *
    *   A = 3·c₁₂·(N+V) + 1·c(w₁)·(c(w₂)+1),  B = 4·c(w₁)·(N+V)
    *
    * and nll = ln B − ln A keeps every ln input an integral double
    * (the proven-safe class). OOV HISTORY (c(w₁) = 0) degenerates the
    * mixture to its unigram term: p = (c(w₂)+1)/(N+V). Documented
    * bound: A and B stay exact while 4·c(w₁)·(N+V) < 2⁵³ (≈9e15 —
    * beyond any single corpus this library aggregates in one LM).
    *
    * Shuffle profile = [[bigramNll]]: two vocab-sized train counts,
    * one (doc, hash)-keyed tf collapse, three 8-byte-hash joins, one
    * per-doc rollup in DECIMAL(30,15). Bodies never shuffle.
    *
    * @return (idCol, n_bigrams, avg_nll)
    */
  def jmNll(df: DataFrame, train: DataFrame,
            idCol: String, textCol: String): DataFrame = {
    val c1 = unigramCounts(train, textCol)
    val nv = c1.agg(sum(col("__c1")).as("__N"), count(lit(1)).as("__V"))
    val c2 = ngramKeys(train, textCol, 2)
      .groupBy(col("__h12")).agg(count(lit(1)).as("__c2"))
    val nVp = col("__N") + col("__V")
    val uniPlus1 = coalesce(col("__ccur"), lit(0L)) + lit(1L)
    // A and B are exact LONG integers — association order is irrelevant
    // to the value, only the integers must match the oracle's
    val a = lit(3L) * coalesce(col("__c2"), lit(0L)) * nVp +
      lit(1L) * col("__cprev") * uniPlus1
    val b = lit(4L) * col("__cprev") * nVp
    nllRollup(df, idCol, ngramKeys(df, textCol, 2, col(idCol)), "n_bigrams",
      when(col("__cprev").isNotNull,
        log(b.cast("double")) - log(a.cast("double")))
      .otherwise(
        log(nVp.cast("double")) - log(uniPlus1.cast("double")))) {
      _.join(c2, Seq("__h12"), "left")
        .join(c1.withColumnRenamed("__h", "__h1")
          .withColumnRenamed("__c1", "__cprev"), Seq("__h1"), "left")
        .join(c1.withColumnRenamed("__h", "__h2")
          .withColumnRenamed("__c1", "__ccur"), Seq("__h2"), "left")
        .crossJoin(broadcast(nv))
    }
  }

  /** Trigram Stupid-Backoff NLL — the context rung above [[bigramNll]]
    * (Brants et al. 2007, "Large Language Models in Machine
    * Translation": at web scale, unnormalized count ratios with a
    * fixed 0.4 backoff factor match smoothed KN for selection
    * purposes at a fraction of the cost). Per trigram position
    * (3..n of each doc):
    *
    *   S(w₃|w₁w₂) = c(w₁w₂w₃)/c(w₁w₂)         seen trigram
    *              | 0.4·c(w₂w₃)/c(w₂)          backoff to bigram
    *              | 0.4²·c(w₃)/N               backoff to unigram
    *              | 0.4²·(1/N)                 unseen everywhere
    *
    * emitted as per-doc avg negative-log score, the same
    * cross-engine transcendental discipline as [[bigramNll]]: every
    * `ln` input is an integral count, the two −ln(0.4) terms are the
    * SAME baked literal added in the same order, and per-doc sums
    * accumulate in DECIMAL(30,15) before the one double divide.
    *
    * Shuffle profile: three train-count aggregations (unigram /
    * bigram / trigram, map-side partials), the doc side collapses to
    * (doc, trigram, tf) before its one data-sized exchange, then
    * hash-key left joins against the count tables and a per-doc
    * rollup — bodies never shuffle, N is a 1-row broadcast.
    *
    * @return (idCol, n_trigrams, avg_nll) — avg_nll null for docs
    *         with < 3 tokens (nothing to score, reported honestly)
    */
  def trigramNll(df: DataFrame, train: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    val c1 = unigramCounts(train, textCol)
    val n = c1.agg(sum(col("__c1")).as("__N"))
    val c2 = ngramKeys(train, textCol, 2)
      .groupBy(col("__h12")).agg(count(lit(1)).as("__c2"))
    val c3 = ngramKeys(train, textCol, 3)
      .groupBy(col("__h123")).agg(count(lit(1)).as("__c3"))
    val backoff1 = lit(-Ln04)
    nllRollup(df, idCol, ngramKeys(df, textCol, 3, col(idCol)), "n_trigrams",
      when(col("__c3").isNotNull && col("__c12").isNotNull,
        log(col("__c12").cast("double")) - log(col("__c3").cast("double")))
      .when(col("__c23").isNotNull && col("__cw2").isNotNull,
        backoff1 + log(col("__cw2").cast("double")) -
          log(col("__c23").cast("double")))
      .when(col("__cw3").isNotNull,
        backoff1 + backoff1 + log(col("__N").cast("double")) -
          log(col("__cw3").cast("double")))
      .otherwise(backoff1 + backoff1 + log(col("__N").cast("double")))) {
      _.join(c3, Seq("__h123"), "left")
        .join(c2.withColumnRenamed("__c2", "__c12"), Seq("__h12"), "left")
        .join(c2.withColumnRenamed("__h12", "__h23")
          .withColumnRenamed("__c2", "__c23"), Seq("__h23"), "left")
        .join(c1.withColumnRenamed("__h", "__h2")
          .withColumnRenamed("__c1", "__cw2"), Seq("__h2"), "left")
        .join(c1.withColumnRenamed("__h", "__h3")
          .withColumnRenamed("__c1", "__cw3"), Seq("__h3"), "left")
        .crossJoin(broadcast(n))
    }
  }

  /** Interpolated trigram Kneser–Ney NLL (Chen & Goodman 1999, "An
    * Empirical Study of Smoothing Techniques for Language Modeling") —
    * the smoothing CCNet-class quality filters actually ship, one rung
    * above [[trigramNll]]'s Stupid Backoff. Absolute discount
    * `D = 3/4` (EXACTLY representable in binary — no decimal-vs-binary
    * drift), lower orders use CONTINUATION counts (how many distinct
    * contexts a unit completes), and the unigram level interpolates
    * with the uniform `1/V` floor (V = train vocab + 1 OOV slot) so no
    * token has zero mass:
    *
    *   P₃(w₃|w₁w₂) = max(c(w₁w₂w₃)−D,0)/c(w₁w₂) + D·N1+(w₁w₂•)/c(w₁w₂)·P₂
    *   P₂(w₃|w₂)   = max(N1+(•w₂w₃)−D,0)/N1+(•w₂•) + D·N1+(w₂•)/N1+(•w₂•)·P₁
    *   P₁(w₃)      = (max(N1+(•w₃)−D,0) + D·V₁/V)/N1+(••)
    *
    * falling back one level whole when the conditioning context is
    * unseen (c(w₁w₂)=0 → P₂; w₂ unseen mid-trigram → P₁). All counts
    * are over TRAIN trigram instances/types; V₁ = distinct final words.
    *
    * Cross-engine exactness: with D = 3/4, each level's probability is
    * the exact rational Aᵢ/Bᵢ with
    *
    *   A₁ = max(4·N1+(•w₃)−3,0)·V + 3·V₁          B₁ = 4·V·N1+(••)
    *   A₂ = max(4·N1+(•w₂w₃)−3,0)·B₁ + 3·N1+(w₂•)·A₁   B₂ = 4·N1+(•w₂•)·B₁
    *   A₃ = max(4·c₃−3,0)·B₂ + 3·N1+(w₁w₂•)·A₂         B₂·4·c₂ = B₃
    *
    * and nll = ln Bᵢ − ln Aᵢ — every ln input is an INTEGRAL-valued
    * double (the [[trigramNll]] discipline extended through the
    * interpolation: the log-of-a-sum problem dissolves because the sum
    * happens in the integer numerator, not in probability space).
    * Aᵢ/Bᵢ stay exactly integral while < 2⁵³ (they do at fixture
    * scales); past that the products are still bit-identical across
    * engines because the factors and the association order are pinned
    * and IEEE multiplication is deterministic. Aᵢ > 0 always: V₁ ≥ 1
    * whenever train has a trigram, and each level's interpolation
    * weight (3·fwd·Aᵢ₋₁) is positive exactly when its branch is taken.
    * Per-doc sums accumulate in DECIMAL(30,15); one double divide +
    * round(9) at the end.
    *
    * Shuffle profile (the trigramNll shape plus one distinct): raw
    * train trigrams aggregate to instance counts (c₃/c₂) and collapse
    * ONCE to the type set (distinct 8-byte keys) from which every
    * continuation table derives by map-side-partial counts; the doc
    * side collapses to (doc, trigram, tf) before its one data-sized
    * exchange; scoring is five hash-key left joins + a 1-row broadcast
    * of (N1+(••), V₁, V). Bodies never shuffle.
    *
    * @return (idCol, n_trigrams, avg_nll) — null avg_nll for docs with
    *         < 3 tokens; train must contain ≥ 1 trigram (ln(0) guard:
    *         the model is undefined over an empty type set)
    */
  def knNll(df: DataFrame, train: DataFrame,
            idCol: String, textCol: String): DataFrame = {
    val raw = ngramKeys(train, textCol, 3)
    val c3 = raw.groupBy(col("__h123")).agg(count(lit(1)).as("__c3"))
    val ctx = raw.groupBy(col("__h12")).agg(count(lit(1)).as("__c2"))
    // the trigram TYPE set — every continuation count is a group-count
    // over it (distinct by the full key; the per-level keys ride along)
    val types = raw
      .groupBy(col("__h123"))
      .agg(first(col("__h12")).as("__h12"), first(col("__h23")).as("__h23"),
        first(col("__h2")).as("__h2"), first(col("__h3")).as("__h3"))
    val fwd2 = types.groupBy(col("__h12")).agg(count(lit(1)).as("__f2"))
    val kn2 = types.groupBy(col("__h23")).agg(count(lit(1)).as("__kn2"))
    val bt = types.select(col("__h2"), col("__h3")).distinct()
    val mid = types.groupBy(col("__h2")).agg(count(lit(1)).as("__mid"))
    val fwd1 = bt.groupBy(col("__h2")).agg(count(lit(1)).as("__f1"))
    val kn1 = bt.groupBy(col("__h3")).agg(count(lit(1)).as("__kn1"))
    val scal = bt.agg(count(lit(1)).as("__ncc"),
        countDistinct(col("__h3")).as("__v1"))
      .crossJoin(train
        .select(explode(TextFunctions.tokens(col(textCol))).as("__t"))
        .agg((countDistinct(xxhash64(col("__t"))) + 1L).as("__v")))
      // the documented "train must contain ≥ 1 trigram" contract,
      // ENFORCED: an all-short train gives __ncc = 0 → B₁ = 0 → ln(0)
      // nulls that are indistinguishable from legitimate <3-token
      // nulls downstream. Fail loudly instead (one expression on the
      // 1-row totals frame — no extra job, the append-guard ethos).
      .select(
        when(col("__ncc") > 0L, col("__ncc"))
          .otherwise(raise_error(lit("knNll: train contains no trigram " +
            "(every doc has < 3 tokens) — the KN model is undefined " +
            "over an empty type set"))).as("__ncc"),
        col("__v1"), col("__v"))
    // ctx and fwd2 (resp. mid and fwd1) share their key universe —
    // every instance key appears in the type set — so they merge with
    // one inner join each and cost the probe side a single lookup
    val ctxT = ctx.join(fwd2, Seq("__h12"))
    val midT = mid.join(fwd1, Seq("__h2"))
    def dbl(c: String) = col(c).cast("double")
    val dV = dbl("__v"); val dV1 = dbl("__v1"); val dNcc = dbl("__ncc")
    // explicit COALESCE before GREATEST: Spark's greatest skips nulls
    // while other engines' may propagate them — coalescing keeps the
    // mirrored SQL a literal transliteration
    def disc(cnt: String) =
      greatest(coalesce(dbl(cnt), lit(0.0)) * lit(4.0) - lit(3.0), lit(0.0))
    val a1 = disc("__kn1") * dV + lit(3.0) * dV1
    val b1 = lit(4.0) * dV * dNcc
    val a2 = disc("__kn2") * b1 + lit(3.0) * dbl("__f1") * a1
    val b2 = lit(4.0) * dbl("__mid") * b1
    val a3 = disc("__c3") * b2 + lit(3.0) * dbl("__f2") * a2
    val b3 = lit(4.0) * dbl("__c2") * b2
    nllRollup(df, idCol, ngramKeys(df, textCol, 3, col(idCol)), "n_trigrams",
      when(col("__c2").isNotNull, log(b3) - log(a3))
        .when(col("__mid").isNotNull, log(b2) - log(a2))
        .otherwise(log(b1) - log(a1))) {
      _.join(c3, Seq("__h123"), "left")
        .join(ctxT, Seq("__h12"), "left")
        .join(kn2, Seq("__h23"), "left")
        .join(midT, Seq("__h2"), "left")
        .join(kn1, Seq("__h3"), "left")
        .crossJoin(broadcast(scal))
    }
  }

  /** Modified Kneser–Ney trigram NLL (Chen & Goodman 1999 §3 — the
    * smoothing KenLM ships as its default): [[knNll]]'s interpolated
    * ladder, but each level carries THREE discounts estimated from that
    * level's count-of-count statistics n₁..n₄ (number of n-gram types
    * whose count is exactly 1..4):
    *
    *   Y  = n₁/(n₁+2n₂)
    *   D₁ = 1 − 2Y·n₂/n₁ = n₁/(n₁+2n₂)
    *   D₂ = 2 − 3Y·n₃/n₂
    *   D₃₊ = 3 − 4Y·n₄/n₃
    *
    * and the interpolation weight becomes γ(ctx) = (D₁N₁(ctx) +
    * D₂N₂(ctx) + D₃₊N₃₊(ctx))/c(ctx) where Nⱼ(ctx) counts the
    * continuations of ctx whose count is exactly j (≥3 for the last).
    * Lower orders use continuation counts and the unigram level
    * interpolates with the uniform 1/V floor, exactly as [[knNll]].
    *
    * Degenerate count-of-counts (any nᵢ = 0, or an estimated discount
    * outside (0, j]) make the estimator undefined; KenLM refuses with
    * "could not calculate Kneser-Ney discounts" unless given
    * `--discount_fallback`, which substitutes D₁/D₂/D₃₊ = 0.5/1.0/1.5
    * for the broken level. `discountFallback` mirrors that switch:
    * false (the default) raises on the first degenerate level, true
    * swaps in the fallback discounts FOR THAT LEVEL ONLY — healthy
    * levels keep their estimates. The choice is made per level inside
    * the plan (a CASE over the 1-row count-of-counts frame), so one
    * query serves corpora on both sides of the validity line.
    *
    * Cross-engine exactness extends [[knNll]]'s exact-rational ladder
    * to data-dependent discounts. Per level, all three discounts share
    * the integer denominator Q = (n₁+2n₂)·n₂·n₃ with integer
    * numerators
    *
    *   d₁ = n₁·n₂·n₃
    *   d₂ = (2n₂(n₁+2n₂) − 3n₁n₃)·n₃
    *   d₃ = (3n₃(n₁+2n₂) − 4n₁n₄)·n₂
    *
    * computed in DECIMAL(38,0) (HUGEINT in the mirrored SQL): the
    * cubics grow ~8n³ in the count-of-counts, which wraps a 64-bit
    * integer once a count class passes ~10⁶ types — and a wrapped-but-
    * positive d/Q would pass the validity gates. DECIMAL(38,0) is
    * exact to ~10¹² types per class; past that an overflow is NULL and
    * resolves as degenerate (loud raise, or the declared fallback).
    *
    * (fallback: Q = 2, d = 1/2/3), so each level's probability is
    * again a rational Aᵢ/Bᵢ built from integral-valued doubles:
    *
    *   Aᵢ = max(cᵢ·Qᵢ − d_{k(cᵢ)}, 0)·Bᵢ₋₁ + Gᵢ·Aᵢ₋₁
    *   Bᵢ = ctotᵢ·Qᵢ·Bᵢ₋₁          (A₀ = 1, B₀ = V)
    *
    * with k(c) the count class (1, 2, ≥3) and Gᵢ = d₁N₁ + d₂N₂ +
    * d₃N₃₊ over the row's context. Every ln input is integral while
    * < 2⁵³; beyond that the factors and association order are pinned so
    * IEEE rounding is engine-identical (the [[knNll]] contract). The
    * validity guards keep every d strictly positive, so Gᵢ > 0 and the
    * c=1/2/3 clamps are exact (j·Q − dⱼ ≥ 0 ⟺ Dⱼ ≤ j).
    *
    * Shuffle profile = [[knNll]] plus three O(1)-row conditional-sum
    * aggregations over tables the fixed-D version already builds
    * (count-of-counts from c₃/kn₂/kn₁) and two map-side class-count
    * extensions of existing aggregations (Nⱼ ride the γ-context
    * group-bys). Scoring is the same five hash-key left joins + one
    * 1-row broadcast, now carrying 14 scalars instead of 3. Bodies
    * never shuffle.
    *
    * @return (idCol, n_trigrams, avg_nll) — null avg_nll for docs with
    *         < 3 tokens; train must contain ≥ 1 trigram, and (unless
    *         `discountFallback`) healthy count-of-counts at all levels
    */
  def mknNll(df: DataFrame, train: DataFrame,
             idCol: String, textCol: String,
             discountFallback: Boolean = false): DataFrame = {
    val raw = ngramKeys(train, textCol, 3)
    // level-3 counts keep their context key so the γ₃ class counts fall
    // out of ONE aggregation (no second pass over raw)
    val c3 = raw.groupBy(col("__h123"))
      .agg(count(lit(1)).as("__c3"), first(col("__h12")).as("__h12"),
        first(col("__h23")).as("__h23"), first(col("__h2")).as("__h2"),
        first(col("__h3")).as("__h3"))
    val ctx = raw.groupBy(col("__h12")).agg(count(lit(1)).as("__c2"))
    // count class of a count column: 1 / 2 / ≥3 flags for the Nⱼ sums
    def cls(c: Column, j: Int): Column =
      if (j < 3) when(c === j, 1L).otherwise(0L)
      else when(c >= 3L, 1L).otherwise(0L)
    val g3 = c3.groupBy(col("__h12")).agg(
      sum(cls(col("__c3"), 1)).as("__g31"),
      sum(cls(col("__c3"), 2)).as("__g32"),
      sum(cls(col("__c3"), 3)).as("__g33"))
    val kn2 = c3.groupBy(col("__h23"))
      .agg(count(lit(1)).as("__kn2"), first(col("__h2")).as("__h2"))
    val mid = c3.groupBy(col("__h2")).agg(count(lit(1)).as("__mid"))
    val g2 = kn2.groupBy(col("__h2")).agg(
      sum(cls(col("__kn2"), 1)).as("__g21"),
      sum(cls(col("__kn2"), 2)).as("__g22"),
      sum(cls(col("__kn2"), 3)).as("__g23"))
    val bt = c3.select(col("__h2"), col("__h3")).distinct()
    val kn1 = bt.groupBy(col("__h3")).agg(count(lit(1)).as("__kn1"))
    // per-level count-of-counts → (Q, d₁, d₂, d₃) with the
    // estimate-or-fallback CASE resolved inside the plan. The cubic
    // products run in DECIMAL(38,0) (the kappa discipline), NOT Long:
    // d₂ grows ~8n³ in the type counts, so Long wraps once
    // count-of-counts pass ~10⁶ types — and a wrapped-but-positive
    // value would sail through the validity gates below. DECIMAL(38,0)
    // holds the cubics exactly up to ~10¹² types per class (beyond any
    // trigram inventory), and a hypothetical decimal overflow yields
    // NULL, which the validity CASE treats as degenerate — loud raise
    // (or the explicit fallback discounts), never a silent wrong d/Q
    def discounts(counts: DataFrame, c: String, lvl: String,
                  lvlName: String): DataFrame = {
      val d38 = DecimalType(38, 0)
      val cc = counts.agg(
        sum(cls(col(c), 1)).as("__n1"), sum(cls(col(c), 2)).as("__n2"),
        sum(when(col(c) === 3L, 1L).otherwise(0L)).as("__n3"),
        sum(when(col(c) === 4L, 1L).otherwise(0L)).as("__n4"))
      def h(n: String) = col(n).cast(d38)
      val s = h("__n1") + lit(2L) * h("__n2")
      val est = cc.select(
        (s * h("__n2") * h("__n3")).as("__q"),
        (h("__n1") * h("__n2") * h("__n3")).as("__d1"),
        ((lit(2L) * h("__n2") * s - lit(3L) * h("__n1") * h("__n3"))
          * h("__n3")).as("__d2"),
        ((lit(3L) * h("__n3") * s - lit(4L) * h("__n1") * h("__n4"))
          * h("__n2")).as("__d3"),
        col("__n1"), col("__n2"), col("__n3"), col("__n4"))
      val valid = col("__n1") > 0L && col("__n2") > 0L &&
        col("__n3") > 0L && col("__n4") > 0L &&
        col("__d1") > 0L && col("__d2") > 0L && col("__d3") > 0L &&
        col("__d1") <= col("__q") && col("__d2") <= lit(2L) * col("__q") &&
        col("__d3") <= lit(3L) * col("__q")
      def pick(c: Column, fb: Long, nm: String): Column =
        (if (discountFallback) when(valid, c).otherwise(lit(fb))
         else when(valid, c).otherwise(raise_error(concat(
           lit(s"mknNll: degenerate count-of-counts at the $lvlName " +
             s"(n1..n4 = "), col("__n1").cast("string"), lit(", "),
           col("__n2").cast("string"), lit(", "),
           col("__n3").cast("string"), lit(", "),
           col("__n4").cast("string"),
           lit(") — the modified KN discounts are undefined; pass " +
             "discountFallback = true for KenLM's 0.5/1.0/1.5")))))
          .as(nm)
      est.select(pick(col("__q"), 2L, s"__q$lvl"),
        pick(col("__d1"), 1L, s"__d${lvl}1"),
        pick(col("__d2"), 2L, s"__d${lvl}2"),
        pick(col("__d3"), 3L, s"__d${lvl}3"))
    }
    // γ₁'s class counts over kn₁ double as that level's count-of-count
    // inputs, so the unigram scalars frame feeds both
    val scal = bt.agg(count(lit(1)).as("__ncc"))
      .crossJoin(kn1.agg(
        sum(cls(col("__kn1"), 1)).as("__v1c"),
        sum(cls(col("__kn1"), 2)).as("__v2c"),
        sum(cls(col("__kn1"), 3)).as("__v3c")))
      .crossJoin(train
        .select(explode(TextFunctions.tokens(col(textCol))).as("__t"))
        .agg((countDistinct(xxhash64(col("__t"))) + 1L).as("__v")))
      .crossJoin(discounts(c3, "__c3", "3", "trigram level"))
      .crossJoin(discounts(kn2, "__kn2", "2", "bigram level"))
      .crossJoin(discounts(kn1, "__kn1", "1", "unigram level"))
      .select(
        when(col("__ncc") > 0L, col("__ncc"))
          .otherwise(raise_error(lit("mknNll: train contains no trigram " +
            "(every doc has < 3 tokens) — the KN model is undefined " +
            "over an empty type set"))).as("__ncc"),
        col("__v1c"), col("__v2c"), col("__v3c"), col("__v"),
        col("__q3"), col("__d31"), col("__d32"), col("__d33"),
        col("__q2"), col("__d21"), col("__d22"), col("__d23"),
        col("__q1"), col("__d11"), col("__d12"), col("__d13"))
    def dbl(c: String) = col(c).cast("double")
    // count-class discount pick and the clamped top term, one per level;
    // a null count coalesces to 0 so the clamp floors at 0 regardless of
    // which dⱼ the (then-irrelevant) class CASE lands on
    def dsel(cnt: String, lvl: String): Column =
      when(col(cnt) === 1L, dbl(s"__d${lvl}1"))
        .when(col(cnt) === 2L, dbl(s"__d${lvl}2"))
        .otherwise(dbl(s"__d${lvl}3"))
    def top(cnt: String, lvl: String): Column =
      greatest(coalesce(dbl(cnt), lit(0.0)) * dbl(s"__q$lvl")
        - dsel(cnt, lvl), lit(0.0))
    val g1 = dbl("__d11") * dbl("__v1c") + dbl("__d12") * dbl("__v2c") +
      dbl("__d13") * dbl("__v3c")
    val gg2 = dbl("__d21") * dbl("__g21") + dbl("__d22") * dbl("__g22") +
      dbl("__d23") * dbl("__g23")
    val gg3 = dbl("__d31") * dbl("__g31") + dbl("__d32") * dbl("__g32") +
      dbl("__d33") * dbl("__g33")
    val a1 = top("__kn1", "1") * dbl("__v") + g1
    val b1 = dbl("__ncc") * dbl("__q1") * dbl("__v")
    val a2 = top("__kn2", "2") * b1 + gg2 * a1
    val b2 = dbl("__mid") * dbl("__q2") * b1
    val a3 = top("__c3", "3") * b2 + gg3 * a2
    val b3 = dbl("__c2") * dbl("__q3") * b2
    nllRollup(df, idCol, ngramKeys(df, textCol, 3, col(idCol)), "n_trigrams",
      when(col("__c2").isNotNull, log(b3) - log(a3))
        .when(col("__mid").isNotNull, log(b2) - log(a2))
        .otherwise(log(b1) - log(a1))) {
      _.join(c3.select(col("__h123"), col("__c3")), Seq("__h123"), "left")
        .join(ctx, Seq("__h12"), "left")
        .join(g3, Seq("__h12"), "left")
        .join(kn2.select(col("__h23"), col("__kn2")), Seq("__h23"), "left")
        .join(mid, Seq("__h2"), "left")
        .join(g2, Seq("__h2"), "left")
        .join(kn1, Seq("__h3"), "left")
        .crossJoin(broadcast(scal))
    }
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * NeurIPS): per-document log importance weight `ln(p_target(x) /
    * p_raw(x))` under hashed-n-gram bag-of-features unigram models of a
    * small target (quality) corpus vs the raw pool. Documents with
    * positive weight look more like the target than like the pool — the
    * classic "select web data that resembles Wikipedia/books" gate, but
    * as one declarative plan instead of a two-model training job.
    *
    * Features are unigrams + space-joined bigrams (both map-only array
    * ops — bigrams via `zip_with` over two slices), hashed into
    * `16^hexLen` buckets by an md5-prefix — the same any-ANSI-engine-
    * reproducible bucketing the split/sample family uses ([[hashSplit]]);
    * a production run at 100 TB would swap the md5 for xxhash64 via the
    * same prefix trick, the plan shape is identical. With add-1 smoothing
    * over the full bucket space B:
    *
    *   log w(d) = Σ_b f_db·(ln(ct_b+1) − ln(cr_b+1))
    *              + n_d·(ln(Nr+B) − ln(Nt+B))
    *
    * so every `ln` input is an integral double (a smoothed count or a
    * corpus total) — the cross-engine transcendental discipline of
    * [[unigramNll]] — and per-doc sums accumulate in DECIMAL(30,15).
    *
    * Shuffle profile: two bucket-count aggregations (≤ B rows each, map-
    * side partials), their outer-join bucket table broadcasts (B ≤ 16^4),
    * per-doc features collapse to (doc, bucket, f) map-side before the
    * one data-sized exchange, then a per-doc rollup. Bodies never
    * shuffle; totals are one-row broadcasts.
    *
    * Docs with no feature (under 1 token) get n_feats 0 and a 0.0 weight
    * (an empty product is target-neutral, not unscorable — selection
    * treats it as indifferent rather than dropping the row).
    *
    * @return (idCol, n_feats, log_w)
    */
  def dsirLogWeights(raw: DataFrame, target: DataFrame,
                     idCol: String, textCol: String,
                     hexLen: Int = 2): DataFrame = {
    require(hexLen >= 1 && hexLen <= 4, "hexLen in [1,4]")
    val bSpace = math.pow(16.0, hexLen).toLong
    val id = col(idCol)
    // unigram + bigram feature buckets, map-only per row
    def feats(d: DataFrame, keep: Column*): DataFrame = {
      val toks = col("__tk")
      d.select(keep :+ TextFunctions.tokens(col(textCol)).as("__tk"): _*)
        .select(keep :+ explode(concat(toks,
          zip_with(
            slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
            slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
            (a, b) => concat(a, lit(" "), b)))).as("__g"): _*)
        .select(keep :+ substring(md5(col("__g")), 1, hexLen).as("__b"): _*)
    }
    val ct = feats(target).groupBy(col("__b")).agg(count(lit(1)).as("__ct"))
    val cr = feats(raw).groupBy(col("__b")).agg(count(lit(1)).as("__cr"))
    // bucket table over the union of seen buckets; unseen-on-one-side
    // counts are 0 (the +1 smoothing keeps ln in-domain). Buckets seen
    // on NEITHER side contribute ln(1)−ln(1) = 0 and need no row.
    val buckets = ct.join(cr, Seq("__b"), "full_outer")
      .select(col("__b"),
        (log(coalesce(col("__ct"), lit(0L)).cast("double") + 1.0) -
          log(coalesce(col("__cr"), lit(0L)).cast("double") + 1.0)).as("__lam"))
    val nt = ct.agg(sum(col("__ct")).as("__nt"))
    val nr = cr.agg(sum(col("__cr")).as("__nr"))
    val perDoc = feats(raw, id)
      .groupBy(id, col("__b")).agg(count(lit(1)).as("__f"))
      .join(broadcast(buckets), Seq("__b"))
      .groupBy(id).agg(
        sum(col("__f")).as("__n"),
        sum((col("__f").cast("double") * col("__lam"))
          .cast(DecimalType(30, 15))).cast("double").as("__s"))
    raw.select(id)
      .join(perDoc, Seq(idCol), "left")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .select(id,
        coalesce(col("__n"), lit(0L)).as("n_feats"),
        round(
          coalesce(col("__s"), lit(0.0)) +
            coalesce(col("__n"), lit(0L)).cast("double") *
              (log(col("__nr").cast("double") + lit(bSpace.toDouble)) -
                log(col("__nt").cast("double") + lit(bSpace.toDouble))),
          9).as("log_w"))
  }

  /** Per-document duplicate-n-gram coverage — the memorization-risk /
    * novelty signal (RefinedWeb-flavor): what fraction of a document's
    * DISTINCT word n-grams also occur in at least `minDf − 1` OTHER
    * documents. High coverage = the document is mostly corpus-repeated
    * phrasing (boilerplate, templates, syndicated copy); low = novel
    * text. The per-span cousin of [[removeFrequentUnits]] that SCORES
    * instead of cutting.
    *
    * Shuffle profile: each doc reduces map-side to its distinct n-gram
    * hash set (native single-pass expression — 8 bytes per distinct
    * gram, bodies never shuffle), document frequency aggregates those
    * hashes once, and the duplicated-set semi-join keys on the same
    * 8-byte hash. Docs shorter than `n` tokens have no n-gram: n_grams
    * 0, null dup_frac.
    *
    * @return (idCol, n_grams, n_dup, dup_frac)
    */
  def duplicateCoverage(df: DataFrame, idCol: String, textCol: String,
                        n: Int, minDf: Long = 2L): DataFrame = {
    require(n >= 1 && minDf >= 1)
    val id = col(idCol)
    val grams = df
      .where(size(TextFunctions.tokens(col(textCol))) >= n)
      .select(id, explode(graft.plans.HashExpressions.ngramHashes(
        TextFunctions.tokens(col(textCol)), n)).as("__gh"))
    val dup = grams
      .groupBy(col("__gh")).agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minDf)
      .select(col("__gh"))
    val perDoc = grams
      .join(dup, Seq("__gh"), "left_semi")
      .groupBy(id).agg(count(lit(1)).as("__nd"))
    val totals = grams.groupBy(id).agg(count(lit(1)).as("__ng"))
    df.select(id)
      .join(totals, Seq(idCol), "left")
      .join(perDoc, Seq(idCol), "left")
      .select(id,
        coalesce(col("__ng"), lit(0L)).as("n_grams"),
        coalesce(when(col("__ng").isNotNull, coalesce(col("__nd"), lit(0L))),
          lit(0L)).as("n_dup"),
        round(coalesce(col("__nd"), lit(0L)).cast("double") /
          col("__ng").cast("double"), 9).as("dup_frac"))
  }

  /** Benchmark decontamination: for every training document, count the
    * distinct word `n`-grams it shares with each benchmark document —
    * the overlap scan run before training to evict eval-set leakage.
    *
    * Implementation is an inverted-index equi-join on 8-byte gram hashes
    * (xxhash64 of the space-joined gram), never gram strings: each side
    * reduces to its distinct (doc, gramHash) set map-side, the join key
    * is 8 bytes, and the per-pair overlap is a count over the matches.
    * With a benchmark of B docs × g grams the index side is tiny and
    * broadcastable; the 100 TB training side streams through one shuffle
    * keyed by gram hash. Pairs below `minShared` are dropped before the
    * result materializes.
    *
    * Returns (train id, bench id, shared) — `shared` = number of distinct
    * n-grams in common (collision-free modulo 64-bit xxhash).
    */
  def decontaminate(train: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int,
                    minShared: Long = 1L): DataFrame = {
    // NgramHashes is a native single-pass expression (no interpreted HOF
    // per gram) and already emits the DISTINCT hash set per document, so
    // exploding it yields unique (doc, gramHash) rows with no extra
    // distinct shuffle on either side.
    def gramSet(df: DataFrame, as: String): DataFrame =
      df
        // docs shorter than n tokens have no complete n-gram (NgramHashes
        // would emit its whole-text shingle hash instead — wrong here)
        .where(size(TextFunctions.tokens(col(textCol))) >= n)
        .select(col(idCol).as(as),
          explode(graft.plans.HashExpressions.ngramHashes(
            TextFunctions.tokens(col(textCol)), n)).as("gh"))
    gramSet(train, "train_id")
      .join(gramSet(benchmark, "bench_id"), "gh")
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** Token-offset assignment — the prelude to sequence packing: each
    * document gets the exclusive cumulative sum of token counts in
    * `idCol` order (`start_offset`, where its first token lands in the
    * concatenated training stream) and the fixed-length chunk that
    * offset falls in (`chunk_id = start_offset div seqLen`).
    *
    * A bare `SUM(...) OVER (ORDER BY id)` window has no partition key, so
    * Spark plans it as ONE reducer holding the whole corpus — correct at
    * 60k rows, dead at 100 TB. This is the two-level scan instead:
    * bucket documents by contiguous id range, aggregate per-bucket token
    * totals (one tiny row per bucket), prefix-sum THOSE in a
    * single-partition window over #buckets rows (thousands, not
    * billions), broadcast the bucket base offsets back, and run the
    * within-bucket cumsum partitioned by bucket. Every data-sized stage
    * is parallel; only the #buckets-sized stage is serial.
    *
    * `bucketWidth` is the id-range width per bucket — size it so a bucket
    * holds ~1 partition of rows (ids need not be dense; empty buckets
    * simply don't appear).
    */
  def packOffsets(df: DataFrame, idCol: String, textCol: String,
                  seqLen: Long, bucketWidth: Long): DataFrame = {
    require(seqLen > 0 && bucketWidth > 0)
    val id = col(idCol).cast("long")
    val base = df.select(col(idCol),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"),
      (id - pmod(id, lit(bucketWidth))).as("__bucket"))
    val bucketOffsets = base
      .groupBy(col("__bucket")).agg(sum(col("n_tokens")).as("__btot"))
      .select(col("__bucket"),
        coalesce(sum(col("__btot")).over(
          Window.orderBy(col("__bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__boff"))
    val inBucket = Window.partitionBy(col("__bucket")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val so = col("__boff") + coalesce(sum(col("n_tokens")).over(inBucket), lit(0L))
    base.join(broadcast(bucketOffsets), "__bucket")
      .select(col(idCol), col("n_tokens"), so.as("start_offset"),
        ((so - pmod(so, lit(seqLen))) / lit(seqLen)).cast("long").as("chunk_id"))
  }

  /** One statistics round of BPE tokenizer training, distributed — the
    * adjacent-symbol-pair counts a byte-pair-encoding trainer maximizes
    * over (Sennrich et al. 2016), at the character stage: every adjacent
    * character pair inside a word, weighted by the word's corpus
    * frequency. The argmax pair is the round's merge; re-running after
    * applying merges yields the full trainer loop.
    *
    * Scale shape — the part that matters at 100 TB: the corpus collapses
    * to its VOCABULARY first (one word-hash shuffle, partial aggregates
    * collapsing repeats map-side), and the pair explode runs over the
    * distinct-word table only — vocabulary-sized (≤ millions), not
    * corpus-sized (trillions of tokens). A trainer that explodes pairs
    * per token instance shuffles the corpus once per merge round; this
    * shuffles it once, full stop.
    *
    * Output: (pair string, cnt) — every adjacent pair, caller takes the
    * top-k / argmax.
    */
  def bpePairCounts(df: DataFrame, textCol: String): DataFrame = {
    val vocab = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    vocab.where(length(col("w")) >= 2)
      .select(col("w"), col("f"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(2)).as("pair"), col("f"))
      .groupBy(col("pair")).agg(sum(col("f")).as("cnt"))
  }

  /** Gopher-style document quality gate (Rae et al. 2021, Appendix A —
    * the published rule set behind MassiveText, independently
    * re-expressed), complementing [[c4Gate]]'s line rules with document
    * statistics: word count in [minWords, maxWords], mean word length in
    * [3, 10], symbol-to-word ratio (`#` and `...`) below 0.1, ≥ 80% of
    * words containing an alphabetic character, and at least `minStop` of
    * the 8 canonical English stop words present.
    *
    * Map-only (array HOFs inside the scan projection, no shuffle), and
    * built from substring/size primitives with one deliberate trick:
    * "word contains a letter" is tested as `lower(w) != upper(w)` —
    * exact, locale-free, and reproducible on any ANSI engine, where a
    * character-class regex would hang parity on engine regex dialects.
    * Doubles round to 9 places (cross-engine hash-stable). Empty docs:
    * metrics 0, kept = false.
    *
    * Output: (idCol, n_words, mean_word_len, symbol_ratio, alpha_frac,
    * n_stop, kept) — every row present and flagged.
    */
  def gopherGate(df: DataFrame, idCol: String, textCol: String,
                 minWords: Long = 50L, maxWords: Long = 100000L,
                 minStop: Int = 2,
                 carryCols: Seq[String] = Nil): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    val toks = TextFunctions.tokens(text)
    val n = size(toks).cast("long")
    val charSum = aggregate(transform(toks, w => length(w)),
      lit(0L), (acc, x) => acc + x.cast("long"))
    val nAlpha = size(filter(toks, w => lower(w) =!= upper(w))).cast("long")
    val nHash = length(text) - length(regexp_replace(text, lit("#"), lit("")))
    val nEllipsis =
      (length(text) - length(regexp_replace(text, lit("\\.\\.\\."), lit("")))) / 3
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val nStop = stops.map(s =>
      when(array_contains(toks, s), 1).otherwise(0)).reduce(_ + _)
    val meanLen = when(n === 0, lit(0.0))
      .otherwise(round(charSum.cast("double") / n.cast("double"), 9))
    val symRatio = when(n === 0, lit(0.0))
      .otherwise(round((nHash + nEllipsis).cast("double") / n.cast("double"), 9))
    val alphaFrac = when(n === 0, lit(0.0))
      .otherwise(round(nAlpha.cast("double") / n.cast("double"), 9))
    graft.GraftSession.spreadScan(df)
      .select(col(idCol) +: carryCols.map(col) :+
        n.as("n_words") :+ meanLen.as("mean_word_len") :+
        symRatio.as("symbol_ratio") :+ alphaFrac.as("alpha_frac") :+
        nStop.cast("long").as("n_stop") :+
        (n >= minWords && n <= maxWords &&
          meanLen >= 3.0 && meanLen <= 10.0 &&
          symRatio < 0.1 && alphaFrac > 0.8 &&
          nStop >= minStop).as("kept"): _*)
  }

  /** Per-group curation funnel report — the observability aggregate a
    * 100 TB curation run publishes per language/source: document and
    * token volume, decimal-exact mean quality, and how many docs the
    * [[gopherGate]] keeps. One map-only gate pass + one group-keyed
    * aggregation; the mean accumulates in DECIMAL so the report is
    * bit-identical at any parallelism (the pagerank discipline — a
    * float `avg` would drift with partition order).
    */
  def curationReport(df: DataFrame, idCol: String, groupCol: String,
                     textCol: String, minWords: Long = 50L,
                     minStop: Int = 2): DataFrame = {
    val staged = df.withColumn("__q",
      TextFunctions.qualityScore(coalesce(col(textCol), lit(""))))
    val gated = gopherGate(staged, idCol, textCol, minWords = minWords,
      minStop = minStop, carryCols = Seq(groupCol, "__q"))
    gated.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        round(sum(col("__q").cast(DecimalType(28, 12))).cast("double") /
          count(lit(1)).cast("double"), 9).as("mean_quality"),
        sum(col("kept").cast("long")).as("n_kept"))
  }

  /** Within-document repetition removal — MassiveText's intra-doc dedup
    * (Rae et al. 2021, "repetitious text"): delete every repeat of a unit
    * (line/paragraph/span) AFTER its first occurrence *within the same
    * document*, preserving original order. Complements
    * [[removeFrequentUnits]] (cross-document boilerplate): a scraped page
    * that repeats its own navigation block ten times keeps exactly one
    * copy.
    *
    * Map-only: `array_distinct` IS within-sequence first-occurrence
    * dedup — Spark's implementation preserves encounter order, so the
    * kept units are exactly the first occurrences in their original
    * positions. Linear per doc (hash-set membership), no shuffle, no
    * join, runs inside the scan projection; at 100 TB this costs one
    * pass over the bytes. (An earlier `filter` + `array_position`
    * formulation was quadratic per doc and measured 3× slower at sf0.1.)
    * Output: (idCol, clean_text, n_units_removed) — same contract as
    * [[removeFrequentUnits]].
    */
  def dedupWithinDoc(df: DataFrame, idCol: String, unitsCol: Column,
                     joiner: String = " "): DataFrame = {
    val units = coalesce(unitsCol, array().cast("array<string>"))
    val kept = array_distinct(units)
    df.select(col(idCol),
      array_join(kept, joiner).as("clean_text"),
      (size(units) - size(kept)).cast("long").as("n_units_removed"))
  }

  /** The URL-family's shared authority extraction — ONE definition of
    * "scheme / host (lowercased, default port stripped) / path+query"
    * consumed by [[urlCanonicalize]] and [[robotsGate]], so the
    * rules.host ↔ canon-host join contract cannot drift when the host
    * rules evolve (a divergent copy would silently stop matching and
    * gate everything as allowed).
    */
  private[functions] final case class UrlAuthority(
      u: Column, hasScheme: Column, scheme: Column, rest: Column,
      hostport: Column, host: Column, pathq: Column)

  private[functions] def urlAuthority(urlCol: String): UrlAuthority = {
    val u = trim(col(urlCol))
    val hasScheme = u.rlike("^[A-Za-z][A-Za-z0-9+.-]*://")
    val noFrag = regexp_replace(u, lit("#.*\\z"), lit(""))
    val scheme = lower(regexp_extract(noFrag,
      "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag,
      lit("^[A-Za-z][A-Za-z0-9+.-]*://"), lit(""))
    val hostport = lower(regexp_extract(rest, "^([^/?]+)", 1))
    val host = when(scheme === "http",
        regexp_replace(hostport, lit(":80\\z"), lit("")))
      .when(scheme === "https",
        regexp_replace(hostport, lit(":443\\z"), lit("")))
      .otherwise(hostport)
    val pathq = regexp_replace(rest, lit("^[^/?]*"), lit(""))
    UrlAuthority(u, hasScheme, scheme, rest, hostport, host, pathq)
  }


  /** Crawl-URL canonicalization — the dedup key a web corpus actually
    * joins on: the same page arrives as `HTTP://WWW.Example.COM:80/a`
    * and `http://example.com/a?utm_source=x`, and exact-dedup without a
    * canonical form silently keeps both. One scan projection emits:
    *
    *  - `url_canon`: scheme + host lowercased, default port stripped
    *    (http:80 / https:443; other ports kept), fragment dropped,
    *    empty path normalized to `/`, tracking params removed
    *    (`utm_*` prefix + the `extraTracking` set), surviving params
    *    SORTED (param order is transport noise, not identity) and
    *    re-joined. Path case and percent-escapes are preserved
    *    untouched — paths are case-sensitive by spec and %-decoding
    *    without charset context corrupts more than it canonicalizes.
    *  - `host`: the lowercased, port-stripped authority.
    *  - `registered_domain`: eTLD+1 by the documented HEURISTIC (no
    *    public-suffix list ships here): drop one leading `www.`, then
    *    take the last two labels — or three when the TLD is 2 chars
    *    and the 2nd-level label is one of co/com/net/org/gov/ac/edu
    *    (the common ccTLD second-levels, e.g. `example.co.uk`). The
    *    grouping key for per-domain curation stats and politeness
    *    budgets; a real PSL plugs in by replacing this one column.
    *  - `n_params_stripped`: how many params the cleaner removed —
    *    the observability column for "is this tracker list earning
    *    its keep".
    *
    * Userinfo (`user@host`) is not parsed (stays in `host` — the
    * crawl sources this targets never emit it; documented, not
    * hidden). Null/schemeless urls pass through with null parts.
    * Map-only, zero shuffles; regex/array primitives from the common
    * Java/RE2 subset only, so the DuckDB oracle mirrors bit-for-bit.
    *
    * @param outputs which derived columns to emit (and therefore
    *   compute): any subset of url_canon / host / registered_domain /
    *   n_params_stripped. The internal barrier that protects consumers
    *   from CollapseProject re-inlining ALSO blocks Catalyst's column
    *   pruning — by design, they are the same mechanism — so a caller
    *   that consumes two of the four columns should say so here and
    *   not pay the other two chains' per-row regex work (measured on
    *   x_link_graph: all-four cost +1.4 s over the consumed-two at
    *   sf0.1).
    */
  def urlCanonicalize(df: DataFrame, idCol: String, urlCol: String,
                      extraTracking: Seq[String] =
                        Seq("gclid", "fbclid", "msclkid"),
                      carryCols: Seq[String] = Nil,
                      outputs: Seq[String] = Seq("url_canon", "host",
                        "registered_domain", "n_params_stripped"))
      : DataFrame = {
    val known = Seq("url_canon", "host", "registered_domain",
      "n_params_stripped")
    require(outputs.nonEmpty && outputs.forall(known.contains),
      s"outputs must be a non-empty subset of $known: $outputs")
    val parts = urlAuthority(urlCol)
    val u = parts.u
    val hasScheme = parts.hasScheme
    val scheme = parts.scheme
    val host = parts.host
    val pathq = parts.pathq
    val rawPath = regexp_extract(pathq, "^([^?]*)", 1)
    val path = when(rawPath === "", lit("/")).otherwise(rawPath)
    val query = regexp_extract(pathq, "\\?(.*)\\z", 1)
    val allParams = filter(split(query, "&", -1), p => p =!= "")
    val isTracking = (p: Column) => {
      val name = regexp_extract(p, "^([^=]*)", 1)
      name.startsWith("utm_") ||
        extraTracking.map(t => name === t).reduceOption(_ || _)
          .getOrElse(lit(false))
    }
    val keptParams = array_sort(filter(allParams, p => !isTracking(p)))
    val canon = concat(scheme, lit("://"), host, path,
      when(size(keptParams) > 0,
        concat(lit("?"), array_join(keptParams, "&"))).otherwise(lit("")))
    // the grouping key derives from the hostNAME: a non-default port
    // stays in `host`/`url_canon` (it names a different authority) but
    // never in the domain rollup key
    val bare = regexp_replace(
      regexp_replace(host, lit(":[0-9]+\\z"), lit("")),
      lit("^www\\."), lit(""))
    val labels = split(bare, "\\.", -1)
    val n = size(labels)
    val ccSecond = Seq("co", "com", "net", "org", "gov", "ac", "edu")
    val needThree = n >= 3 &&
      length(element_at(labels, -1)) === 2 &&
      element_at(labels, -2).isin(ccSecond: _*)
    val regDomain = when(n <= 2, bare)
      .when(needThree, concat_ws(".", element_at(labels, -3),
        element_at(labels, -2), element_at(labels, -1)))
      .otherwise(concat_ws(".", element_at(labels, -2),
        element_at(labels, -1)))
    val derived = Map[String, Column](
      "url_canon" -> when(hasScheme, canon).as("url_canon"),
      "host" -> when(hasScheme, host).as("host"),
      "registered_domain" ->
        when(hasScheme, regDomain).as("registered_domain"),
      "n_params_stripped" ->
        when(hasScheme, (size(allParams) - size(keptParams)).cast("long"))
          .as("n_params_stripped"))
    // emitted in the CALLER's requested order — a caller reading
    // positionally must get the columns where it asked for them
    val out = df.select(col(idCol) +: carryCols.map(col) :++
      outputs.distinct.map(derived): _*)
    // The barrier lives IN the library function, not at call sites: any
    // consumer that filters/sorts/aggregates on these derived columns
    // would otherwise have CollapseProject + predicate pushdown
    // re-inline the 20-regex chain per reference (measured on
    // x_link_graph before pinning: 457 KB plan, codegen fallback,
    // 23.7 s vs 3.4 s at sf0.1).
    Pin.pin(out)
  }

  /** Outbound-link extraction — the web-graph edge source: every
    * `href="…"` / `href='…'` of an `<a>` tag, one row per (doc, href)
    * in document order (`link_idx`). Composes with
    * [[urlCanonicalize]] into the canonical link graph pageRank/HITS
    * run on (crawl → links → canonical domains → edges). Extraction
    * is regex over the common Java/RE2 subset: the anchor tag's
    * attribute list is scanned for one href, either quote style,
    * value taken verbatim (no resolution of relative urls — that
    * needs the base url, the caller's join). Docs with no links emit
    * nothing (edges, not docs, are the unit here). Map-only explode.
    */
  def htmlLinks(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val hrefs = regexp_extract_all(coalesce(col(htmlCol), lit("")),
      lit("(?is)<a\\s[^>]*href\\s*=\\s*[\"']([^\"']*)[\"']"), lit(1))
    df.select(col(idCol), posexplode(hrefs).as(Seq("link_idx", "href")))
      .select(col(idCol), col("link_idx").cast("long").as("link_idx"),
        col("href"))
  }

  /** `<a>` pairs of (href, cleaned anchor text) — the classic
    * web-ranking signal [[htmlLinks]] drops: what OTHER pages call a
    * URL. Same href extraction subset as htmlLinks (quoted hrefs, `.`
    * spans newlines via `(?is)`), the anchor is everything to the
    * first `</a>`, cleaned by: inner tags → space, the five XML
    * entities + HTML's `&#39;` unescaped in fixed order (`&amp;`
    * LAST — the [[sitemapParse]] chain discipline), whitespace
    * collapsed, trimmed. An image-only or empty anchor yields `''`
    * (kept, not nulled: the link exists, its text is empty — callers
    * aggregating terms naturally drop it because it has no tokens).
    * Nested `<a>` is invalid HTML; first-`</a>` termination is the
    * documented behavior. Map-only regex extraction, one posexplode;
    * bodies never shuffle.
    *
    * @return (idCol, link_idx, href, anchor)
    */
  def htmlAnchorTexts(df: DataFrame, idCol: String,
                      htmlCol: String): DataFrame = {
    val html = coalesce(col(htmlCol), lit(""))
    val pat = lit("(?is)<a\\s[^>]*href\\s*=\\s*[\"']([^\"']*)[\"']" +
      "[^>]*>(.*?)</a\\s*>")
    val pairs = zip_with(
      regexp_extract_all(html, pat, lit(1)),
      regexp_extract_all(html, pat, lit(2)),
      (h, t) => struct(h.as("href"), t.as("inner")))
    val noTags = regexp_replace(col("__l.inner"), "(?s)<[^>]*>", " ")
    val unesc = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, ch)) => replace(c, lit(e), lit(ch)) }
    df.select(col(idCol), posexplode(pairs).as(Seq("link_idx", "__l")))
      .select(col(idCol), col("link_idx").cast("long").as("link_idx"),
        col("__l.href").as("href"),
        trim(regexp_replace(unesc, "\\s+", " ")).as("anchor"))
  }

  /** Top-k anchor terms per link target — aggregate what the web calls
    * each URL ([[htmlAnchorTexts]] output, or any (target, text)
    * frame). Terms are lowercased whitespace tokens; rank is by
    * (count desc, term asc) so ties are deterministic. The rank filter
    * plans as WindowGroupLimit (per-target top-k heaps before the
    * exchange — never a global sort); the only data-sized exchange is
    * the (target, term) count aggregation with map-side partials.
    *
    * @return (target, term, n, rank), ≤ k rows per target
    */
  def anchorTermsTopK(links: DataFrame, targetCol: String,
                      anchorCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be at least 1")
    links
      .select(col(targetCol).as("target"),
        explode(TextFunctions.tokens(lower(col(anchorCol)))).as("term"))
      .groupBy(col("target"), col("term"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("target"))
          .orderBy(col("n").desc, col("term").asc)))
      .where(col("rank") <= k)
      .select(col("target"), col("term"), col("n"),
        col("rank").cast("long").as("rank"))
  }

  /** One fixpoint step of RFC 3986 §5.2.4 dot-segment removal on a
    * rooted path: six ordered replace-ALL rules, each of which either
    * no-ops or deletes at least one `.`/`..` segment. Iterating the
    * step to its fixpoint reproduces `remove_dot_segments` exactly for
    * paths that start with `/` (the only paths [[resolveLinks]] feeds
    * it) — the `..`-at-root drop (rules 3-4) and the pop (rules 5-6)
    * compose the same way the RFC's left-to-right stack walk does,
    * because a leftmost replace can never skip a poppable segment to
    * its left. The poppable segment is "anything but `.` or `..`",
    * EMPTY included (`/a//../b` pops the empty stack entry exactly as
    * the RFC walk does) — written as an RE2-safe alternation because
    * the oracle's regex engine has no lookahead. Popping a literal
    * `.`/`..` segment instead would mis-collapse runs the single-pass
    * rules haven't cleared yet (`/a/cc/./././..` must become `/a/`,
    * not `/a/cc/` — a `..` may never consume a dot segment), so those
    * wait for the next fixpoint iteration. Whenever any dot segment
    * remains some rule still fires, so the fixpoint never stalls. The
    * SAME rule chain runs in the DuckDB oracle (a recursive-CTE
    * fixpoint) — one algorithm, two engines — and the
    * CurationPropertySpec fuzzes it against an independent stack-walk
    * reference over adversarial segment soup (dot runs, empty
    * segments, dotted names, trailing slashes).
    */
  private val PoppableSeg = "(?:|[^/.][^/]*|\\.[^/.][^/]*|\\.\\.[^/]+)"
  // End anchors are \z, not $: Java's $ also matches BEFORE a trailing
  // '\n' while the oracle's RE2 $ matches only end-of-text, so a
  // trailing-newline path (hrefs are captured with a newline-admitting
  // [^"']* class) would resolve differently across engines (ADVICE r12).
  // \z in Java == $ in RE2: one semantics, two engines.
  private def dotStep(p: Column): Column = {
    val r1 = regexp_replace(p, lit("/\\./"), lit("/"))
    val r2 = regexp_replace(r1, lit("/\\.\\z"), lit("/"))
    val r3 = regexp_replace(r2, lit("^/\\.\\./"), lit("/"))
    val r4 = regexp_replace(r3, lit("^/\\.\\.\\z"), lit("/"))
    val r5 = regexp_replace(r4, lit("/" + PoppableSeg + "/\\.\\./"), lit("/"))
    regexp_replace(r5, lit("/" + PoppableSeg + "/\\.\\.\\z"), lit("/"))
  }

  /** `remove_dot_segments` as a bounded fold: each non-fixpoint
    * [[dotStep]] removes ≥1 segment, so `#segments + 1` applications
    * always reach the fixpoint; the extra applications are no-ops.
    * Pure column expression — stays inside the scan projection.
    */
  private def removeDotSegments(path: Column): Column =
    aggregate(sequence(lit(0), size(split(path, "/", -1))),
      path, (acc, _) => dotStep(acc))

  /** RFC 3986 §5 reference resolution of an outbound `href` against
    * the page's own base URL — the join [[htmlLinks]]' doc promises:
    * raw hrefs in a real crawl are MOSTLY relative, and a link graph
    * built on verbatim hrefs silently drops the majority of its true
    * intra-site edges. Adds `outCol` with the absolute target:
    *
    *  - scheme-ful hierarchical href (`x://…`): taken as-is, its own
    *    dot-segments collapsed (§5.2.2 strict);
    *  - opaque scheme (`mailto:`, `javascript:`, `g:h`): verbatim —
    *    no hierarchy to resolve; [[urlCanonicalize]] downstream nulls
    *    non-`://` forms out of the graph;
    *  - protocol-relative `//host/p`: base SCHEME + href;
    *  - root-relative `/p`: base scheme://authority + href;
    *  - query-only `?q`: base path kept, query replaced;
    *  - empty / fragment-only: the page itself (base sans fragment);
    *  - relative `p`, `../p`, `./p`: merged onto the base path's
    *    directory (§5.3: up to the last `/`; `/` when the base path is
    *    empty), then dot-collapsed.
    *
    * Fragments are stripped on both sides first (resolution feeds the
    * link GRAPH; `#s` targets the same resource). Scheme/host case and
    * percent-escapes pass through untouched — normalization is
    * [[urlCanonicalize]]'s job, one step later. A null or schemeless
    * base nulls every branch that needs it (absolute hrefs still
    * resolve). `%2e`-encoded dots are NOT decoded (documented:
    * %-decoding without charset context corrupts more than it fixes).
    * Map-only, zero shuffles — regex/replace column expressions in the
    * scan projection, mirrored op-for-op by the DuckDB oracle.
    */
  def resolveLinks(df: DataFrame, hrefCol: String, baseUrlCol: String,
                   outCol: String = "href_resolved"): DataFrame = {
    val h = regexp_replace(col(hrefCol), lit("#.*\\z"), lit(""))
    val b = regexp_replace(trim(col(baseUrlCol)), lit("#.*\\z"), lit(""))
    // base parts (case preserved; hostport keeps any port)
    val bOk = b.rlike("^[A-Za-z][A-Za-z0-9+.-]*://")
    val bScheme = regexp_extract(b, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    val bRest = regexp_replace(b, lit("^[A-Za-z][A-Za-z0-9+.-]*://"),
      lit(""))
    val bHost = regexp_extract(bRest, "^([^/?]+)", 1)
    val bPathQ = regexp_replace(bRest, lit("^[^/?]*"), lit(""))
    val bPath = regexp_extract(bPathQ, "^([^?]*)", 1)
    val bQuery = regexp_extract(bPathQ, "(\\?.*)\\z", 1) // "" when absent
    val bPre = concat(bScheme, lit("://"), bHost)
    // href parts for the path-carrying branches
    val hPath = regexp_extract(h, "^([^?]*)", 1)
    val hQuery = regexp_extract(h, "(\\?.*)\\z", 1)
    // §5.3 merge: base path up to and incl. the last '/'; '/' when the
    // base path is empty (authority present ⇒ rooted)
    val bDir = when(regexp_extract(bPath, "^(.*/)", 1) === "", lit("/"))
      .otherwise(regexp_extract(bPath, "^(.*/)", 1))
    val hierAbs = h.rlike("^[A-Za-z][A-Za-z0-9+.-]*://")
    val opaque = h.rlike("^[A-Za-z][A-Za-z0-9+.-]*:")
    // hierarchical absolute href re-parsed the same way as the base
    val aScheme = regexp_extract(h, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    val aRest = regexp_replace(h, lit("^[A-Za-z][A-Za-z0-9+.-]*://"),
      lit(""))
    val aHost = regexp_extract(aRest, "^([^/?]+)", 1)
    val aPathQ = regexp_replace(aRest, lit("^[^/?]*"), lit(""))
    val aPath = regexp_extract(aPathQ, "^([^?]*)", 1)
    val aQuery = regexp_extract(aPathQ, "(\\?.*)\\z", 1)
    // protocol-relative href: authority + path + query from the href
    val pHost = regexp_extract(h, "^//([^/?]+)", 1)
    val pPathQ = regexp_replace(h, lit("^//[^/?]*"), lit(""))
    val pPath = regexp_extract(pPathQ, "^([^?]*)", 1)
    val pQuery = regexp_extract(pPathQ, "(\\?.*)\\z", 1)
    val assemble = (pre: Column, path: Column, suf: Column) =>
      concat(pre, removeDotSegments(path), suf)
    val baseGuard = (c: Column) => when(bOk, c)
    val resolved =
      when(h.isNull, lit(null).cast("string"))
        .when(hierAbs, assemble(concat(aScheme, lit("://"), aHost),
          aPath, aQuery))
        .when(opaque, h)
        .when(h.startsWith("//"),
          baseGuard(assemble(concat(bScheme, lit("://"), pHost),
            pPath, pQuery)))
        .when(h.startsWith("/"), baseGuard(assemble(bPre, hPath, hQuery)))
        .when(h === "", baseGuard(assemble(bPre, bPath, bQuery)))
        .when(h.startsWith("?"), baseGuard(assemble(bPre, bPath, h)))
        .otherwise(baseGuard(assemble(bPre, concat(bDir, hPath), hQuery)))
    // Materialization barrier: the resolved URL is an ~800-node
    // expression (branch CASE + the dot-segment fold). A downstream
    // projection that reads it many times — urlCanonicalize derives
    // ~15 columns from its input — would have CollapseProject inline
    // the whole tree into EVERY reference, multiplying the regex work
    // and blowing past the codegen size limit into interpreted mode
    // (measured: 457 KB plan, 23.7 s vs 3.4 s at sf0.1). explode of a
    // 1-element array is a Generate node: projections never collapse
    // across it, so the value computes ONCE per row and downstream
    // reads an attribute. No shuffle, partitioning preserved.
    df.select(col("*"), explode(array(resolved)).as(outCol))
  }

  /** Public-Suffix-List-backed registered domains — the upgrade path
    * from [[urlCanonicalize]]'s documented eTLD+1 HEURISTIC, which
    * groups thousands of unrelated `github.io` / `blogspot.com`-class
    * sites into one "registered domain" for politeness budgets and
    * domain stats. Takes the PSL as a one-column DataFrame of rules in
    * the list's own grammar: plain suffixes (`com`, `co.uk`,
    * `github.io`), wildcards (`*.ck` — any single label under the base
    * is a public suffix), and exceptions (`!www.ck` — carved back out
    * of a wildcard; its own suffix is one label shorter). Resolution
    * follows the PSL algorithm: an exception match wins outright,
    * otherwise the LONGEST matching rule, otherwise the default rule
    * `*` (the bare TLD). Comment lines (`//`) and blanks are ignored,
    * so the published file loads as-is.
    *
    * Returns a DISTINCT-host mapping table
    * (`host` lowercased, `public_suffix`, `registered_domain_psl` —
    * null when the host IS a public suffix) for the caller to join
    * back: at 100 TB the distinct-host set is crawl-frontier-sized,
    * orders smaller than the row count, and the mapping is computed
    * once, not per row. Ports and one trailing dot are stripped for
    * matching but the `host` key keeps the caller's port so the
    * join-back is exact. Scale shape: candidate suffixes explode to
    * ≤#labels rows per distinct host, the rule table BROADCASTS
    * (the real PSL is ~10⁴ rows), and one host-keyed aggregation picks
    * the winning rule.
    */
  def pslRegisteredDomains(df: DataFrame, hostCol: String,
                           psl: DataFrame): DataFrame = {
    val rules = psl.select(trim(lower(col(psl.columns.head))).as("rule"))
      .where(col("rule").isNotNull && col("rule") =!= "" &&
        !col("rule").startsWith("//"))
      .select(
        when(col("rule").startsWith("!"), lit("exc"))
          .when(col("rule").startsWith("*."), lit("wild"))
          .otherwise(lit("plain")).as("kind"),
        regexp_replace(col("rule"), "^(!|\\*\\.)", "").as("base"))
      .distinct()
    val hosts = df.select(lower(col(hostCol)).as("host"))
      .where(col("host").isNotNull && col("host") =!= "")
      .distinct()
      .select(col("host"), split(
        regexp_replace(regexp_replace(col("host"), ":[0-9]+\\z", ""),
          "\\.\\z", ""), "\\.", -1).as("labels"))
      .withColumn("n", size(col("labels")))
    // every label-suffix of the host, longest first: cand at 0-based
    // position i spans labels[i+1..n] ⇒ clen = n − i
    val cand = hosts.select(col("host"), col("n"),
        posexplode(transform(sequence(lit(1), col("n")), i =>
          array_join(slice(col("labels"), i, col("n") - i + 1), ".")))
          .as(Seq("off", "cand")))
      .withColumn("clen", col("n") - col("off"))
    val plainExc = cand
      .join(broadcast(rules.where(col("kind") =!= "wild")),
        col("base") === col("cand"))
      .select(col("host"),
        when(col("kind") === "exc", col("clen") - 1).otherwise(col("clen"))
          .as("ps_len"),
        (col("kind") === "exc").as("is_exc"))
    val wild = cand.where(col("cand").contains("."))
      .join(broadcast(rules.where(col("kind") === "wild")),
        col("base") === regexp_replace(col("cand"), "^[^.]+\\.", ""))
      .select(col("host"), col("clen").as("ps_len"), lit(false).as("is_exc"))
    val agg = plainExc.unionByName(wild).groupBy(col("host"))
      .agg(max(when(col("is_exc"), col("ps_len"))).as("exc_len"),
        max(when(!col("is_exc"), col("ps_len"))).as("norm_len"))
    hosts.join(agg, Seq("host"), "left")
      .select(col("host"), col("labels"), col("n"),
        coalesce(col("exc_len"), col("norm_len"), lit(1)).as("ps_len"))
      .select(col("host"),
        array_join(slice(col("labels"), col("n") - col("ps_len") + 1,
          col("ps_len")), ".").as("public_suffix"),
        when(col("n") > col("ps_len"),
          array_join(slice(col("labels"), col("n") - col("ps_len"),
            col("ps_len") + 1), ".")).as("registered_domain_psl"))
  }

  /** [[urlCanonicalize]] with the `registered_domain` column computed
    * from a real PSL instead of the heuristic: same canonical URL,
    * host and tracking-param behavior, with the domain rollup key
    * resolved through [[pslRegisteredDomains]]' distinct-host mapping
    * (one extra host-keyed join against a distinct-host-sized table).
    * The heuristic variant stays the default everywhere — this is the
    * opt-in for deployments that ship the published list.
    */
  def urlCanonicalizePsl(df: DataFrame, idCol: String, urlCol: String,
                         psl: DataFrame,
                         extraTracking: Seq[String] =
                           Seq("gclid", "fbclid", "msclkid"),
                         carryCols: Seq[String] = Nil): DataFrame = {
    // the heuristic registered_domain is never consumed here — its chain
    // is pruned at the source (see urlCanonicalize's `outputs` doc)
    val canon = urlCanonicalize(df, idCol, urlCol, extraTracking, carryCols,
      outputs = Seq("url_canon", "host", "n_params_stripped"))
    val mapping = pslRegisteredDomains(canon, "host", psl)
      .select(col("host"), col("registered_domain_psl"))
    canon
      .join(mapping, Seq("host"), "left")
      .select(col(idCol) +: carryCols.map(col) :+ col("url_canon") :+
        col("host") :+
        col("registered_domain_psl").as("registered_domain") :+
        col("n_params_stripped"): _*)
  }

  /** Crawl-frontier URL features — the shape signals a scheduler ranks
    * candidate URLs by before any fetch happens (frontier
    * prioritization: shallow paths on clean hosts first; deep,
    * parameter-heavy, digit-ridden or punycode URLs are the classic
    * low-yield / spam / infinite-calendar tails). All features derive
    * from [[urlAuthority]] — the SAME parse the canon pipeline and
    * robotsGate use, so a frontier scored here joins them without
    * re-parsing drift. Map-only; one projection, nothing shuffles.
    *
    * Feature contract (each deterministic and engine-portable):
    *  - `path_depth`   — non-empty `/` segments of the path (query
    *    excluded): /a/b/c?x=1 → 3, bare host → 0
    *  - `path_chars`   — octet-free character length of the path
    *  - `n_params`     — non-empty `&`-separated query params
    *  - `host_labels`  — dot-separated labels of the port-stripped
    *    host
    *  - `host_digits`  — the port-stripped host contains a digit
    *    (IP-literal / dga-ish signal)
    *  - `is_idn`       — any host label is punycode (`xn--` prefix)
    *  - `ext`          — lowercased final extension of the path's last
    *    segment (1–5 alphanumerics), '' when none
    *
    * Schemeless rows keep their url with every feature null (nothing
    * to parse — the caller's quarantine decision, the robotsGate
    * convention).
    *
    * @return (idCol, url, host, path_depth, path_chars, n_params,
    *         host_labels, host_digits, is_idn, ext)
    */
  def urlFeatures(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val parts = urlAuthority(urlCol)
    val qPos = instr(parts.pathq, "?")
    val path = when(qPos > 0, parts.pathq.substr(lit(1), qPos - 1))
      .otherwise(parts.pathq)
    val query = when(qPos > 0,
      parts.pathq.substr(qPos + 1, length(parts.pathq))).otherwise(lit(""))
    val hostNoPort = regexp_replace(parts.host, lit(":[0-9]+\\z"), lit(""))
    def nonEmptyCount(c: Column, sep: String): Column =
      size(filter(split(c, sep, -1), s => s =!= ""))
    def feat(c: Column): Column = when(parts.hasScheme, c)
    df.select(col(idCol), parts.u.as("url"),
      feat(parts.host).as("host"),
      feat(nonEmptyCount(path, "/")).cast("long").as("path_depth"),
      feat(length(path)).cast("long").as("path_chars"),
      feat(nonEmptyCount(query, "&")).cast("long").as("n_params"),
      feat(size(split(hostNoPort, "\\.", -1))).cast("long")
        .as("host_labels"),
      feat(hostNoPort.rlike("[0-9]")).as("host_digits"),
      feat(hostNoPort.rlike("(^|\\.)xn--")).as("is_idn"),
      feat(lower(regexp_extract(path, "\\.([A-Za-z0-9]{1,5})\\z", 1)))
        .as("ext"))
  }

  /** robots.txt group selection (RFC 9309 §2.2.1) — parse each host's
    * robots body into the (directive, pattern) rules that apply to
    * `agent`: lines classify case-insensitively into `User-agent:` /
    * `Allow:` / `Disallow:` (comments stripped at `#`, CRLF bodies —
    * the real HTTP case — handled, other lines ignored), a RUN of
    * User-agent lines shares the rule block that follows (per the RFC
    * grammar, blank/comment/unknown lines between them do NOT split
    * the run — only a rule line ends it), all groups naming the agent
    * merge (RFC: "more than one group matching ... MUST be
    * combined"), and the `*` groups apply only to hosts with NO
    * exact-agent group. A host appearing with MORE than one body
    * refuses loudly (interleaved line numbering would scramble group
    * structure silently). Empty-pattern rules drop
    * (an empty `Disallow:` means unrestricted, i.e. no rule). Agent
    * matching is exact on the lowercased product token — the practical
    * subset; RFC's longest-prefix product-token refinement is out of
    * scope and documented here.
    *
    * Scale shape: one explode over robots bodies (small by nature —
    * the fetch layer caps them), two host-partitioned window passes for
    * the group structure, config-sized output (host, directive,
    * pattern) that [[robotsGate]] broadcasts.
    */
  def robotsParse(df: DataFrame, hostCol: String, txtCol: String,
                  agent: String = "*"): DataFrame = {
    val a = agent.toLowerCase
    val w = Window.partitionBy(col("__h")).orderBy(col("__i"))
    // ONE body per host, enforced in-plan: a second row for the same
    // host would interleave its exploded line numbers with the first
    // body's and scramble the group structure nondeterministically —
    // refuse loudly instead (robots.txt is one-per-authority by
    // construction; concatenate upstream if you really have shards)
    val oneBody = df.select(lower(col(hostCol)).as("__h"),
        coalesce(col(txtCol), lit("")).as("__txt"))
      .withColumn("__nb",
        count(lit(1)).over(Window.partitionBy(col("__h"))))
      .select(col("__h"),
        when(col("__nb") === 1L, col("__txt"))
          .otherwise(raise_error(concat(
            lit("robotsParse: multiple robots bodies for host '"),
            col("__h"), lit("' — one body per host"))))
          .as("__txt"))
    // split tolerates CRLF bodies (the real-world HTTP case): a
    // trailing \r would otherwise survive trim (Spark trims spaces
    // only) and poison every agent token and pattern. A UTF-8 BOM on
    // the first line gets the same tolerance — a BOM-prefixed
    // "User-agent:" would fail the prefix match, the group run would
    // never start, and the politeness gate would FAIL OPEN (all rules
    // silently dropped, everything allowed).
    val lines = oneBody.select(col("__h"),
        posexplode(split(regexp_replace(col("__txt"),
          lit("\\A\uFEFF"), lit("")), "\r?\n")).as(Seq("__i", "__l0")))
      .select(col("__h"), col("__i"),
        trim(regexp_replace(col("__l0"), lit("#.*\\z"), lit(""))).as("__l"))
    val isUa = lower(col("__l")).startsWith("user-agent:")
    val isAllow = lower(col("__l")).startsWith("allow:")
    val isDis = lower(col("__l")).startsWith("disallow:")
    val lineVal = trim(expr("substring(__l, locate(':', __l) + 1)"))
    // group structure is computed over SIGNIFICANT lines only (UA and
    // rule lines): RFC 9309's grammar keeps UA lines separated by
    // blank/comment/unknown lines in the SAME group-start run, so
    // those lines must not break the lag chain
    val marked = lines
      .where(isUa || isAllow || isDis)
      .withColumn("__ua", isUa)
      .withColumn("__gs",
        col("__ua") && !coalesce(lag(col("__ua"), 1).over(w), lit(false)))
      .withColumn("__g", sum(col("__gs").cast("long")).over(w))
    val uaVals = marked.where(col("__ua"))
      .select(col("__h"), col("__g"), lower(lineVal).as("__agent"))
    val exact = uaVals.where(col("__agent") === a)
      .select(col("__h"), col("__g")).distinct()
    val star = uaVals.where(col("__agent") === "*")
      .select(col("__h"), col("__g")).distinct()
    val chosen = exact.unionByName(
      star.join(exact.select("__h").distinct(), Seq("__h"), "left_anti"))
    marked.where(isAllow || isDis)
      .select(col("__h"), col("__g"),
        when(isAllow, lit("allow")).otherwise(lit("disallow"))
          .as("directive"),
        lineVal.as("pattern"))
      .where(col("pattern") =!= "")
      .join(chosen, Seq("__h", "__g"))
      .select(col("__h").as("host"), col("directive"), col("pattern"))
      .distinct()
  }

  /** Crawl-delay extraction from robots.txt — the de-facto politeness
    * directive (honored by Bing/Yandex-class crawlers; not part of RFC
    * 9309, which is why [[robotsParse]] doesn't emit it): per host,
    * the `Crawl-delay: <seconds>` value from the groups that apply to
    * `agent`, selected by the SAME exact-agent-else-`*` policy and
    * group grammar as [[robotsParse]] (one body per host enforced
    * loudly, CRLF/BOM/comment tolerance, UA runs).
    *
    * One DOCUMENTED divergence from robotsParse's line classification:
    * a `Crawl-delay:` line is a RULE line here — it ends a User-agent
    * run, the way de-facto parsers treat it — while robotsParse
    * ignores it entirely (RFC 9309 grammar: unknown records). A body
    * whose UA runs are interleaved with crawl-delay lines can
    * therefore group differently between the two ops; for RFC-pure
    * gating semantics use robotsParse, for politeness pacing use this.
    *
    * Values parse leniently: `try_cast` to double, negatives and
    * non-numerics drop (a malformed delay must not stall a fetcher —
    * absence means "no directive", the crawler's default pacing).
    * Multiple surviving values for one host (merged groups, repeated
    * lines) take the MAXIMUM — the most polite reading. Feed the
    * output to [[revisitSchedule]]'s per-host waves: wave k fetches no
    * earlier than `k · crawl_delay_sec` into the cycle.
    *
    * Scale shape: robotsParse's — one explode over config-sized robots
    * bodies, two host-partitioned windows, host-keyed max. Output is
    * (host, crawl_delay_sec), hosts with a valid directive only.
    */
  def robotsCrawlDelay(df: DataFrame, hostCol: String, txtCol: String,
                       agent: String = "*"): DataFrame = {
    val a = agent.toLowerCase
    val w = Window.partitionBy(col("__h")).orderBy(col("__i"))
    val oneBody = df.select(lower(col(hostCol)).as("__h"),
        coalesce(col(txtCol), lit("")).as("__txt"))
      .withColumn("__nb",
        count(lit(1)).over(Window.partitionBy(col("__h"))))
      .select(col("__h"),
        when(col("__nb") === 1L, col("__txt"))
          .otherwise(raise_error(concat(
            lit("robotsCrawlDelay: multiple robots bodies for host '"),
            col("__h"), lit("' — one body per host"))))
          .as("__txt"))
    val lines = oneBody.select(col("__h"),
        posexplode(split(regexp_replace(col("__txt"),
          lit("\\A\uFEFF"), lit("")), "\r?\n")).as(Seq("__i", "__l0")))
      .select(col("__h"), col("__i"),
        trim(regexp_replace(col("__l0"), lit("#.*\\z"), lit(""))).as("__l"))
    val isUa = lower(col("__l")).startsWith("user-agent:")
    val isAllow = lower(col("__l")).startsWith("allow:")
    val isDis = lower(col("__l")).startsWith("disallow:")
    val isCd = lower(col("__l")).startsWith("crawl-delay:")
    val lineVal = trim(expr("substring(__l, locate(':', __l) + 1)"))
    val marked = lines
      .where(isUa || isAllow || isDis || isCd)
      .withColumn("__ua", isUa)
      .withColumn("__gs",
        col("__ua") && !coalesce(lag(col("__ua"), 1).over(w), lit(false)))
      .withColumn("__g", sum(col("__gs").cast("long")).over(w))
    val uaVals = marked.where(col("__ua"))
      .select(col("__h"), col("__g"), lower(lineVal).as("__agent"))
    val exact = uaVals.where(col("__agent") === a)
      .select(col("__h"), col("__g")).distinct()
    val star = uaVals.where(col("__agent") === "*")
      .select(col("__h"), col("__g")).distinct()
    val chosen = exact.unionByName(
      star.join(exact.select("__h").distinct(), Seq("__h"), "left_anti"))
    marked.where(isCd)
      .select(col("__h"), col("__g"),
        expr("try_cast(trim(substring(__l, locate(':', __l) + 1)) " +
          "as double)").as("__d"))
      .where(col("__d").isNotNull && col("__d") >= 0.0)
      .join(chosen, Seq("__h", "__g"))
      .groupBy(col("__h"))
      .agg(max(col("__d")).as("crawl_delay_sec"))
      .select(col("__h").as("host"), col("crawl_delay_sec"))
  }

  /** Sitemap discovery from robots.txt — the `Sitemap:` directive
    * lives OUTSIDE the user-agent groups and applies regardless of
    * agent (sitemaps.org protocol, referenced by RFC 9309 §2.2.4's
    * other-records provision), so this is a separate extraction from
    * [[robotsParse]]'s group machinery: every `Sitemap:` line's
    * absolute URL, one row per (host, sitemap_url), CRLF-tolerant,
    * comments stripped, duplicates collapsed. The crawl scheduler's
    * seed list — join it back to [[robotsGate]]-filtered frontiers.
    * Map-only explode; no windows (no group structure to track).
    */
  def robotsSitemaps(df: DataFrame, hostCol: String,
                     txtCol: String): DataFrame =
    df.select(lower(col(hostCol)).as("host"),
        explode(split(regexp_replace(coalesce(col(txtCol), lit("")),
          lit("\\A\uFEFF"), lit("")), "\r?\n")).as("__l0"))
      .select(col("host"),
        trim(regexp_replace(col("__l0"), lit("#.*\\z"), lit(""))).as("__l"))
      .where(lower(col("__l")).startsWith("sitemap:"))
      .select(col("host"),
        trim(expr("substring(__l, locate(':', __l) + 1)")).as("sitemap_url"))
      .where(col("sitemap_url") =!= "")
      .distinct()

  /** Sitemap document parser (sitemaps.org protocol) — the second half
    * of the crawl-scheduler seed chain [[robotsSitemaps]] starts: each
    * input row is one FETCHED sitemap body (idCol, xml), each output
    * row one entry of it. Both document kinds parse from the root
    * element: `<urlset>` emits its `<url>` children as kind `url`
    * (loc, lastmod, changefreq, priority), `<sitemapindex>` emits its
    * `<sitemap>` children as kind `sitemap` (loc, lastmod — the CHILD
    * sitemap URLs). Index recursion is the caller's explicit second
    * pass by design (fetch the kind=`sitemap` locs, re-call this
    * parser) — depth is a crawl-politeness decision, not a parser
    * loop. `.gz` bodies decompress at INGESTION via the existing codec
    * path ([[graft.sources.v2.GraftFilesSource]] `option("codec",
    * "auto")` — sitemaps.org allows gzipped documents); this op takes
    * the decoded text.
    *
    * Parsing subset (documented like [[htmlExtract]]'s entity rules):
    * entry tags are the protocol's literal `<url>`/`<sitemap>`
    * (attribute-free per the schema; namespace-prefixed variants and
    * CDATA sections are out of scope), field values trim surrounding
    * whitespace (pretty-printed documents put `<loc>` values on their
    * own line), and loc unescapes the five XML entities in a FIXED
    * order — `&lt; &gt; &quot; &apos;` then `&amp;` LAST (the spec
    * REQUIRES `&` in URLs be escaped as `&amp;`, so this is the hot
    * path, not a corner). lastmod stays the raw W3C-datetime string
    * (precision varies legally from `2026` to full RFC 3339 — parsing
    * is the consumer's call), changefreq lowercases to the protocol's
    * enum case, priority is a lenient double (malformed → null).
    *
    * Error posture (the [[robotsParse]] fail-open lesson): a non-empty
    * body with NO urlset/sitemapindex root REFUSES loudly under
    * `strict = true` (a scrambled fetch that silently parsed to zero
    * entries would evaporate a whole site from the frontier), as does
    * an entry with no `<loc>` (the one REQUIRED field); with
    * `strict = false` both drop silently — the salvage posture. Null/
    * blank bodies emit zero rows in either mode (nothing was fetched —
    * not a parse failure).
    *
    * Scale shape: map-only — regex extraction in the scan projection,
    * one posexplode per body, zero shuffles; bodies never leave their
    * task. All regexes stay in the shared Java/RE2 subset (`(?is)`,
    * non-greedy `.*?`, `\s`) so the DuckDB oracle replays the parse
    * bit-for-bit.
    *
    * @return (idCol, entry_idx, kind ∈ {url, sitemap}, loc, lastmod,
    *         changefreq, priority)
    */
  def sitemapParse(df: DataFrame, idCol: String, xmlCol: String,
                   strict: Boolean = true): DataFrame = {
    val xml = regexp_replace(coalesce(col(xmlCol), lit("")),
      lit("\\A\uFEFF"), lit(""))
    val root = lower(regexp_extract(xml,
      "(?is)<\\s*(urlset|sitemapindex)[\\s>]", 1))
    val rootChecked =
      if (!strict) root
      // rlike, not trim: Spark's trim strips spaces only, so a
      // newline-only body would read as non-blank (the robots CRLF
      // lesson applied to blankness)
      else when(xml.rlike("[^ \\t\\r\\n]") && root === "",
        raise_error(concat(
          lit("Corpus.sitemapParse: no urlset/sitemapindex root in "),
          col(idCol).cast("string")))).otherwise(root)
    val blocks = when(col("__root") === "urlset",
        regexp_extract_all(col("__xml"),
          lit("(?is)<url\\s*>.*?</url\\s*>"), lit(0)))
      .when(col("__root") === "sitemapindex",
        regexp_extract_all(col("__xml"),
          lit("(?is)<sitemap\\s*>.*?</sitemap\\s*>"), lit(0)))
      .otherwise(array().cast("array<string>"))
    def field(tag: String): Column =
      nullif(regexp_extract(col("__b"),
        s"(?is)<$tag\\s*>\\s*(.*?)\\s*</$tag\\s*>", 1), lit(""))
    // fixed unescape order, &amp; LAST (see Scaladoc) — same chain
    // discipline as [[htmlExtract]], with XML's &apos; for HTML's &#39;
    val locUnescaped = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&apos;" -> "'", "&amp;" -> "&")
      .foldLeft(field("loc")) { case (c, (e, ch)) =>
        replace(c, lit(e), lit(ch)) }
    val loc =
      if (!strict) locUnescaped
      else coalesce(locUnescaped, raise_error(concat(
        lit("Corpus.sitemapParse: entry without <loc> in sitemap "),
        col(idCol).cast("string"))).cast("string"))
    df.select(col(idCol), rootChecked.as("__root"), xml.as("__xml"))
      .select(col(idCol), col("__root"),
        posexplode(blocks).as(Seq("__i", "__b")))
      .select(col(idCol), col("__i").cast("long").as("entry_idx"),
        when(col("__root") === "urlset", lit("url"))
          .otherwise(lit("sitemap")).as("kind"),
        loc.as("loc"),
        field("lastmod").as("lastmod"),
        lower(field("changefreq")).as("changefreq"),
        expr("try_cast(regexp_extract(__b, " +
          "'(?is)<priority\\\\s*>\\\\s*(.*?)\\\\s*</priority\\\\s*>', 1) " +
          "as double)").as("priority"))
      .where(col("loc").isNotNull)
  }

  /** RFC 3986 §6.2.2 percent-encoding normalization, the [[robotsGate]]
    * comparison form: hex digits uppercase, triplets encoding
    * UNRESERVED octets (ALPHA / DIGIT / `-._~`) decode, all other
    * triplets (including `%2F` and `%2A`) stay encoded — so encoded
    * slashes never collapse into path structure and an encoded `*`
    * never becomes a wildcard. A `%` not followed by two hex digits
    * passes through literally. Pure array ops over a `%`-split —
    * map-only, mirrored expression-for-expression in the oracle SQL.
    */
  private def pctNormalize(c: Column): Column = {
    val hex = "0123456789abcdef"
    val parts = split(c, "%", -1)
    val fixed = transform(
      slice(parts, lit(2), greatest(size(parts) - 1, lit(0))), p => {
        val v1 = instr(lit(hex), lower(p.substr(lit(1), lit(1)))) - 1
        val v2 = instr(lit(hex), lower(p.substr(lit(2), lit(1)))) - 1
        val v = v1 * 16 + v2
        val valid = length(p) >= 2 && v1 >= 0 && v2 >= 0
        val unreserved = (v >= 48 && v <= 57) || (v >= 65 && v <= 90) ||
          (v >= 97 && v <= 122) || v === 45 || v === 46 || v === 95 ||
          v === 126
        val rest = p.substr(lit(3), length(p))
        when(valid && unreserved,
          concat(call_function("char", v), rest))
          .when(valid,
            concat(lit("%"), upper(p.substr(lit(1), lit(2))), rest))
          .otherwise(concat(lit("%"), p))
      })
    concat(element_at(parts, 1), array_join(fixed, ""))
  }

  /** robots.txt URL gate (RFC 9309 §2.2.2) — flag every crawl URL
    * allowed/disallowed under a per-host rule table (host, directive
    * in {allow, disallow}, pattern): patterns match the URL's
    * path+query as a PREFIX with `*` wildcards and an optional
    * trailing `$` end anchor; among matching rules the LONGEST pattern
    * (octet length) wins, ties break toward allow (the RFC's
    * least-restrictive tie rule); a URL with no matching rule — or a
    * host with no rules at all — is allowed. Matching compiles each
    * rule to an anchored regex over the common Java/RE2 subset
    * (metacharacters escaped, `*` → `.*`, trailing `$` → `\z` — the
    * round-12 `\z`-not-`$` lesson), mirrored verbatim in the DuckDB
    * oracle and fuzzed against an independent driver-side greedy
    * matcher (no regex) in the spec.
    *
    * Host extraction reuses [[urlCanonicalize]]'s authority rules
    * (lowercase, default port stripped) so `rules.host` joins the
    * canon pipeline's `host` column directly; schemeless URLs gate as
    * allowed with null host (nothing to join — the caller's quarantine
    * decision, not this op's).
    *
    * Percent-encoding: BOTH pattern and path+query pass through the
    * same RFC 3986 §6.2.2 normalization before comparing — hex digits
    * uppercase (`%3a` → `%3A`), triplets encoding UNRESERVED octets
    * (ALPHA / DIGIT / `-._~`) decode (`%7E` → `~`), every other
    * triplet stays encoded — so `%2F` remains distinct from a literal
    * `/` (decoding it would invent path structure) while equivalent
    * spellings of the same URL compare equal, the consistency RFC
    * 9309 §2.2.2 expects. A lone `%` not followed by two hex digits
    * is kept literally (robots patterns are not required to be valid
    * URLs). Rule ranking uses the octet length of the NORMALIZED
    * pattern (spelling must not change precedence); `matched_pattern`
    * reports the rule's original text; the returned `pathq` is the
    * normalized form actually matched.
    *
    * Scale shape: one hash join on host (rule table broadcast when
    * config-sized), per-(url, candidate-rule) regex evaluation
    * (Spark's last-pattern cache amortizes compiles within a rule
    * run), and one per-URL window over the ≤ #host-rules candidates.
    * Bodies never enter; the URL projection is all that shuffles.
    *
    * @return (idCol, url, host, pathq, allowed, matched_pattern,
    *         matched_directive) — matched_* null when no rule matched
    */
  def robotsGate(urls: DataFrame, idCol: String, urlCol: String,
                 rules: DataFrame): DataFrame = {
    // ONE authority definition shared with urlCanonicalize — the
    // rules.host join contract cannot drift from the canon pipeline
    val parts = urlAuthority(urlCol)
    val target = pctNormalize(
      when(parts.pathq === "", lit("/"))
        .when(parts.pathq.startsWith("?"), concat(lit("/"), parts.pathq))
        .otherwise(parts.pathq))
    val base = urls.select(col(idCol), parts.u.as("url"),
      when(parts.hasScheme, parts.host).as("__host"),
      when(parts.hasScheme, target).as("__target"))
    // rule pattern → percent-normalize, then anchored regex: trailing
    // $ peels off first (an interior $ is a literal octet per RFC;
    // normalization never produces one), metacharacters escape,
    // * becomes .*, the anchor returns as \z
    val pat = col("__pn")
    val anchored = pat.endsWith("$")
    val core = when(anchored,
      expr("substring(__pn, 1, length(__pn) - 1)")).otherwise(pat)
    val escaped = regexp_replace(core,
      lit("([\\.\\^\\$\\+\\?\\(\\)\\[\\]\\{\\}\\|\\\\])"), lit("\\\\$1"))
    val rx = concat(lit("^"), replace(escaped, lit("*"), lit(".*")),
      when(anchored, lit("\\z")).otherwise(lit("")))
    val r = rules
      .where(col("pattern") =!= "")
      .withColumn("__pn", pctNormalize(col("pattern")))
      .select(lower(col("host")).as("__host"), col("directive"),
        col("pattern"), rx.as("__rx"),
        // octet length of the NORMALIZED pattern, not character count
        // — RFC 9309 ranks by "the most octets", and spelling must not
        // change precedence
        octet_length(col("__pn")).as("__plen"))
    val joined = base.join(r, Seq("__host"), "left")
      .withColumn("__m",
        coalesce(regexp_like(col("__target"), col("__rx")), lit(false)))
    // one row per URL: matching rules first, then longest pattern,
    // allow before disallow on equal length, pattern text pinning the
    // remaining (semantically equivalent) ties for the oracle
    val w = Window.partitionBy(col(idCol)).orderBy(
      col("__m").desc, col("__plen").desc,
      (col("directive") === "allow").desc, col("pattern").asc)
    joined.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col(idCol), col("url"), col("__host").as("host"),
        col("__target").as("pathq"),
        (!col("__m") || col("directive") === "allow").as("allowed"),
        when(col("__m"), col("pattern")).as("matched_pattern"),
        when(col("__m"), col("directive")).as("matched_directive"))
  }

  /** Crawl revisit scheduling — the policy rung after
    * [[robotsSitemaps]] → [[sitemapParse]] → [[robotsGate]] seed the
    * frontier: given per-URL `changefreq` hints (sitemaps.org enum) and
    * the last crawl time, emit this cycle's fetch plan with per-host
    * politeness budgets.
    *
    * Interval per changefreq (the protocol's hint semantics — unknown
    * or absent values default to daily, `never` means revisit only if
    * never fetched): always→0s, hourly→3600, daily→86400,
    * weekly→604800, monthly→2 592 000 (30d), yearly→31 536 000 (365d).
    * Case-insensitive ([[sitemapParse]] already lowercases, but raw
    * feeds may not).
    *
    * A URL is DUE when it was never crawled (`lastCrawlCol` null —
    * tier 0, always scheduled first) or when
    * `last_crawl + interval ≤ nowSec` and changefreq ≠ never (tier 1,
    * most-overdue first). Within a host, due URLs rank by
    * (tier asc, overdue desc, url asc) and only the top `perHostK`
    * survive — `wave` (1-based rank) is the politeness slot: a crawler
    * issuing one fetch per host per cycle consumes wave 1 this cycle,
    * wave 2 the next. `overdue_sec` is null for never-fetched rows.
    *
    * Shuffle profile: one filter + one host-keyed rank window that
    * plans as WindowGroupLimit (per-host top-k heaps before the
    * exchange, never a global sort) — the frontier shuffles once on
    * host, bodies are never in the plan. At 100 TB-frontier scale the
    * host key is the natural politeness partitioning; feed the output
    * to [[rendezvousShard]] to pin hosts to fetcher shards.
    *
    * @param nowSec   scheduling instant (epoch seconds) — a PARAMETER,
    *                 not a clock read: plans must be reproducible
    * @return (host, url, wave, overdue_sec) — due URLs only,
    *         ≤ perHostK per host
    */
  def revisitSchedule(frontier: DataFrame, hostCol: String, urlCol: String,
                      changefreqCol: String, lastCrawlCol: String,
                      nowSec: Long, perHostK: Int): DataFrame = {
    require(perHostK >= 1, "perHostK must be at least 1")
    val freq = lower(coalesce(col(changefreqCol), lit("")))
    val interval = when(freq === "always", 0L)
      .when(freq === "hourly", 3600L)
      .when(freq === "daily", 86400L)
      .when(freq === "weekly", 604800L)
      .when(freq === "monthly", 2592000L)
      .when(freq === "yearly", 31536000L)
      .when(freq === "never", lit(null).cast("long"))
      .otherwise(86400L)
    val lastC = col(lastCrawlCol)
    val due = lastC.isNull ||
      (freq =!= "never" && lastC + interval <= lit(nowSec))
    val overdue = when(lastC.isNotNull, lit(nowSec) - (lastC + interval))
    frontier.where(due)
      .select(col(hostCol).as("host"), col(urlCol).as("url"),
        overdue.as("__ovd"), lastC)
      .withColumn("wave", row_number().over(Window.partitionBy(col("host"))
        .orderBy(when(col(lastCrawlCol).isNull, 0).otherwise(1).asc,
          coalesce(col("__ovd"), lit(Long.MaxValue)).desc, col("url").asc)))
      .where(col("wave") <= perHostK)
      .select(col("host"), col("url"), col("wave").cast("long").as("wave"),
        col("__ovd").as("overdue_sec"))
  }

  /** Per-domain curation rollup over [[urlCanonicalize]]'s grouping
    * key: docs, canonical-URL cardinality (exact — crawl dup pressure
    * is `n_docs − n_urls`), total chars, and the stripped-param volume.
    * One domain-keyed aggregation with map-side partials; the fact
    * table shuffles only its (domain, url, chars) projection.
    */
  def domainStats(canonicalized: DataFrame, charsCol: String): DataFrame =
    canonicalized
      .where(col("registered_domain").isNotNull)
      .groupBy(col("registered_domain"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("url_canon")).as("n_urls"),
        sum(col(charsCol)).as("n_chars"),
        sum(col("n_params_stripped")).as("n_params_stripped"))

  /** HTML → text extraction gate — rung 0 of the curation chain, in
    * front of [[gopherGate]]/[[c4Gate]]: real crawls start at markup,
    * not clean text. Three stages, all inside one scan projection:
    * (1) `<script>`/`<style>` bodies and `<!-- -->` comments are
    * removed wholesale (they are code, not content); (2) block-level
    * tags (`p div br li h1-6 tr td table section article header footer
    * nav blockquote pre ul ol th`) become block boundaries, remaining
    * inline tags strip to spaces, whitespace normalizes; (3) each
    * block survives iff its text has ≥ `minBlockChars` chars AND its
    * link density stays under one `<a ` anchor per `charsPerLink`
    * text chars — the boilerplate heuristic (nav bars / footers are
    * short and link-saturated; body prose is long and link-sparse),
    * written as the integer cross-multiplication
    * `linkChars·charsPerLink ≤ 3·textChars` (linkChars = 3·#anchors by
    * construction) so no float enters the decision. Surviving blocks
    * join by \n and the five COMMON entities unescape in a FIXED
    * documented order (`&lt; &gt; &quot; &#39; &nbsp;` then `&amp;`
    * last — a literal `&amp;lt;` therefore over-unescapes to `<`, the
    * price of staying a replace chain any engine mirrors exactly).
    * Output: (idCol, clean_text, n_blocks, n_blocks_kept, kept) —
    * every input row present and flagged, filtering is the caller's
    * one-liner (the [[c4Gate]] contract). Null html gates like "".
    * `outputs` selects (and orders) the derived subset, pruned BEFORE
    * the internal barrier — the barrier blocks Catalyst column pruning
    * by design, so a counts-only consumer should say so and skip the
    * clean_text join+unescape chain (the [[urlCanonicalize]] lesson).
    *
    * Map-only, zero shuffles: regex/replace/array lambdas in the scan
    * projection — at 100 TB the gate costs exactly one pass, and the
    * regexes use only the common Java/RE2 subset (`(?is)`, `[^>]*`,
    * non-greedy `.*?`, explicit `[ \t\r\n]` classes) so the DuckDB
    * oracle reproduces it bit-for-bit.
    */
  def htmlExtract(df: DataFrame, idCol: String, htmlCol: String,
                  minBlockChars: Int = 30,
                  charsPerLink: Int = 10,
                  outputs: Seq[String] = Seq("clean_text", "n_blocks",
                    "n_blocks_kept", "kept")): DataFrame = {
    require(minBlockChars >= 1, s"minBlockChars must be positive: $minBlockChars")
    require(charsPerLink >= 1, s"charsPerLink must be positive: $charsPerLink")
    val known = Seq("clean_text", "n_blocks", "n_blocks_kept", "kept")
    require(outputs.nonEmpty && outputs.forall(known.contains),
      s"outputs must be a non-empty subset of $known: $outputs")
    val raw = coalesce(col(htmlCol), lit(""))
    val noScript = regexp_replace(raw,
      lit("(?is)<script[^>]*>.*?</script>"), lit(" "))
    val noStyle = regexp_replace(noScript,
      lit("(?is)<style[^>]*>.*?</style>"), lit(" "))
    val noComment = regexp_replace(noStyle, lit("(?s)<!--.*?-->"), lit(" "))
    val blockTags = "p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|section" +
      "|article|header|footer|nav|blockquote|pre"
    val blocks = split(
      regexp_replace(noComment, lit(s"(?i)</?($blockTags)[^>]*>"), lit("\n")),
      "\n", -1)
    // per block: visible text (inline tags → spaces, whitespace
    // normalized) + anchor mass (3·#links — '<a ' is 3 chars, so the
    // density rule needs no division)
    val cleaned = transform(blocks, b => {
      val txt = trim(regexp_replace(
        regexp_replace(b, lit("<[^>]*>"), lit(" ")),
        lit("[ \\t\\r\\n]+"), lit(" ")))
      struct(txt.as("txt"),
        (length(b) - length(replace(b, lit("<a "), lit("")))).as("lc"))
    })
    val keptBlocks = filter(cleaned, s =>
      length(s("txt")) >= minBlockChars &&
        s("lc") * lit(charsPerLink) <= length(s("txt")) * lit(3))
    val joined = array_join(transform(keptBlocks, s => s("txt")), "\n")
    // fixed unescape order, &amp; LAST (see Scaladoc)
    val unescaped = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(joined) { case (c, (e, ch)) => replace(c, lit(e), lit(ch)) }
    // same outputs pruning as [[urlCanonicalize]]: the barrier below
    // blocks Catalyst column pruning, so a counts-only consumer (funnel
    // rollups) must be able to skip the clean_text join+unescape chain
    // here, BEFORE the barrier — emitted in the caller's order
    val derived = Map[String, Column](
      "clean_text" -> unescaped.as("clean_text"),
      "n_blocks" -> size(filter(cleaned, s => length(s("txt")) > 0))
        .cast("long").as("n_blocks"),
      "n_blocks_kept" -> size(keptBlocks).cast("long").as("n_blocks_kept"),
      "kept" -> (size(keptBlocks) >= 1).as("kept"))
    val out = df.select(col(idCol) +: outputs.distinct.map(derived): _*)
    // Same CollapseProject exposure as [[urlCanonicalize]]: the caller's
    // contract is `where(kept)` + downstream reads of `clean_text` —
    // exactly the filter-pushdown + multi-reference shape that would
    // re-inline the whole extraction chain per consumer. Barrier inside
    // the function.
    Pin.pin(out)
  }

  /** Stage-by-stage curation funnel — the retention table a 100 TB
    * curation run publishes: how many documents and tokens survive
    * each gate of the standard chain (input → [[c4Gate]] →
    * [[gopherGate]]), so "which rule costs how much corpus" is a
    * 3-row report, not an archaeology project. Stage 1 counts tokens
    * of the C4-CLEANED text (the text the next gate actually sees);
    * stage 2 re-counts the same cleaned text for Gopher survivors.
    *
    * Scale shape: TWO passes total. Pass 1 aggregates the input row
    * (count + token sum, map-side partials). The C4 survivors snapshot
    * ONCE and feed pass 2 — a single [[gopherGate]] scan whose output
    * already carries per-doc `n_words`, so stages 1 AND 2 fall out of
    * one fused aggregate (stage 1 = all survivors, stage 2 = Gopher-
    * kept survivors) exploded into two rows in-plan: no re-tokenize,
    * no third scan, no re-evaluated gate. (The naive
    * stage-per-aggregate form re-ran C4 and the tokenizer per stage —
    * measured 7.9 s at sf0.1 where this form needs 3.4.)
    *
    * @return (stage, gate, n_docs, n_tokens) — 3 rows
    */
  def curationFunnel(df: DataFrame, idCol: String, textCol: String,
                     minWords: Long = 50L, maxWords: Long = 100000L,
                     minStop: Int = 2, minLineTokens: Int = 3,
                     minLines: Int = 3): DataFrame = {
    def toksOf(c: Column) = size(TextFunctions.tokens(c)).cast("long")
    val s0 = df.select(col(idCol), col(textCol).as("__t"))
    val r0 = s0
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(toksOf(col("__t"))), lit(0L)).as("n_tokens"))
      .select(lit(0L).as("stage"), lit("input").as("gate"),
        col("n_docs"), col("n_tokens"))
    val s1Plan = c4Gate(s0, idCol, "__t", minLineTokens, minLines)
      .where(col("kept"))
      .select(col(idCol), col("clean_text").as("__t"))
    val s1 = Snapshots.snapshot(s1Plan)
    val g = gopherGate(s1, idCol, "__t", minWords, maxWords, minStop)
    val r12 = g
      .agg(count(lit(1)).as("n1"),
        coalesce(sum(col("n_words")), lit(0L)).as("t1"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n2"),
        coalesce(sum(when(col("kept"), col("n_words")).otherwise(0L)),
          lit(0L)).as("t2"))
      .select(explode(array(
        struct(lit(1L).as("stage"), lit("c4_gate").as("gate"),
          col("n1").as("n_docs"), col("t1").as("n_tokens")),
        struct(lit(2L).as("stage"), lit("gopher_gate").as("gate"),
          col("n2").as("n_docs"), col("t2").as("n_tokens")))).as("r"))
      .select(col("r.stage").as("stage"), col("r.gate").as("gate"),
        col("r.n_docs").as("n_docs"), col("r.n_tokens").as("n_tokens"))
    r0.unionAll(r12)
  }

  /** C4-style rule-based cleaning gate (Raffel et al. 2020 §2.2 — the
    * published heuristics behind the C4 corpus, independently
    * re-expressed): a LINE survives iff its trimmed form ends in terminal
    * punctuation (`.` `!` `?` `"`) and has ≥ `minLineTokens` whitespace
    * tokens; a DOCUMENT is flagged kept iff ≥ `minLines` lines survive,
    * it contains no `{` (code), and its lowercase text lacks
    * "lorem ipsum". Output: (idCol, clean_text = surviving lines joined
    * by \n, n_lines_kept, kept) — every input row present and flagged,
    * filtering is the caller's one-liner.
    *
    * Map-only (no shuffle, no joins): the line logic runs in `filter`/
    * `transform` lambdas inside the scan projection — at 100 TB this is
    * the cheapest possible pass, and it composes into the curation chain
    * without adding an exchange. Built from substring/size primitives
    * only (no engine-specific regex classes), so any ANSI engine
    * reproduces it bit-for-bit.
    */
  def c4Gate(df: DataFrame, idCol: String, textCol: String,
             minLineTokens: Int = 3, minLines: Int = 3): DataFrame = {
    require(minLineTokens >= 1 && minLines >= 1)
    // null text gates exactly like empty text ("", 0, false) — the op is
    // total, never a NULL row that downstream filters silently drop
    val text = coalesce(col(textCol), lit(""))
    val keepLine = (l: Column) => {
      val t = trim(l)
      substring(t, -1, 1).isin(".", "!", "?", "\"") &&
        size(split(t, "\\s+")) >= minLineTokens
    }
    val kept = filter(split(text, "\n"), keepLine)
    df.select(col(idCol),
      array_join(transform(kept, l => trim(l)), "\n").as("clean_text"),
      size(kept).cast("long").as("n_lines_kept"),
      (size(kept) >= minLines &&
        !text.contains("{") &&
        !lower(text).contains("lorem ipsum")).as("kept"))
  }

  /** Full sequence-packing assignment — the GPT-style "concatenate the
    * corpus and cut every `seqLen` tokens" layout, [[packOffsets]] taken
    * to its training-ready conclusion: each document explodes into the
    * SPANS it contributes to each fixed-length training sequence it
    * crosses. Output per (doc, sequence) intersection:
    * (idCol, n_tokens, seq_id, seq_start, doc_start, span_len) — enough
    * to materialize every sequence by gathering its spans, and to build
    * attention-boundary masks from the span edges.
    *
    * Scale shape: the only shuffles are [[packOffsets]]'s two-level
    * bucket cumsum (no global single-reducer window); the span explode is
    * a pure map afterwards, bounded per doc by ⌈n_tokens/seqLen⌉ + 1
    * output rows. Empty docs (0 tokens) contribute no spans and drop out,
    * like they do from a packed corpus.
    */
  def packSpans(df: DataFrame, idCol: String, textCol: String,
                seqLen: Long, bucketWidth: Long): DataFrame = {
    require(seqLen > 0 && bucketWidth > 0)
    val offs = packOffsets(df, idCol, textCol, seqLen, bucketWidth)
      .where(col("n_tokens") > 0)
    val end = col("start_offset") + col("n_tokens")
    val lastChunk = ((end - 1) - pmod(end - 1, lit(seqLen))) / lit(seqLen)
    offs
      .select(col(idCol), col("n_tokens"), col("start_offset"),
        explode(sequence(col("chunk_id"), lastChunk.cast("long"))).as("seq_id"))
      .select(col(idCol), col("n_tokens"), col("seq_id"),
        greatest(col("start_offset"), col("seq_id") * seqLen).as("__gs"),
        least(col("start_offset") + col("n_tokens"),
          (col("seq_id") + 1) * seqLen).as("__ge"),
        col("start_offset"))
      .select(col(idCol), col("n_tokens"), col("seq_id"),
        (col("__gs") - col("seq_id") * seqLen).as("seq_start"),
        (col("__gs") - col("start_offset")).as("doc_start"),
        (col("__ge") - col("__gs")).as("span_len"))
  }

  /** Exactly `k` rows per stratum, deterministically: rank rows inside
    * each stratum by `md5(stratum ‖ ":" ‖ key)` (key as tiebreak) and
    * keep the `k` smallest. One shuffle on the stratum key; the hash
    * order makes the choice reproducible across runs and cluster sizes,
    * unlike `TABLESAMPLE`/`rand()`. Strata with fewer than `k` rows keep
    * everything. Hot strata: the per-stratum sort is a top-k heap per
    * partition post-AQE, not a full sort, as long as k is small.
    */
  def exactKPerStratum(df: DataFrame, strataCol: String, keyCol: String,
                       k: Int): DataFrame = {
    require(k > 0)
    val h = md5(concat(col(strataCol), lit(":"), col(keyCol).cast("string")))
    df.withColumn("__rk",
        row_number().over(Window.partitionBy(col(strataCol)).orderBy(h, col(keyCol))))
      .where(col("__rk") <= k)
      .drop("__rk")
  }

  /** Deterministic, map-only stratified sampling: a row survives iff the
    * first hex digit of `md5(stratum ‖ ":" ‖ key)` falls below its
    * stratum's per-16 rate. No RNG state, no shuffle, no coordination —
    * the same rows are selected on 1 executor or 1000, on this run or a
    * re-run — which is what makes a 100 TB subsample reproducible and
    * cheap (the filter is evaluated inside the scan, after pruning).
    *
    * `ratesPer16` maps stratum value → how many of the 16 hex buckets to
    * keep (8 = 50%, 1 = 6.25%); strata not in the map get `defaultPer16`.
    */
  def hashStratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
                           ratesPer16: Map[String, Int],
                           defaultPer16: Int = 1): DataFrame = {
    // md5 hex is lowercase, so single-char lexicographic order IS hex
    // numeric order ('0' < … < '9' < 'a' < … < 'f') — the cutoff is a
    // plain string compare in any engine.
    val hexDigits = "0123456789abcdefg" // g = index 16 = keep everything
    val bucket =
      substring(md5(concat(col(strataCol), lit(":"), col(keyCol).cast("string"))), 1, 1)
    val rate = ratesPer16.foldLeft(lit(hexDigits.charAt(defaultPer16).toString)) {
      case (acc, (stratum, per16)) =>
        when(col(strataCol) === stratum, lit(hexDigits.charAt(per16).toString)).otherwise(acc)
    }
    df.where(bucket < rate)
  }

  /** Mixture weighting (source reweighting): resample so stratum s
    * contributes ≈ `weights(s)`× its rows — the upweight-curated /
    * downweight-crawl step in front of LLM training (DoReMi-style domain
    * weights). Weights may exceed 1: each row yields ⌊w⌋ copies plus one
    * more iff the (stratum, key) hash clears the fractional part — no RNG
    * state, so the output multiset is identical on any cluster size, run,
    * or engine. Map-only (the copy explode runs inside the scan
    * projection): zero shuffles for the resample itself.
    *
    * Output = input columns + `copy_id` (0-based repeat index, so
    * downstream dedup-sensitive ops can tell repeats apart).
    */
  def mixtureWeightedSample(df: DataFrame, strataCol: String, keyCol: String,
                            weights: Map[String, Double],
                            defaultWeight: Double = 1.0): DataFrame =
    df.withColumn("copy_id",
      explode(mixtureCopyIds(col(strataCol), col(keyCol), weights, defaultWeight)))

  /** The scalar core of [[mixtureWeightedSample]]: the 0-based copy-id
    * ARRAY one row contributes under the mixture weights (null — which
    * `explode` drops — when the row contributes nothing). Exposed
    * separately so the SQL surface can call it
    * (`mixture_copy_ids(stratum, key, map('en', 2.2, …), default)` via
    * [[graft.GraftSession.registerFunctions]]):
    * `SELECT d.*, copy_id FROM docs d
    *  LATERAL VIEW explode(mixture_copy_ids(lang, doc_id,
    *    map('en', 2.2), 1.0)) t AS copy_id`.
    */
  def mixtureCopyIds(stratum: Column, key: Column,
                     weights: Map[String, Double],
                     defaultWeight: Double = 1.0): Column = {
    (weights.values ++ Seq(defaultWeight)).foreach(w =>
      require(w >= 0 && w < 1000, s"weight out of range [0, 1000): $w"))
    // fractional part as an 8-hex-char cutoff: md5 hex is lowercase, so a
    // fixed-length string compare IS the numeric compare in any engine
    def cutoffHex(w: Double): String =
      f"${math.floor((w - math.floor(w)) * 4294967296.0).toLong}%08x"
    val whole = weights.foldLeft(lit(math.floor(defaultWeight).toLong)) {
      case (acc, (s, w)) =>
        when(stratum === s, lit(math.floor(w).toLong)).otherwise(acc)
    }
    val cutoff = weights.foldLeft(lit(cutoffHex(defaultWeight))) {
      case (acc, (s, w)) =>
        when(stratum === s, lit(cutoffHex(w))).otherwise(acc)
    }
    // Hash input is an UNAMBIGUOUS encoding of (stratum, key)
    // ([[encodeForHash]]): each side is length-prefixed so values
    // containing the separator cannot alias ("a:1"|"b" vs "a"|"1:b"),
    // and null encodes as a sentinel no value encoding can collide with
    // — null rows still hash, so they get the fractional extra at the
    // DEFAULT weight's rate instead of being silently denied it by
    // md5(null).
    val h8 = substring(md5(concat(
      encodeForHash(stratum), lit("|"), encodeForHash(key))), 1, 8)
    val n = whole + when(h8 < cutoff, 1L).otherwise(0L)
    when(n > 0, sequence(lit(0L), n - 1)).otherwise(lit(null))
  }

  /** Temperature-based mixture rebalancing (the multilingual α-sampling
    * of mBERT/XLM-R, Conneau et al. 2020): stratum s with empirical share
    * `p_s = n_s/N` is resampled toward `q_s = p_s^α / Σ_t p_t^α` — α→1
    * keeps the corpus as-is, α→0 flattens toward uniform, lifting
    * low-resource strata without hand-tuned weights. Returns the
    * per-stratum plan: `weight = q_s/p_s` is exactly the multiplier
    * [[mixtureWeightedSample]] consumes downstream.
    *
    * Shuffle profile: ONE count aggregation (map-side partials); every
    * later quantity lives on the #strata-row table (a broadcast-sized
    * frame at any corpus size). The α-power is the one transcendental:
    * its ulp is absorbed by round-9 like every libm call in this module;
    * the normalizer Σ p^α accumulates in DECIMAL so stratum order can't
    * flip bits.
    *
    * @return (strataCol, n_rows, p, q, weight) — p/q/weight rounded 9
    */
  def temperatureMixture(df: DataFrame, strataCol: String,
                         alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0, 1]: $alpha")
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n_rows"))
    val total = counts.agg(sum(col("n_rows")).as("__N"))
    val withP = counts.crossJoin(broadcast(total))
      .withColumn("__p", col("n_rows").cast("double") / col("__N").cast("double"))
      .withColumn("__s", pow(col("__p"), lit(alpha)))
    val z = withP.agg(
      sum(col("__s").cast(DecimalType(30, 15))).cast("double").as("__Z"))
    withP.crossJoin(broadcast(z))
      .select(col(strataCol), col("n_rows"),
        round(col("__p"), 9).as("p"),
        round(col("__s") / col("__Z"), 9).as("q"),
        round(col("__s") / col("__Z") / col("__p"), 9).as("weight"))
  }

  /** [[temperatureMixture]] composed with [[mixtureWeightedSample]]: the
    * α-derived per-stratum weights (a #strata-sized driver map — the
    * centroid/codebook discipline) drive the deterministic copy-explode
    * resample. Output multiset is reproducible on any cluster size.
    */
  def temperatureSample(df: DataFrame, strataCol: String, keyCol: String,
                        alpha: Double): DataFrame = {
    val weights = temperatureMixture(df, strataCol, alpha)
      .select(col(strataCol).cast("string"), col("weight"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    mixtureWeightedSample(df, strataCol, keyCol, weights, defaultWeight = 1.0)
  }

  /** Weight-proportional source interleaving — the ordering stage that
    * follows [[mixtureWeightedSample]]: assign every row a deterministic
    * `interleave_pos` such that reading in position order yields each
    * source at a rate ∝ its weight, evenly spread rather than clumped
    * (the "shuffle the mixture" step before sequence packing). Row r of
    * a weight-w source lands at (r − 0.5) / w — the classic stride
    * interleave — with r a deterministic md5-ranked position inside the
    * source, so the order is reproducible on any cluster size.
    *
    * Scale shape: the in-source rank is the same two-level decomposition
    * as [[packOffsets]] — a window partitioned ONLY by the source column
    * would funnel each source's entire row set (≈20 TB/source at 100 TB
    * with a handful of langs) through one task. Instead rows bucket on
    * the first two hex chars of the rank hash (256 buckets/source; the
    * bucket is a PREFIX of the hash, so ordering by (bucket, hash) IS
    * ordering by hash and the output is bit-identical), per-(source,
    * bucket) counts prefix-sum in one tiny #source×256-row stage,
    * base offsets broadcast back, and `row_number` runs within (source,
    * bucket) — every data-sized stage is parallel. The position column
    * is then the range-partition / sort key for the ordered write (same
    * write-side pattern as [[graft.functions.Layout]] z-ordering).
    */
  def interleaveByWeight(df: DataFrame, sourceCol: String, keyCol: String,
                         weights: Map[String, Double],
                         defaultWeight: Double = 1.0): DataFrame = {
    (weights.values ++ Seq(defaultWeight)).foreach(w =>
      require(w > 0, s"interleave weights must be positive: $w"))
    val w = weights.foldLeft(lit(defaultWeight)) {
      case (acc, (s, v)) => when(col(sourceCol) === s, lit(v)).otherwise(acc)
    }
    val h = md5(concat(col(sourceCol), lit(":"), col(keyCol).cast("string")))
    val withB = df
      .withColumn("__h", h)
      .withColumn("__b", substring(col("__h"), 1, 2))
    // Per-(source, bucket) counts → within-source exclusive prefix sums.
    // The running sum is a single-partition window over the tiny counts
    // table (≤ #sources × 256 rows), ordered (source, bucket); each
    // source's base (= global running sum at its first bucket) is
    // subtracted back out via a groupBy — deliberately NOT a window
    // partitioned by the bare source column, so no plan stage anywhere in
    // this operator keys on source alone.
    val counts = withB.groupBy(col(sourceCol), col("__b"))
      .agg(count(lit(1)).as("__cnt"))
    val cumAll = coalesce(sum(col("__cnt")).over(
      Window.orderBy(col(sourceCol), col("__b"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    val counts2 = counts.select(col(sourceCol), col("__b"), cumAll.as("__cum"))
    val bases = counts2.groupBy(col(sourceCol)).agg(min(col("__cum")).as("__base"))
    val offsets = counts2.join(bases, sourceCol)
      .select(col(sourceCol), col("__b"), (col("__cum") - col("__base")).as("__boff"))
    val rIn = row_number().over(
      Window.partitionBy(col(sourceCol), col("__b")).orderBy(col("__h"), col(keyCol)))
    val r = col("__boff") + rIn
    withB.join(broadcast(offsets), Seq(sourceCol, "__b"))
      .withColumn("interleave_pos", (r.cast("double") - lit(0.5)) / w)
      .select(df.columns.map(col) :+ col("interleave_pos"): _*)
  }

  /** Deterministic train/val/test split assignment: each row gets a split
    * label decided by the first 4 hex chars of `md5(enc(key))` (a 16-bit
    * bucket) against cumulative fraction cutoffs — map-only, no RNG
    * state, so the SAME rows land in the same split on any cluster size,
    * re-run, or engine (the property that keeps eval sets stable across
    * pipeline reruns — `rand()` splits silently reshuffle contamination
    * into train). Key encoding is the same length-prefixed form as
    * [[mixtureCopyIds]] (null-safe, separator-safe).
    *
    * `splits` = (label, fraction) in order; fractions must sum to 1
    * (±1e-9). The last label takes the open-ended remainder, so every
    * row gets exactly one label. Realized proportions are exact to
    * 1/65536 per boundary, not sampled.
    */
  def hashSplit(df: DataFrame, keyCol: String,
                splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty, "at least one split required")
    splits.foreach { case (n, f) =>
      require(f > 0 && f <= 1, s"split $n fraction out of (0, 1]: $f") }
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${splits.map(_._2).sum}")
    val h4 = substring(md5(encodeForHash(col(keyCol))), 1, 4)
    val cuts = splits.init.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
      .map(c => f"${math.round(c * 65536).toInt}%04x")
    val label = splits.init.zip(cuts).foldRight(lit(splits.last._1): Column) {
      case (((name, _), cut), acc) => when(h4 < cut, name).otherwise(acc)
    }
    df.withColumn("split", label)
  }

  /** Rendezvous (highest-random-weight) sharding — Thaler & Ravishankar
    * 1998, the stable-resharding primitive modulo-hashing lacks: each
    * key lands on `argmax_i md5(key # i)`, so growing `nShards` by one
    * moves EXACTLY the keys the new shard wins (≈ 1/(n+1) of them) and
    * moves them ONLY to the new shard — every other key's argmax is
    * unchanged by adding a candidate it didn't pick. Re-sharding a
    * 100 TB corpus from N to N+k nodes therefore rewrites k/(N+k) of
    * the data instead of nearly all of it (modulo re-mapping moves
    * 1 − 1/lcm-ish, in practice almost everything). Both properties
    * are spec-pinned exactly, not approximately.
    *
    * Hashing is the engine's portable convention ([[hashSplit]] /
    * [[graft.functions.Stats.kmvSketch]]): length-prefixed key
    * encoding, md5 hex compared lexicographically (≡ numerically) —
    * any ANSI engine derives the identical shard, which is what makes
    * the assignment usable as a cross-system contract (the
    * x_shard oracle recomputes it in DuckDB bit-for-bit).
    *
    * Scale shape: map-only projection — an nShards-element array of
    * (hash, i) structs folded to its max per row; no shuffle, no
    * state. nShards is bounded (≤ 4096) because the per-row work is
    * linear in it — rendezvous is for NODE counts, not key counts.
    */
  def rendezvousShard(df: DataFrame, keyCol: String, nShards: Int,
                      outCol: String = "shard"): DataFrame = {
    require(nShards >= 1 && nShards <= 4096,
      s"nShards must be in [1, 4096]: $nShards")
    val enc = encodeForHash(col(keyCol))
    val weights = transform(sequence(lit(0), lit(nShards - 1)), i =>
      struct(md5(concat(enc, lit("#"), i.cast("string"))).as("h"),
        i.cast("int").as("s")))
    df.withColumn(outCol, array_max(weights).getField("s"))
  }

  /** Purged temporal split — the time-series counterpart of
    * [[leakSafeSplit]] (de Prado's purged walk-forward convention):
    * rows before `cutoffUs` train, rows at/after it evaluate, EXCEPT
    * that each key's earliest eval rows are EMBARGOED while they sit
    * within `embargoUs` of that key's LAST training row — the buffer
    * that stops near-boundary temporal leakage (a user's behavior at
    * cutoff+1µs is effectively the training row at cutoff−1µs). The
    * embargo is PER KEY, anchored at the key's own last train
    * timestamp, not a global band — a key idle for a month before the
    * cutoff gets no dead zone it doesn't need. Adds `split` ∈
    * ('train' | 'eval' | 'embargoed'); null-ts rows get a null split
    * (no position in time — the engine-wide convention). Exact integer
    * microseconds throughout.
    *
    * Scale shape: one key-keyed MAX aggregation over the train side
    * (map-side partials, key-sized output) joined back on the key
    * (broadcast when small); everything else is a map-side predicate.
    */
  def temporalSplit(df: DataFrame, keyCol: String, tsCol: String,
                    cutoffUs: Long, embargoUs: Long): DataFrame = {
    // upper bound: `__last + embargoUs` must not wrap Long — a wrapped
    // negative bound would silently label every embargoed row 'eval',
    // the exact leakage this operator exists to prevent. 2^61 µs is
    // ~73k years: every real embargo fits, every overflow is caught.
    require(embargoUs >= 0 && embargoUs < (1L << 61),
      s"embargo out of range [0, 2^61): $embargoUs")
    val us = unix_micros(col(tsCol))
    val lastTrain = df.where(us.isNotNull && us < cutoffUs)
      .groupBy(col(keyCol).as("__k"))
      .agg(max(unix_micros(col(tsCol))).as("__last"))
    df.join(lastTrain, df(keyCol) === lastTrain("__k"), "left")
      .drop("__k")
      .withColumn("split",
        when(us.isNull, lit(null).cast("string"))
          .when(us < cutoffUs, lit("train"))
          .when(col("__last").isNotNull && us < col("__last") + embargoUs,
            lit("embargoed"))
          .otherwise(lit("eval")))
      .drop("__last")
  }

  /** Leakage-safe split: [[hashSplit]] keyed on the near-duplicate
    * CLUSTER instead of the document — a near-dup pair straddling
    * train/test is evaluation leakage (the model is scored on a
    * paraphrase of its training data), so every document splits by its
    * connected-component representative (min id;
    * [[graft.functions.Dedup.connectedComponents]] over any pair stream
    * — MinHash, SemDeDup, fingerprints) and whole clusters land on one
    * side. Documents in no pair represent themselves.
    *
    * Deterministic and repartition/rerun-invariant like [[hashSplit]];
    * the only data-sized stages are the component rounds (O(log d)
    * pointer-jumping, inherited) and one left join of docs to the
    * (pair-participant-sized, usually far smaller) label table.
    */
  def leakSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                    splits: Seq[(String, Double)]): DataFrame = {
    val comp = graft.functions.Dedup.connectedComponents(pairs)
      .select(col("id").as("__cid"), col("label").as("__rep"))
    val withKey = df
      .join(comp, col(idCol).cast("long") === col("__cid"), "left")
      .select(df.columns.map(col) :+
        coalesce(col("__rep"), col(idCol).cast("long")).as("__splitkey"): _*)
    hashSplit(withKey, "__splitkey", splits)
      .drop("__splitkey", "__cid", "__rep")
  }

  /** Duplicate-substring span removal — the substring-granular exact
    * dedup of Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better", the ExactSubstr pass), re-expressed for a
    * shuffle-bounded engine. The published operator finds every substring
    * of ≥ 50 tokens that occurs more than once in the corpus (counting
    * repeats WITHIN a document) and deletes every occurrence; the
    * published implementation is a single-machine suffix array, which has
    * no distributed analogue with bounded state. This pass gets the same
    * decision from content-defined anchors:
    *
    *  - every position `s` whose `k`-gram `text[s, s+k)` hashes under a
    *    selection cutoff is an ANCHOR — selection depends only on the
    *    gram's content, so a duplicated region anchors at the SAME
    *    content-relative positions in every copy, regardless of how the
    *    copies are offset (the failure mode of stride-aligned windows);
    *  - an anchor gram occurring ≥ `minCount` times corpus-wide (exact
    *    string confirm, same hash-nominates/string-decides discipline as
    *    [[removeFrequentUnits]]) marks all its occurrences duplicated;
    *  - per document, duplicated anchors ≤ `maxGap` apart merge into
    *    spans `[first, last + k)`, which are cut from `clean_text`.
    *
    * Detection is probabilistic where the suffix array is exact: with
    * anchor density `1/p`, a duplicated region of length `L` is missed
    * iff none of its `L − k + 1` grams selects, ≈ `(1 − 1/p)^(L−k+1)` —
    * at the production default p=32, a 250-char region (Lee et al.'s
    * 50-token threshold) is missed with probability < 0.04 %, and span
    * boundaries are resolved to within one expected anchor gap. The
    * trade bounds the shuffle: anchors sample `1/p` of positions, so the
    * frequency stage exchanges ≈ 20 bytes per `p` corpus characters —
    * tunable CPU/recall vs shuffle, where stride-`1` windowing (the
    * exact-sensitivity configuration) would exchange 20 bytes per
    * character, 20× the corpus.
    *
    * Scale shape: anchor extraction is a pure map (array HOFs inside the
    * scan projection); occurrence counting aggregates 8-byte gram hashes
    * with map-side partials; the frequent set is boilerplate-sized and
    * broadcasts into the marking join; span merging windows on the doc
    * id. Document bodies never shuffle — `clean_text` is rebuilt by
    * cutting spans on a doc-id join back to the input, and the spans
    * side carries only (id, s0, e0) triples.
    *
    * Output per input row: (idCol, spans `array<struct<s0,e0>>` —
    * disjoint, sorted, char offsets, `maxGap ≥ k` keeps them disjoint —
    * n_spans, n_dup_anchors, dup_chars, clean_len, clean_text).
    *
    * All occurrences are removed, the published ExactSubstr behavior (a
    * keep-one-copy policy is a different operator — [[removeFrequentUnits]]
    * keeps nothing, exact doc dedup keeps min-id; this one matches the
    * paper). Like every gate here, rows are flagged, never dropped.
    */
  def dedupSubstrings(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 24, anchorDensity: Int = 32,
                      maxGap: Int = 256, minCount: Long = 2): DataFrame =
    dedupSubstringsImpl(df, idCol, textCol, k, maxGap, minCount,
      t => graft.plans.HashExpressions.xxModAnchors(t, k, anchorDensity))

  /** [[dedupSubstrings]] with the anchor selection any ANSI engine can
    * reproduce — a gram anchors iff the first two hex chars of its md5
    * sort below `cutoffHex` (density = cutoffHex/256, i.e. position `s`
    * anchors iff `substr(md5(substr(text, s+1, k)), 1, 2) < cutoffHex`) —
    * so the whole pass is oracle-checkable cross-engine. Same
    * md5-prefix-cutoff discipline as the mixture sampler's copy cutoffs.
    * The xxhash64 default is the production path (one 64-bit mix per
    * gram vs a full md5); decisions differ only in WHICH grams anchor,
    * not in the exactness of the duplicate confirm.
    */
  def dedupSubstringsPortable(df: DataFrame, idCol: String, textCol: String,
                              k: Int = 20, cutoffHex: String = "10",
                              maxGap: Int = 100, minCount: Long = 2): DataFrame = {
    val cutoff = Integer.parseInt(cutoffHex, 16)
    dedupSubstringsImpl(df, idCol, textCol, k, maxGap, minCount,
      t => graft.plans.HashExpressions.md5PrefixAnchors(t, k, cutoff))
  }

  private def dedupSubstringsImpl(df: DataFrame, idCol: String,
      textCol: String, k: Int, maxGap: Int, minCount: Long,
      anchorsOf: Column => Column): DataFrame = {
    require(k >= 2, s"gram length too short to be selective: $k")
    require(maxGap >= k,
      s"maxGap ($maxGap) < k ($k) would let merged spans overlap")
    require(minCount >= 2, s"minCount < 2 would delete every anchor: $minCount")
    val id = col(idCol)
    val txt = coalesce(col(textCol), lit(""))
    // anchor positions: one compiled pass per document (native
    // expression), not a per-position interpreted HOF
    val anchors = anchorsOf(txt)
    // The anchor table feeds three consumers (hash census, exact-string
    // recount, span-marking semi-join) and is deliberately NOT
    // snapshotted, unlike removeFrequentUnits' units: anchors are
    // k-gram strings at ~1/density of corpus bytes, so materializing
    // them costs about a corpus copy while re-running the compiled
    // anchor map is cheap — measured at sf0.1, snapshotting was a wash
    // (2.3 → 2.5 s). Callers whose upstream is more than a scan should
    // materialize THAT before calling.
    val a = df
      .select(id, explode(anchors).as("__s"), txt.as("__t"))
      .select(id, col("__s"), col("__t").substr(col("__s") + 1, lit(k)).as("__w"))
      .withColumn("__wh", xxhash64(col("__w")))
    // occurrence count on the 8-byte hash nominates; exact-string recount
    // over candidate occurrences only decides (collision never deletes)
    val candidateHashes = a
      .groupBy(col("__wh")).agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minCount)
      .select(col("__wh"))
    val frequent = a
      .join(candidateHashes, Seq("__wh"), "left_semi")
      .groupBy(col("__wh"), col("__w"))
      .agg(count(lit(1)).as("__nx"))
      .where(col("__nx") >= minCount)
      .select(col("__wh"), col("__w"))
    val dup = a
      .join(frequent, Seq("__wh", "__w"), "left_semi")
      .select(id, col("__s"))
    spanCutOutput(df, idCol, textCol, dup, k, maxGap,
      anchorsName = "n_dup_anchors", charsName = "dup_chars")
  }

  /** Span-level benchmark decontamination — [[dedupSubstrings]]' anchor
    * machinery pointed at an external reference set: spans of `df`
    * (training corpus) that appear VERBATIM in `ref` (benchmark /
    * holdout) are marked and cut, telling you exactly WHAT leaked and
    * producing surgically-cleaned text — where [[decontaminate]] flags
    * whole documents, this removes just the contaminated regions.
    *
    * Anchors are content-defined on BOTH sides (same selector), so a
    * shared region anchors at the same content-relative offsets in the
    * corpus and the benchmark regardless of alignment. A train anchor is
    * contaminated iff its (hash, gram STRING) pair occurs among the
    * benchmark's anchors — string equality required, so a 64-bit
    * collision can never cut clean text. Miss probability for a shared
    * region of length L is ≈ (1−1/p)^(L−k+1), the [[dedupSubstrings]]
    * trade.
    *
    * Scale shape: benchmark-side anchors collapse to a DISTINCT
    * (hash, gram) vocabulary — benchmarks are small by premise, so that
    * set broadcasts into the marking join; corpus-side anchors never
    * carry document bodies, and the rebuild is the one doc-id join.
    *
    * @return (idCol, spans, n_spans, n_contam_anchors, contam_chars,
    *         clean_len, clean_text)
    */
  def contaminationSpans(df: DataFrame, idCol: String, textCol: String,
                         ref: DataFrame, refTextCol: String,
                         k: Int = 24, anchorDensity: Int = 32,
                         maxGap: Int = 256): DataFrame =
    contaminationSpansImpl(df, idCol, textCol, ref, refTextCol, k, maxGap,
      t => graft.plans.HashExpressions.xxModAnchors(t, k, anchorDensity))

  /** [[contaminationSpans]] with the md5-prefix anchor selection any ANSI
    * engine reproduces (density = cutoffHex/256) — the oracle-checkable
    * variant, same split as [[dedupSubstringsPortable]].
    */
  def contaminationSpansPortable(df: DataFrame, idCol: String, textCol: String,
                                 ref: DataFrame, refTextCol: String,
                                 k: Int = 20, cutoffHex: String = "10",
                                 maxGap: Int = 100): DataFrame = {
    val cutoff = Integer.parseInt(cutoffHex, 16)
    contaminationSpansImpl(df, idCol, textCol, ref, refTextCol, k, maxGap,
      t => graft.plans.HashExpressions.md5PrefixAnchors(t, k, cutoff))
  }

  private def contaminationSpansImpl(df: DataFrame, idCol: String,
      textCol: String, ref: DataFrame, refTextCol: String,
      k: Int, maxGap: Int, anchorsOf: Column => Column): DataFrame = {
    require(k >= 2, s"gram length too short to be selective: $k")
    require(maxGap >= k,
      s"maxGap ($maxGap) < k ($k) would let merged spans overlap")
    val id = col(idCol)
    val txt = coalesce(col(textCol), lit(""))
    val a = df
      .select(id, explode(anchorsOf(txt)).as("__s"), txt.as("__t"))
      .select(id, col("__s"),
        col("__t").substr(col("__s") + 1, lit(k)).as("__w"))
      .withColumn("__wh", xxhash64(col("__w")))
    val refTxt = coalesce(col(refTextCol), lit(""))
    // benchmark anchor vocabulary: distinct (hash, gram) — gram string
    // kept so the marking join requires exact equality, never hash alone
    val refVocab = ref
      .select(explode(anchorsOf(refTxt)).as("__s"), refTxt.as("__t"))
      .select(col("__t").substr(col("__s") + 1, lit(k)).as("__w"))
      .withColumn("__wh", xxhash64(col("__w")))
      .select(col("__wh"), col("__w"))
      .distinct()
    val dup = a
      .join(broadcast(refVocab), Seq("__wh", "__w"), "left_semi")
      .select(id, col("__s"))
    spanCutOutput(df, idCol, textCol, dup, k, maxGap,
      anchorsName = "n_contam_anchors", charsName = "contam_chars")
  }

  /** Shared tail of the span-marking operators: merge marked anchor
    * positions (`dup` = (idCol, __s)) into disjoint spans, compute
    * per-doc stats, and cut the spans from the text — every input row
    * preserved.
    */
  private def spanCutOutput(df: DataFrame, idCol: String, textCol: String,
      dup: DataFrame, k: Int, maxGap: Int,
      anchorsName: String, charsName: String): DataFrame = {
    val id = col(idCol)
    val txt = coalesce(col(textCol), lit(""))
    // merge anchors ≤ maxGap apart into runs, runs into spans
    val byDoc = Window.partitionBy(id).orderBy(col("__s"))
    val runs = dup
      .withColumn("__gap", col("__s") - lag(col("__s"), 1).over(byDoc))
      .withColumn("__run",
        sum(when(col("__gap").isNull || col("__gap") > maxGap, 1)
          .otherwise(0)).over(byDoc))
    val spans = runs
      .groupBy(id, col("__run"))
      .agg(min(col("__s")).as("__s0"),
        (max(col("__s")) + k).as("__e0"),
        count(lit(1)).as("__na"))
    val docStats = spans
      .groupBy(id)
      .agg(
        sort_array(collect_list(struct(col("__s0").as("s0"), col("__e0").as("e0"))))
          .as("spans"),
        count(lit(1)).as("n_spans"),
        sum(col("__na")).as(anchorsName),
        sum(col("__e0") - col("__s0")).cast("long").as(charsName))
    val empty = array().cast("array<struct<s0:int,e0:int>>")
    val joined = df.select(id, txt.as("__t"))
      .join(docStats, Seq(idCol), "left")
      .select(id, col("__t"),
        coalesce(col("spans"), empty).as("spans"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col(anchorsName), lit(0L)).as(anchorsName),
        coalesce(col(charsName), lit(0L)).as(charsName))
    // cut the (disjoint, sorted) spans in one fold over the spans array
    val cut = aggregate(
      col("spans"),
      struct(lit(0).as("p"), lit("").as("a")),
      (acc, sp) => struct(
        sp.getField("e0").as("p"),
        concat(acc.getField("a"),
          col("__t").substr(acc.getField("p") + 1,
            sp.getField("s0") - acc.getField("p"))).as("a")),
      acc => concat(acc.getField("a"),
        col("__t").substr(acc.getField("p") + 1,
          length(col("__t")) - acc.getField("p"))))
    joined.select(id, col("spans"), col("n_spans"), col(anchorsName),
      col(charsName),
      (length(col("__t")) - col(charsName)).cast("long").as("clean_len"),
      cut.as("clean_text"))
  }

  /** Frequent-unit removal — the cross-document boilerplate filter of
    * C4/MassiveText-style curation: any text UNIT occurring in at least
    * `minDf` DISTINCT documents (navigation bars, cookie banners, license
    * headers) is deleted from every document that contains it. `unitsCol`
    * is an `array<string>` decomposition of the document — `split(text,
    * "\n")` where real lines exist, [[TextFunctions.wordSpans]] on
    * line-less corpora — and unit order is positional: surviving units
    * rebuild in their original order, joined by `joiner`.
    *
    * Scale shape (all scans column-pruned; document bodies shuffle ONCE):
    *  - document frequency aggregates on the 8-byte `xxhash64` of each
    *    unit — unit STRINGS never shuffle in the counting stage, and the
    *    count-distinct runs as Spark's two-phase partial aggregate;
    *  - the frequent set (df ≥ `minDf`) is the boilerplate vocabulary,
    *    not corpus-sized — it is the small side of the anti-join and AQE
    *    broadcasts it when it fits;
    *  - surviving (id, pos, unit) rows regroup by document id to rebuild
    *    the text — the one body-sized exchange;
    *  - documents whose units were ALL removed (or that had none) are
    *    restored by a left join from the id+unit-count projection, so the
    *    output doc set is exactly the input doc set.
    *
    * Deletion requires EXACT string equality, not just hash equality: the
    * hash-df count (8-byte keys, no strings in the shuffle) nominates
    * candidate hashes, then the df of each candidate (hash, string) pair
    * is recounted exactly and only pairs independently reaching `minDf`
    * delete. A 64-bit collision between a rare unit and boilerplate can
    * therefore never delete the rare unit — at 100 TB with billions of
    * distinct units the birthday risk is real. The recount's input is
    * semi-join-restricted to occurrences of candidate hashes, i.e. it
    * shuffles only (boilerplate-volume) strings, with map-side combine
    * collapsing the heavy repeats.
    *
    * @return (idCol, clean_text, n_units_removed)
    */
  def removeFrequentUnits(df: DataFrame, idCol: String, unitsCol: Column,
                          minDf: Long, joiner: String = " "): DataFrame =
    removeFrequentUnitsWithHash(df, idCol, unitsCol, minDf, joiner, xxhash64(_))

  /** [[removeFrequentUnits]] with an injectable unit-hash — exists so the
    * collision spec can plant hash collisions with a weak hash and prove
    * the exact-string confirm protects rare units; production callers use
    * the xxhash64 default.
    */
  private[graft] def removeFrequentUnitsWithHash(
      df: DataFrame, idCol: String, unitsCol: Column, minDf: Long,
      joiner: String, unitHash: Column => Column): DataFrame = {
    require(minDf >= 2, s"minDf < 2 would delete every unit: $minDf")
    // units feeds THREE consumers (hash-df census, exact-string confirm,
    // the anti-join rebuild) — snapshot it once so the body-sized
    // explode doesn't replay the caller's upstream per consumer (the
    // associationPairs/spearman discipline; measured 3.8 → 3.2 s at
    // sf0.1 for x_line_dedup). Cost at 100 TB: one exploded-units
    // materialization vs three full re-scans of the upstream — the
    // snapshot wins whenever the upstream is more than a bare scan.
    val unitsPlan = df
      .select(col(idCol), posexplode(unitsCol).as(Seq("__pos", "__u")))
      .withColumn("__uh", unitHash(col("__u")))
    val units = Snapshots.snapshot(unitsPlan)
    val frequentHashes = units
      .groupBy(col("__uh")).agg(count_distinct(col(idCol)).as("__df"))
      .where(col("__df") >= minDf)
      .select(col("__uh"))
    // exact-string confirm: recount df per (hash, string) over the
    // candidate occurrences only; a pair deletes iff IT reaches minDf
    val frequent = units
      .join(frequentHashes, Seq("__uh"), "left_semi")
      .groupBy(col("__uh"), col("__u"))
      .agg(count_distinct(col(idCol)).as("__dfx"))
      .where(col("__dfx") >= minDf)
      .select(col("__uh"), col("__u"))
    val rebuilt = units.join(frequent, Seq("__uh", "__u"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("__pos"), col("__u")))),
            x => x.getField("__u")), joiner).as("clean_text"),
        count(lit(1)).as("__nkept"))
    df.select(col(idCol), coalesce(size(unitsCol), lit(0)).cast("long").as("__ntot"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("__ntot") - coalesce(col("__nkept"), lit(0L))).as("n_units_removed"))
  }

  /** Greedy selection under a global cost budget — "keep the best
    * documents until the token budget is spent", the step that turns a
    * scored corpus into a right-sized training set. Rows order by
    * (`scoreCol` DESC, `idCol` ASC as the deterministic tiebreak) and a
    * row is `selected` iff its inclusive running `costCol` sum stays
    * ≤ `budget`; with non-negative costs the running sum is monotone, so
    * the selection is exactly the maximal affordable prefix of the
    * quality ranking. Output = input columns + `cum_cost` + `selected`
    * (every row kept, flagged — filtering is the caller's one-liner).
    *
    * A bare `SUM(cost) OVER (ORDER BY score DESC)` is a single-reducer
    * global window — the same scale-killer [[packOffsets]] documents. The
    * running sum here is the same two-level decomposition, with the
    * bucket a MONOTONE function of the sort key so bucket order is a
    * prefix of the global order: scores clamp-floor into `nBuckets`
    * fixed ranges of [0, 1], per-bucket cost totals prefix-sum in one
    * tiny `nBuckets`-row stage (descending — best bucket first), base
    * offsets broadcast back, and the within-bucket running sum windows on
    * (bucket) — every data-sized stage parallel. Ties across a bucket
    * boundary cannot happen (equal scores share a bucket), so the
    * decomposed sum is bit-identical to the global window.
    *
    * Scores are expected in [0, 1] (e.g. [[TextFunctions.qualityScore]]);
    * out-of-range scores clamp into the edge buckets and only cost
    * balance, never correctness. Null scores sort last (bucket 0,
    * NULLS LAST within). Negative costs break the monotone-prefix
    * reading of `selected` — costs are token/byte counts, keep them ≥ 0.
    */
  def budgetSelect(df: DataFrame, idCol: String, scoreCol: Column,
                   costCol: Column, budget: Long,
                   nBuckets: Int = 256): DataFrame = {
    require(budget >= 0, s"negative budget: $budget")
    require(nBuckets > 0, s"need at least one bucket: $nBuckets")
    val base = df
      .withColumn("__score", scoreCol.cast("double"))
      .withColumn("__cost", costCol.cast("long"))
      .withColumn("__bk",
        when(col("__score").isNull, lit(0)).otherwise(
          least(greatest(floor(col("__score") * nBuckets), lit(0.0)),
            lit((nBuckets - 1).toDouble)).cast("int")))
    val bases = base.groupBy(col("__bk")).agg(sum(col("__cost")).as("__btot"))
      .select(col("__bk"),
        coalesce(sum(col("__btot")).over(
          Window.orderBy(col("__bk").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__boff"))
    val inBucket = Window.partitionBy(col("__bk"))
      .orderBy(col("__score").desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = col("__boff") + sum(col("__cost")).over(inBucket)
    base.join(broadcast(bases), Seq("__bk"))
      .withColumn("cum_cost", cum)
      .withColumn("selected", col("cum_cost") <= budget)
      .select(df.columns.map(col) :+ col("cum_cost") :+ col("selected"): _*)
  }

  /** [[budgetSelect]] with PER-GROUP budgets — the data-mixing variant:
    * "the best documents per language/source until THAT group's token
    * budget is spent" (per-source caps are how mixture targets become
    * selections). Same two-level monotone-bucket decomposition, with the
    * group key added to every partitioning: per-(group, bucket) totals
    * prefix-sum in a #groups × nBuckets grid stage, and the data-sized
    * window keys on (group, bucket) — per-group order is total, no
    * single-reducer stage, groups select independently in one pass.
    *
    * `budgets` maps group value → token budget; absent groups get
    * `defaultBudget` (0 = select nothing — absent means unwanted).
    * Output = input + (cum_cost, selected), cum_cost the within-group
    * running cost in (score DESC, id) order.
    */
  def budgetSelectPerGroup(df: DataFrame, idCol: String, groupCol: String,
                           scoreCol: Column, costCol: Column,
                           budgets: Map[String, Long],
                           defaultBudget: Long = 0L,
                           nBuckets: Int = 256): DataFrame = {
    require(budgets.values.forall(_ >= 0) && defaultBudget >= 0,
      "negative budget")
    require(nBuckets > 0, s"need at least one bucket: $nBuckets")
    val base = df
      .withColumn("__score", scoreCol.cast("double"))
      .withColumn("__cost", costCol.cast("long"))
      .withColumn("__bk",
        when(col("__score").isNull, lit(0)).otherwise(
          least(greatest(floor(col("__score") * nBuckets), lit(0.0)),
            lit((nBuckets - 1).toDouble)).cast("int")))
    val bases = base.groupBy(col(groupCol), col("__bk"))
      .agg(sum(col("__cost")).as("__btot"))
      .select(col(groupCol), col("__bk"),
        coalesce(sum(col("__btot")).over(
          Window.partitionBy(col(groupCol)).orderBy(col("__bk").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__boff"))
    val inBucket = Window.partitionBy(col(groupCol), col("__bk"))
      .orderBy(col("__score").desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = col("__boff") + sum(col("__cost")).over(inBucket)
    val budget = coalesce(
      element_at(typedLit(budgets), col(groupCol).cast("string")),
      lit(defaultBudget))
    base.join(broadcast(bases), Seq(groupCol, "__bk"))
      .withColumn("cum_cost", cum)
      .withColumn("selected", col("cum_cost") <= budget)
      .select(df.columns.map(col) :+ col("cum_cost") :+ col("selected"): _*)
  }

  /** In-engine BPE training (Sennrich et al. 2016) — [[bpePairCounts]]'
    * one statistics round taken to the full iterative algorithm: learn
    * `nMerges` merge rules from the corpus itself, the way a tokenizer
    * pipeline trains its subword vocabulary over the data it will
    * encode. Word-level BPE over plain character sequences (no
    * end-of-word marker — a documented simplification): each round
    * counts adjacent token pairs weighted by word frequency, takes the
    * most frequent pair (ties → lexicographically smallest (left,
    * right), so the learned table is deterministic and engine-
    * reproducible), and re-tokenizes by merging that pair greedily
    * left-to-right ([[graft.plans.BpeMergePair]], one compiled pass per
    * word).
    *
    * Scale shape: the corpus collapses to its word-frequency VOCABULARY
    * in one shuffle up front — every training round thereafter touches
    * only vocab-sized data (pair counts aggregate with map-side
    * partials; the argmax brings ONE row to the driver; the re-tokenize
    * is a pure map over the vocab). Rounds snapshot so lineage stays
    * flat — the [[graft.functions.Graph.pageRank]] discipline. Driver
    * state is the merge table itself (nMerges rows).
    *
    * @return (merge_rank, lhs, rhs, pair_count) — merge i was learned
    *         at rank i with that corpus-wide pair frequency
    */
  def bpeTrain(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1 && nMerges <= 4096, s"unreasonable nMerges: $nMerges")
    val spark = df.sparkSession
    def snap(d: DataFrame): DataFrame = Snapshots.snapshot(d)
    val chars = (w: Column) =>
      transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))
    var vocab = snap(df
      .select(explode(TextFunctions.tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__f"))
      .select(col("__w"), col("__f"), chars(col("__w")).as("__toks")))
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val pairsCol = when(size(col("__toks")) >= 2,
        transform(sequence(lit(0), size(col("__toks")) - 2),
          i => struct(element_at(col("__toks"), i + 1).as("l"),
            element_at(col("__toks"), i + 2).as("r"))))
        .otherwise(array().cast("array<struct<l:string,r:string>>"))
      // driver bound: ONE row per merge (limit(1)), nMerges ≤ 4096
      // round-trips total — inherent to BPE's sequential merge rule,
      // and each round's job aggregates the WORD-TYPE table (vocab
      // rows), never the corpus; at 100× the cost is nMerges × job
      // latency, not nMerges × data
      val top = vocab.select(col("__f"), explode(pairsCol).as("p"))
        .groupBy(col("p.l").as("__l"), col("p.r").as("__r"))
        .agg(sum(col("__f")).as("__cnt"))
        .orderBy(col("__cnt").desc, col("__l").asc, col("__r").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val l = top(0).getString(0)
        val rr = top(0).getString(1)
        merges += ((r, l, rr, top(0).getLong(2)))
        vocab = snap(vocab.withColumn("__toks",
          graft.plans.HashExpressions.bpeMergePair(col("__toks"), l, rr)))
        r += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** BPE encoding with a trained merge table: every word's character
    * sequence runs the merge rules in rank order (each a greedy
    * left-to-right [[graft.plans.BpeMergePair]] pass), and the per-word
    * token lists concatenate in document order. Map-only — merges ride
    * as plan state, nothing shuffles.
    *
    * @return (idCol, bpe_tokens array<string>, n_tokens)
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    val chars = (w: Column) =>
      transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))
    val encodeWord = (w: Column) =>
      merges.foldLeft(chars(w)) { case (t, (l, r)) =>
        graft.plans.HashExpressions.bpeMergePair(t, l, r)
      }
    df.select(col(idCol),
      flatten(transform(TextFunctions.tokens(col(textCol)),
        w => encodeWord(w))).as("bpe_tokens"))
      .withColumn("n_tokens", size(col("bpe_tokens")).cast("long"))
  }

  /** Tokenizer/vocabulary coverage audit — the measurement in front of
    * every tokenizer decision: given a piece VOCABULARY (trained BPE
    * pieces, a WordPiece list, or simply the corpus's top-K words),
    * how much of each document does it actually cover? Per doc:
    * `n_tokens` (whitespace tokens), `n_oov` (tokens missing from the
    * vocabulary — what a word-level encoder would UNK), `oov_ppm`
    * (exact floor parts-per-million; null for empty docs), and
    * `n_token_chars` (total characters across tokens — with
    * `n_tokens`, the chars-per-token compression a byte/subword
    * tokenizer is evaluated on). Zero-token docs report explicit
    * zeros, not absence. Token identity is EXACT string match (the
    * [[TextFunctions.tokens]] convention; casefold upstream if the
    * vocab is casefolded).
    *
    * Scale shape: token explode + BROADCAST vocab join (a vocabulary
    * is vocab-sized by definition — if it weren't broadcastable it
    * wouldn't fit a tokenizer either) + one doc-keyed re-aggregation;
    * the corpus shuffles only (doc_id, counts).
    */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    vocab: DataFrame,
                    vocabTokenCol: String = "token"): DataFrame = {
    val base = df.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("__toks"))
    val v = vocab.select(col(vocabTokenCol).as("__vt"))
      .where(col("__vt").isNotNull).distinct()
      .withColumn("__in", lit(1))
    val perDoc = base
      .select(col(idCol), explode(col("__toks")).as("__tok"))
      .join(broadcast(v), col("__tok") === col("__vt"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("__oov"),
        sum(length(col("__tok")).cast("long")).as("__chars"))
    base.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_tokens"),
        coalesce(col("__oov"), lit(0L)).as("n_oov"),
        expr(Stats.ppmSql("coalesce(__oov, 0L)", "__n")).as("oov_ppm"),
        coalesce(col("__chars"), lit(0L)).as("n_token_chars"))
  }

  /** Byte-level BPE encode — [[bpeEncode]] made TOTAL over arbitrary
    * Unicode (the GPT-2 byte-alphabet idea, re-expressed in an
    * oracle-friendly rendering): each word decomposes to its UTF-8
    * BYTES, each byte rendered as a 2-char lowercase hex token (a
    * fixed 256-piece seed alphabet), and the merge rules then apply in
    * rank order exactly as in [[bpeEncode]] (the same greedy
    * left-to-right [[graft.plans.BpeMergePair]] pass). A merged token
    * is the concatenation of its parts' hex, so EVERY token at every
    * stage is an even-length hex string that decodes back to bytes —
    * no `[UNK]` exists by construction: a word no merge touches is
    * simply its byte sequence, whatever script or emoji it is.
    *
    * `decoded` is the losslessness witness: every word reassembles
    * from its tokens (concat hex → bytes → UTF-8) and words re-join by
    * single spaces, equal to the whitespace-normalized input for ANY
    * input — the property a byte-level tokenizer buys over the
    * word-vocabulary encoders, asserted by spec and oracle rather than
    * promised.
    *
    * Map-only, zero shuffles; merges ride as plan state (the
    * [[bpeEncode]] shape).
    *
    * @return (idCol, bpe_tokens array<string>, n_tokens, decoded)
    */
  def bpeByteEncode(df: DataFrame, idCol: String, textCol: String,
                    merges: Seq[(String, String)],
                    carryCols: Seq[String] = Nil): DataFrame = {
    val bytesOf = (w: Column) => {
      val hx = lower(hex(encode(w, "UTF-8")))
      transform(sequence(lit(1), (length(hx) / 2).cast("int")),
        i => hx.substr(i * 2 - 1, lit(2)))
    }
    val encodeWord = (w: Column) =>
      merges.foldLeft(bytesOf(w)) { case (t, (l, r)) =>
        graft.plans.HashExpressions.bpeMergePair(t, l, r)
      }
    df.select(col(idCol) +: carryCols.map(col) :+
        transform(TextFunctions.tokens(col(textCol)),
          w => encodeWord(w)).as("__wt"): _*)
      .select(col(idCol) +: carryCols.map(col) :+
        flatten(col("__wt")).as("bpe_tokens") :+
        size(flatten(col("__wt"))).cast("long").as("n_tokens") :+
        array_join(transform(col("__wt"),
          ts => decode(unhex(array_join(ts, "")), "UTF-8")), " ")
          .as("decoded"): _*)
  }

  /** SentencePiece-style unigram-LM tokenizer trainer — the other
    * mainstream subword family next to [[bpeTrain]]: a piece VOCABULARY
    * with log probabilities, trained by Viterbi-EM and pruned to size.
    *
    *  - Seed: every substring of length ≤ `maxPieceLen` of the word
    *    vocabulary, occurrence-weighted, CAPPED at the `maxSeedPieces`
    *    most frequent (the SentencePiece seed-prune — the one driver
    *    collect here that is not inherently bounded); single characters
    *    always included — they guarantee coverage.
    *  - EM round (×`rounds`): log probs from the current counts
    *    (`round₉(ln c − ln Σc)` — short decimal literals both engines
    *    reproduce), then a Viterbi E-step: every word re-segments under
    *    the model ([[graft.plans.UnigramViterbi]] — exact-decimal DP,
    *    deterministic tiebreaks) and pieces re-count
    *    occurrence-weighted; unused single characters keep a count
    *    floor of 1 (coverage), other unused pieces drop.
    *  - Prune: top `vocabSize` pieces by (count desc, piece asc), plus
    *    all single characters; final log probs renormalize over the
    *    kept set.
    *
    * Scale shape (the [[bpeTrain]] discipline): the corpus collapses to
    * the word vocabulary (Heaps-law-bounded) before ANY per-round work;
    * each round is one map-only Viterbi pass over that vocabulary plus
    * one piece-count aggregation with map-side partials; driver state
    * is the piece vocabulary (vocab-sized, the codebook contract).
    * Words longer than `maxWordLen` are excluded from training (the
    * oracle unrolls the DP to that depth).
    *
    * @return (piece, cnt, logp) ordered by piece
    */
  def unigramTrain(df: DataFrame, textCol: String, vocabSize: Int,
                   rounds: Int = 2, maxPieceLen: Int = 4,
                   maxWordLen: Int = 12,
                   maxSeedPieces: Int = 1 << 20): DataFrame = {
    require(vocabSize >= 1 && rounds >= 0 && maxPieceLen >= 1 && maxWordLen >= 1)
    require(maxSeedPieces >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    // bounded, vocab-sized — executor memory by deliberate choice
    // (consumed once per round; don't re-tokenize)
    val words = Snapshots.boundedLocal(df
      .select(explode(TextFunctions.tokens(col(textCol))).as("__w"))
      .where(length(col("__w")).between(1, maxWordLen))
      .groupBy("__w").agg(count(lit(1)).as("__wc")))
    val seedPieces = expr(
      s"flatten(transform(sequence(1, char_length(__w)), i -> " +
        s"transform(sequence(i, least(char_length(__w), i + ${maxPieceLen - 1})), " +
        s"j -> substring(__w, i, j - i + 1))))")
    val seedAll = words
      .select(col("__wc"), explode(seedPieces).as("__p"))
      .groupBy("__p").agg(sum(col("__wc")).as("__c"))
    // The seed vocabulary is the one piece of driver state that is NOT
    // inherently bounded (all substrings ≤ maxPieceLen of the word
    // vocabulary — fine for Heaps-law word counts, ruinous for 10⁷+
    // distinct words), so it is CAPPED engine-side before the collect:
    // top maxSeedPieces by (count desc, piece asc) — the SentencePiece
    // seed-prune. The bare rank-≤-k filter right above its window keeps
    // the plan a WindowGroupLimit top-k (partial per-partition heaps),
    // never a global sort; single characters (coverage) ride a separate
    // alphabet-sized collect and merge driver-side.
    val seedTop = seedAll
      .withColumn("__rk", row_number().over(Window
        .orderBy(col("__c").desc, col("__p").asc)))
      .where(col("__rk") <= maxSeedPieces)
      .select(col("__p"), col("__c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val seedChars = seedAll.where(length(col("__p")) === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    var cnts: Map[String, Long] = seedChars ++ seedTop
    val chars = cnts.keySet.filter(p => p.codePointCount(0, p.length) == 1)
    def logps(c: Map[String, Long]): (Seq[String], Seq[Double]) = {
      val lnTotal = StrictMath.log(c.values.sum.toDouble)
      val ps = c.keys.toSeq.sorted
      (ps, ps.map(p => BigDecimal(StrictMath.log(c(p).toDouble) - lnTotal)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    for (_ <- 1 to rounds) {
      val (ps, lps) = logps(cnts)
      val counted = words
        .select(col("__wc"), explode(graft.plans.HashExpressions
          .unigramViterbi(col("__w"), ps, lps, maxPieceLen)).as("__p"))
        .groupBy("__p").agg(sum(col("__wc")).as("__c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      cnts = counted ++ chars.diff(counted.keySet).map(_ -> 1L)
    }
    val kept = cnts.toSeq.sortBy { case (p, c) => (-c, p) }
      .take(vocabSize).map(_._1).toSet ++ chars
    val fin = cnts.filter { case (p, _) => kept(p) }
    val lnTotal = StrictMath.log(fin.values.sum.toDouble)
    spark.createDataset(fin.toSeq.sortBy(_._1).map { case (p, c) =>
      (p, c, BigDecimal(StrictMath.log(c.toDouble) - lnTotal)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }).toDF("piece", "cnt", "logp")
  }

  /** Viterbi encode against a trained [[unigramTrain]] vocabulary:
    * every word takes its max-log-prob segmentation (same kernel, same
    * deterministic tiebreaks as training) and the per-word piece lists
    * concatenate in document order. Map-only — the vocabulary rides as
    * plan state, nothing shuffles (the [[bpeEncode]] shape).
    *
    * @param vocab (piece, logp) pairs, e.g.
    *   `unigramTrain(...).collect()`'s first and third columns
    * @return (idCol, pieces array<string>, n_pieces)
    */
  def unigramEncode(df: DataFrame, idCol: String, textCol: String,
                    vocab: Seq[(String, Double)],
                    maxPieceLen: Int = 4): DataFrame = {
    require(vocab.nonEmpty, "empty vocabulary")
    val ps = vocab.map(_._1)
    val lps = vocab.map(_._2)
    df.select(col(idCol),
      flatten(transform(TextFunctions.tokens(col(textCol)),
        w => graft.plans.HashExpressions
          .unigramViterbi(w, ps, lps, maxPieceLen))).as("pieces"))
      .withColumn("n_pieces", size(col("pieces")).cast("long"))
  }

  /** Greedy WordPiece encoding against a GIVEN vocabulary — the third
    * mainstream subword family's encoder (the BERT tokenizer: longest-
    * match-first per position, `##`-prefixed continuation pieces, whole
    * word → `unk` when any position fails to match; see
    * [[graft.plans.WordpieceEncode]] for the exact published
    * semantics). No trainer here by design: WordPiece training is BPE
    * with a likelihood objective, and production use overwhelmingly
    * encodes against a SHIPPED vocabulary (e.g. BERT's) — which is this
    * op. Map-only, vocabulary as plan state, the [[bpeEncode]] /
    * [[unigramEncode]] shape.
    *
    * @return (idCol, pieces array<string>, n_pieces)
    */
  def wordpieceEncode(df: DataFrame, idCol: String, textCol: String,
                      vocab: Seq[String], unk: String = "[UNK]",
                      maxPieceLen: Int = 4): DataFrame = {
    require(vocab.nonEmpty, "empty vocabulary")
    df.select(col(idCol),
      flatten(transform(TextFunctions.tokens(col(textCol)),
        w => graft.plans.HashExpressions
          .wordpieceEncode(w, vocab, unk, maxPieceLen))).as("pieces"))
      .withColumn("n_pieces", size(col("pieces")).cast("long"))
  }

  /** Per-group percentile calibration of a score column — the
    * normalization step between raw quality scoring and cross-group
    * selection: a raw score of 0.4 means different things in different
    * languages/sources, so budget/mixture decisions compare PERCENTILES
    * within each group, not raw values. Output = input + rank_in_group
    * (1-based, (score ASC, id ASC) total order — no rank ties) + pct
    * (SQL PERCENT_RANK semantics: (rank−1)/(n−1), single-row groups
    * pin 0.0). pct is a ratio of two exact integers, one IEEE division —
    * bit-identical on any engine.
    *
    * Scale shape: a bare `RANK() OVER (PARTITION BY group ORDER BY
    * score)` puts each whole group in one reducer — the same
    * scale-killer [[packOffsets]] documents, fatal when one language IS
    * most of the corpus. Same cure: scores clamp-floor into `nBuckets`
    * fixed [0,1] ranges (a MONOTONE function of the sort key, so bucket
    * order prefixes group order), per-(group, bucket) counts prefix-sum
    * in a #groups × nBuckets grid stage, offsets broadcast back, and the
    * data-sized window keys on (group, bucket). Equal scores share a
    * bucket, so the decomposed rank is exactly the global rank.
    *
    * Scores are expected in [0, 1] (e.g. [[TextFunctions.qualityScore]]);
    * out-of-range values clamp into edge buckets and cost only balance.
    * Null scores calibrate as 0.0 (the bottom of the ranking), keeping
    * the operator total.
    */
  def calibrateScores(df: DataFrame, idCol: String, groupCol: String,
                      scoreCol: Column, nBuckets: Int = 256): DataFrame = {
    require(nBuckets > 0, s"need at least one bucket: $nBuckets")
    val base = df
      .withColumn("__score", coalesce(scoreCol.cast("double"), lit(0.0)))
      .withColumn("__bk",
        least(greatest(floor(col("__score") * nBuckets), lit(0.0)),
          lit((nBuckets - 1).toDouble)).cast("int"))
    val grid = base.groupBy(col(groupCol), col("__bk"))
      .agg(count(lit(1)).as("__bn"))
    val gw = Window.partitionBy(col(groupCol)).orderBy(col("__bk").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = grid.select(col(groupCol), col("__bk"),
      coalesce(sum(col("__bn")).over(gw), lit(0L)).as("__boff"),
      sum(col("__bn")).over(Window.partitionBy(col(groupCol))).as("__gn"))
    val inBucket = Window.partitionBy(col(groupCol), col("__bk"))
      .orderBy(col("__score").asc, col(idCol).asc)
    base.join(broadcast(bases), Seq(groupCol, "__bk"))
      .withColumn("rank_in_group",
        col("__boff") + row_number().over(inBucket).cast("long"))
      .withColumn("pct",
        when(col("__gn") > 1L,
          (col("rank_in_group") - 1L).cast("double") /
            (col("__gn") - 1L).cast("double"))
          .otherwise(lit(0.0)))
      .select(df.columns.map(col) :+ col("rank_in_group") :+ col("pct"): _*)
  }

  /** Hashed bag-of-words features: token → md5 16-bit bucket mod `dim`,
    * counted per document. The md5 bucketing (not xxhash64) is chosen so
    * an external engine can reproduce the feature map exactly; counts are
    * exact integers, so downstream arithmetic starts reproducible.
    * One corpus-sized shuffle on (id, bucket) — the feature table is the
    * reusable input to [[trainLinearProbe]].
    *
    * @return (idCol, bucket int, cnt long)
    */
  def hashFeatures(df: DataFrame, idCol: String, textCol: String,
                   dim: Int): DataFrame = {
    require(dim > 0, s"need a positive feature dimension: $dim")
    df.select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("__tok"))
      .select(col(idCol),
        pmod(conv(substring(md5(col("__tok")), 1, 4), 16, 10).cast("int"),
          lit(dim)).as("bucket"))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Train a linear quality probe INSIDE the engine: full-batch gradient
    * descent on square loss over [[hashFeatures]] vectors — the training
    * half of the fastText-style quality classifier curation pipelines
    * run over their own corpus (label = curated/crawl, en/other, …);
    * [[fastTextScore]] is the inference half for weights trained here
    * or anywhere else. No model library, no driver-side data: each
    * round is two well-keyed corpus-sized aggregations.
    *
    * Numerics are cross-engine reproducible, the [[graft.functions.Graph
    * .pageRank]] discipline: per-document scores and per-bucket gradients
    * are DOUBLE products summed in DECIMAL(30,15) (order-independent),
    * returned to double; the weight update `w − lr·g` is scalar IEEE
    * double arithmetic. An external engine unrolling the same rounds
    * reproduces the weights bit-for-bit.
    *
    * Scale shape: the feature table (one corpus shuffle) persists across
    * rounds; per round, predictions aggregate by document id and
    * gradients by bucket (both parallel, map-side partials), and only the
    * `dim`-sized gradient vector reaches the driver — bounded state, the
    * same contract as centroid/codebook collects. Weights re-enter each
    * round as a broadcast `dim`-row table.
    *
    * With zero-initialized weights, round 1's gradient is −Σ cnt·y per
    * bucket, so label-bearing buckets move first — handy sanity check.
    *
    * @param labelCol numeric 0/1 (or regression target) column on `df`
    * @return (bucket, weight) — all `dim` buckets, weight rounded to 9
    *         decimal places for cross-engine hash stability
    */
  def trainLinearProbe(df: DataFrame, idCol: String, textCol: String,
                       labelCol: Column, dim: Int = 64,
                       rounds: Int = 3, lr: Double = 1e-4): DataFrame = {
    require(rounds >= 0, s"negative rounds: $rounds")
    require(lr > 0, s"learning rate must be positive: $lr")
    val spark = df.sparkSession
    val feats = hashFeatures(df, idCol, textCol, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels = df.select(col(idCol), labelCol.cast("double").as("__y"))
    val weights = Array.fill(dim)(0.0)
    var r = 0
    while (r < rounds) {
      val wDf = spark.createDataFrame(
        weights.toIndexedSeq.zipWithIndex.map { case (w, b) => (b, w) })
        .toDF("bucket", "__w")
      // pred_i = Σ_j w_j·cnt_ij (decimal-exact sum); docs with no
      // features predict 0 via the right join + coalesce
      val preds = feats.join(broadcast(wDf), "bucket")
        .groupBy(col(idCol))
        .agg(sum((col("__w") * col("cnt").cast("double"))
          .cast(DecimalType(30, 15))).cast("double").as("__pred"))
      val resid = labels.join(preds, Seq(idCol), "left")
        .select(col(idCol),
          (coalesce(col("__pred"), lit(0.0)) - col("__y")).as("__r"))
      // grad_j = Σ_i cnt_ij·resid_i (decimal-exact sum), dim rows
      val grad = feats.join(resid, idCol)
        .groupBy(col("bucket"))
        .agg(sum((col("cnt").cast("double") * col("__r"))
          .cast(DecimalType(30, 15))).cast("double").as("__g"))
        .collect().map(row => row.getInt(0) -> row.getDouble(1)).toMap
      grad.foreach { case (b, g) => weights(b) = weights(b) - lr * g }
      r += 1
    }
    feats.unpersist(blocking = false)
    spark.createDataFrame(
        weights.toIndexedSeq.zipWithIndex.map { case (w, b) => (b, w) })
      .toDF("bucket", "__w")
      .select(col("bucket"), round(col("__w"), 9).as("weight"))
  }

  /** Probe inference: score every document with a trained
    * [[trainLinearProbe]] weight table (w·x over the same hashed
    * features) — the map-side gate that turns the probe into a corpus
    * filter. `weights` is (bucket, weight) and broadcasts; the only
    * shuffle is the per-document feature aggregation, and documents with
    * no features score 0 (the zero-vector dot), so the output doc set is
    * exactly the input's.
    *
    * @return (idCol, probe_score) — score rounded to 9 decimal places,
    *         decimal-exact sum, same numeric discipline as training
    */
  def scoreLinearProbe(df: DataFrame, idCol: String, textCol: String,
                       weights: DataFrame, dim: Int): DataFrame = {
    val scores = hashFeatures(df, idCol, textCol, dim)
      .join(broadcast(weights), "bucket")
      .groupBy(col(idCol))
      .agg(sum((col("weight") * col("cnt").cast("double"))
        .cast(DecimalType(30, 15))).cast("double").as("__s"))
    df.select(col(idCol))
      .join(scores, Seq(idCol), "left")
      .select(col(idCol),
        round(coalesce(col("__s"), lit(0.0)), 9).as("probe_score"))
  }

  /** fastText-style hashed-n-gram linear classifier INFERENCE (Joulin
    * et al. 2017, "Bag of Tricks for Efficient Text Classification") —
    * the quality/language gate curation pipelines run over every
    * document with externally-trained weights: features are unigrams +
    * space-joined bigrams hashed into `weights.length` buckets, the
    * document representation is the MEAN of its feature weights (the
    * fastText average-pooling), and the decision is a sigmoid over
    * `mean + bias`. [[trainLinearProbe]] trains IN-engine; this is the
    * deployment half for weights trained anywhere.
    *
    * Bucketing is the [[hashFeatures]] md5-16-bit-prefix convention
    * (any-ANSI-engine-reproducible; a 100 TB run swaps in xxhash64 with
    * the identical plan shape — the [[dsirLogWeights]] note). Bigrams
    * come from `zip_with` over two slices, the [[dsirLogWeights]]
    * construction.
    *
    * Cross-engine exactness: each looked-up weight casts to
    * DECIMAL(30,15) and the per-document fold sums decimals — exact
    * and order-free — so `score = sum/n + bias` is two IEEE-exact
    * double ops on engine-identical inputs, bit-reproducible anywhere.
    * `label` thresholds the sigmoid at 0.5 via monotonicity
    * (sigmoid(s) ≥ 0.5 ⟺ s ≥ 0), so it never evaluates `exp`. `prob`
    * IS the true sigmoid and is deliberately NOT part of the oracle
    * contract: measured on 5 000 random logits, JVM `Math.exp` and C
    * libm `exp` disagree by 1 ulp on ~0.4% of inputs, so a hash gate
    * over corpus-many sigmoids would be luck, not correctness — the
    * spec pins `prob` against a driver-side reference instead.
    *
    * Scale shape: map-only — tokenize, hash, fold, all inside the one
    * scan projection; zero shuffles, zero joins (the weight table is a
    * plan literal; at 10⁶+ buckets broadcast a weights frame and join
    * on bucket instead). Empty/null text scores `bias` alone with
    * n_feats 0.
    *
    * @param weights bucket-indexed weight vector; features hash into
    *                `weights.length` buckets
    * @param bias    intercept added after mean-pooling
    * @return (idCol, n_feats, score, prob, label) — label in
    *         {"keep", "drop"}, keep ⟺ score ≥ 0
    */
  def fastTextScore(df: DataFrame, idCol: String, textCol: String,
                    weights: Seq[Double], bias: Double = 0.0,
                    bigrams: Boolean = true): DataFrame = {
    val dim = weights.length
    require(dim > 0, "fastTextScore: weights must be non-empty")
    val dec = DecimalType(30, 15)
    val toks = TextFunctions.tokens(coalesce(col(textCol), lit("")))
    val bg = zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val feats = if (bigrams) concat(toks, bg) else toks
    val wArr = array(weights.map(w => lit(w)): _*)
    def wOf(f: Column): Column = element_at(wArr,
      pmod(conv(substring(md5(f), 1, 4), 16, 10).cast("int"),
        lit(dim)) + 1)
    val sumDec = aggregate(feats, lit(BigDecimal(0)).cast(dec),
      (acc, f) => (acc + wOf(f).cast(dec)).cast(dec))
    graft.GraftSession.spreadScan(df)
      .select(col(idCol), size(feats).as("__n"), sumDec.as("__s"))
      .select(col(idCol), col("__n"),
        when(col("__n") > 0,
          col("__s").cast("double") / col("__n").cast("double") +
            lit(bias))
          .otherwise(lit(bias)).as("__score"))
      .select(col(idCol),
        col("__n").cast("long").as("n_feats"),
        round(col("__score"), 9).as("score"),
        round(lit(1.0) / (lit(1.0) + exp(-col("__score"))), 9).as("prob"),
        when(col("__score") >= 0, lit("keep")).otherwise(lit("drop"))
          .as("label"))
  }

  /** WHATWG windows-1252 decode: bytes 0x80–0x9F via the standard's
    * index (undefined positions → the C1 controls), everything else
    * Latin-1 identity. */
  def decodeAsCp1252(bytes: Array[Byte]): String = {
    val specials = Map(0x80 -> 0x20AC, 0x82 -> 0x201A, 0x83 -> 0x192,
      0x84 -> 0x201E, 0x85 -> 0x2026, 0x86 -> 0x2020, 0x87 -> 0x2021,
      0x88 -> 0x2C6, 0x89 -> 0x2030, 0x8A -> 0x160, 0x8B -> 0x2039,
      0x8C -> 0x152, 0x8E -> 0x17D, 0x91 -> 0x2018, 0x92 -> 0x2019,
      0x93 -> 0x201C, 0x94 -> 0x201D, 0x95 -> 0x2022, 0x96 -> 0x2013,
      0x97 -> 0x2014, 0x98 -> 0x2DC, 0x99 -> 0x2122, 0x9A -> 0x161,
      0x9B -> 0x203A, 0x9C -> 0x153, 0x9E -> 0x17E, 0x9F -> 0x178)
    bytes.map { b =>
      val v = b & 0xFF
      specials.getOrElse(v, v).toChar
    }.mkString
  }

  /** The mojibake artifact table: for every repairable target character
    * `c`, the string that appears when c's UTF-8 bytes are mis-decoded
    * as windows-1252 — "é" (C3 A9) surfaces as "Ã©", "’" (E2 80 99) as
    * "â€™", NBSP (C2 A0) as "Â " followed by a real space. Decoding
    * uses an EXPLICIT WHATWG Encoding Standard index table — not the
    * JDK charset, whose decoder replaces the five bytes cp1252 leaves
    * undefined (81 8D 8F 90 9D) with U+FFFD and would collapse the
    * artifacts of Á/Í/Ï/Ð/Ý into one ambiguous string; WHATWG (and
    * every lenient web decoder) maps them to the corresponding C1
    * controls, keeping all 123 artifacts distinct. The table is a
    * deterministic function of the Unicode + WHATWG tables, no
    * guessing.
    *
    * Targets: U+00A0–U+00FF (the Latin-1 supplement — accented Latin,
    * ×÷, currency, NBSP) plus the 27 cp1252 specials (curly quotes,
    * dashes, €, ™, Œœ ŠšŽž Ÿ ƒ ˆ ˜ …). Pairs are ordered 3-char
    * artifacts FIRST, then 2-char, each class by target codepoint —
    * the replace-chain contract [[mojibakeRepair]] and its SQL oracle
    * both follow. Chain order is part of the operator's semantics:
    * text that itself LOOKS like mojibake is inherently ambiguous, and
    * the pinned order makes the engine and any mirror resolve the
    * ambiguity identically.
    */
  val mojibakePairs: Seq[(String, String)] = {
    val specials = Seq(0x152, 0x153, 0x160, 0x161, 0x178, 0x17D, 0x17E,
      0x192, 0x2C6, 0x2DC, 0x2013, 0x2014, 0x2018, 0x2019, 0x201A,
      0x201C, 0x201D, 0x201E, 0x2020, 0x2021, 0x2022, 0x2026, 0x2030,
      0x2039, 0x203A, 0x20AC, 0x2122)
    def pair(cp: Int): (String, String) = {
      val target = new String(Character.toChars(cp))
      (decodeAsCp1252(target.getBytes("UTF-8")), target)
    }
    ((0xA0 to 0xFF).map(pair) ++ specials.map(pair))
      .sortBy { case (a, t) => (-a.length, t.codePointAt(0)) }
  }

  /** Mojibake (UTF-8-mis-decoded-as-windows-1252) census + repair —
    * the encoding-damage gate a web-corpus pipeline runs before any
    * text statistic (a corpus with "Ã©" for every "é" poisons
    * tokenizers, LM perplexity and dedup shingles alike). Detection
    * and repair are ONE deterministic replace chain over
    * [[mojibakePairs]] — no statistical model, no charset sniffing —
    * so the operation is bit-reproducible on any engine with literal
    * string replace.
    *
    * Counts fall out of length arithmetic, not extra scans: every
    * 3-char artifact repairs to 1 char (shrink 2), every 2-char to 1
    * (shrink 1), so `n_fix3 = (len₀ − len₃)/2` and
    * `n_fix2 = len₃ − len₂` where len₃/len₂ measure after the
    * 3-char and 2-char chain stages.
    *
    * Repair domain (documented, not guessed): for text whose original
    * form contains none of the artifact LEAD characters (Ã Â Å Æ Ë â —
    * the windows-1252 images of UTF-8 lead bytes), corrupt→repair
    * round-trips exactly, and artifact-free text is a fixpoint; text
    * that already looks like mojibake is inherently ambiguous and
    * resolves by chain order (one or more layers may peel per call).
    * Both properties are spec-pinned over fuzzed Unicode.
    *
    * Scale shape: map-only — the whole chain is one scan projection;
    * zero shuffles, bodies never leave their task. The chain is ~123
    * literal replaces per row; at 100 TB the same table compiles into
    * a single-pass Aho–Corasick kernel expression, but the chain IS
    * the reference semantics (sequential, ordered) that any faster
    * kernel must reproduce.
    *
    * @return (idCol, repaired, n_fix3, n_fix2, mojibake)
    */
  def mojibakeRepair(df: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val (three, two) = mojibakePairs.partition(_._1.length == 3)
    def chain(c: Column, pairs: Seq[(String, String)]): Column =
      pairs.foldLeft(c) { case (e, (a, r)) => replace(e, lit(a), lit(r)) }
    graft.GraftSession.spreadScan(df)
      .select(col(idCol), coalesce(col(textCol), lit("")).as("__t0"))
      .withColumn("__t3", chain(col("__t0"), three))
      .withColumn("__t2", chain(col("__t3"), two))
      .select(col(idCol), col("__t2").as("repaired"),
        ((length(col("__t0")) - length(col("__t3"))) / lit(2))
          .cast("long").as("n_fix3"),
        (length(col("__t3")) - length(col("__t2")))
          .cast("long").as("n_fix2"))
      .withColumn("mojibake", col("n_fix3") + col("n_fix2") > 0L)
  }

  // Unambiguous hash-input encoding shared by mixtureCopyIds/hashSplit:
  // length-prefixed value ("v<len>:<value>") or the null sentinel "n".
  private[functions] def encodeForHash(c: Column): Column = {
    val s = c.cast("string")
    when(s.isNull, lit("n"))
      .otherwise(concat(lit("v"), length(s).cast("string"), lit(":"), s))
  }

  /** Exact heavy hitters via the two-pass sketch pattern — THE way to get
    * "tokens above 1/k of the corpus" at 100 TB, where the naive
    * `groupBy(token)` shuffles one row per token occurrence (≈ corpus
    * size) just to discard all but a handful of groups.
    *
    *  - Pass 1: a mergeable Misra–Gries summary ([[misraGries]]) runs as a
    *    Catalyst partial/final aggregate — per-partition state is a
    *    bounded `capacity`-entry map, and only those ≤ capacity entries
    *    shuffle (bytes, not corpus-sized). MG guarantees every token with
    *    true frequency > N/(capacity+1) survives in the summary, so the
    *    candidate set is a certain superset of the answer.
    *  - Pass 2: exact recount of the ≤ capacity candidates only — the
    *    `isin` filter drops non-candidates inside the scan stage, so the
    *    second shuffle is |candidate occurrences|, and the threshold
    *    `cnt > N/capacity` (strictly above the MG guarantee line) makes
    *    the final answer EXACT — sketch approximation affects cost, never
    *    results.
    *
    * Reference capability note: a go-sif user writes this as a full
    * `Reduce` over every token (operations/transform/reduce.go:16-44) —
    * there is no bounded-state path.
    *
    * @return (token, cnt) for every token with cnt > totalTokens/capacity
    */
  def heavyHitters(df: DataFrame, textCol: String, capacity: Int): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(explode(TextFunctions.tokens(col(textCol))).as("token"))
    // one corpus pass for BOTH the sketch and the total token count —
    // they ride the same aggregation job (the count is a second agg
    // buffer, not a second scan)
    val (candidates, total) = toks.as[String]
      .select(misraGries(capacity).toColumn.name("cands"),
        count(lit(1)).as[Long].name("total"))
      .head()
    toks.where(col("token").isin(candidates: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt").cast("double") > lit(total.toDouble / capacity))
  }

  /** Per-group exact heavy hitters — [[heavyHitters]] stratified (top
    * tokens per language, per source, per label). Pass 1 runs ONE
    * Misra–Gries aggregate per group (bounded `capacity`-entry state per
    * group, partial/final merged — still only summary bytes on the wire);
    * pass 2 recounts (group, candidate-token) pairs exactly and applies
    * each group's own `> groupTotal/capacity` threshold. Exact for the
    * same reason as the global version: the threshold sits strictly above
    * the MG guarantee line inside every group.
    *
    * @return (group, token, cnt) for every token with
    *         cnt > groupTotalTokens/capacity
    */
  def heavyHittersByGroup(df: DataFrame, groupCol: String, textCol: String,
                          capacity: Int): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(col(groupCol).cast("string").as("g"),
      explode(TextFunctions.tokens(col(textCol))).as("token"))
    // candidates stay DISTRIBUTED — ≤ capacity rows per group, but the
    // number of groups is unbounded (a per-URL-host run has millions)
    val candDf = toks.as[(String, String)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(misraGries(capacity).toColumn.name("cands"))
      .toDF("g", "cands")
      .select(col("g"), explode(col("cands")).as("token"))
    val totals = toks.groupBy(col("g")).agg(count(lit(1)).as("total"))
    // no broadcast hints: candDf/totals are groups-sized, which this
    // operator explicitly does NOT bound — AQE broadcasts them when they
    // happen to be small, shuffle-joins otherwise
    toks.join(candDf, Seq("g", "token"))
      .groupBy(col("g"), col("token")).agg(count(lit(1)).as("cnt"))
      .join(totals, "g")
      .where(col("cnt").cast("double") > col("total").cast("double") / capacity)
      .select(col("g").as(groupCol), col("token"), col("cnt"))
  }

  /** Mergeable Misra–Gries summary as a typed Catalyst [[Aggregator]]
    * (partial/final aggregation; bounded `capacity`-entry buffer). The
    * summary's key set is a superset of every value with frequency
    * > N/(capacity+1); merge subtracts the (capacity+1)-th largest count
    * from all survivors (Agarwal et al., "Mergeable Summaries", PODS '12).
    */
  def misraGries(capacity: Int): Aggregator[String, Map[String, Long], Seq[String]] =
    new Aggregator[String, Map[String, Long], Seq[String]] {
      override def zero: Map[String, Long] = Map.empty

      override def reduce(b: Map[String, Long], tok: String): Map[String, Long] =
        b.get(tok) match {
          case Some(c) => b.updated(tok, c + 1L)
          case None if b.size < capacity => b.updated(tok, 1L)
          // Buffer full: decrement every counter (amortized O(1) — each
          // such event burns capacity+1 units of total inserted count).
          case None => b.collect { case (t, c) if c > 1L => t -> (c - 1L) }
        }

      override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
        val combined = b.foldLeft(a) { case (m, (t, c)) =>
          m.updated(t, m.getOrElse(t, 0L) + c)
        }
        if (combined.size <= capacity) combined
        else {
          // cut = (capacity+1)-th largest count; subtracting it keeps at
          // most `capacity` entries and preserves the undercount bound.
          val cut = combined.values.toIndexedSeq.sorted(Ordering[Long].reverse)(capacity)
          combined.collect { case (t, c) if c > cut => t -> (c - cut) }
        }
      }

      override def finish(b: Map[String, Long]): Seq[String] = b.keys.toSeq.sorted

      override def bufferEncoder: Encoder[Map[String, Long]] =
        ExpressionEncoder[Map[String, Long]]()
      override def outputEncoder: Encoder[Seq[String]] =
        ExpressionEncoder[Seq[String]]()
    }

  /** 2^-20 fixed-point priority: `⌊w·2^40 / u⌋` where `u ∈ [1, 2^20]`
    * is the 20-bit integer from the first 5 hex chars of `md5(seed:key)`
    * plus one. `v = u/2^20` is Uniform(0,1] discretized to 2^-20, so the
    * quotient is the true priority `q = w/v` expressed in 2^-20 weight
    * units (`w·2^40/u = (w/v)·2^20`). UNITS MUST LINE UP END TO END:
    * draw range 2^20 × estimator scale 2^20 = the 2^40 numerator factor,
    * and τ / `w·2^20` / `est_fp` all live in the same 2^-20 scale — a
    * mismatched scale still ranks identically (monotone) but shifts τ
    * out of the `max(w, τ)` estimator's units and silently destroys
    * unbiasedness (caught by the spec's estimator-sum band, which
    * caught exactly that twice while this was being built). Pure BIGINT
    * arithmetic (no float, no transcendental), so any engine computes
    * the identical value; with `w ≤ 10^6` the numerator tops out at
    * ~1.1·10^18 < 2^63.
    */
  private[functions] val PriorityScale = 1L << 20

  private def fixedPointPriority(key: Column, w: Column, seed: String)
      : (Column, Column) = {
    val u = conv(substring(
        md5(concat(lit(seed + ":"), key.cast("string"))), 1, 5), 16, 10)
      .cast("long") + lit(1L)
    val wChecked = when(w.cast("long").between(1L, 1000000L), w.cast("long"))
      .otherwise(raise_error(concat(
        lit("prioritySample weight out of [1, 1e6]: "), w.cast("string"))))
    (u, wChecked)
  }

  /** Weighted sampling WITHOUT replacement + unbiased subset-sum
    * estimation — priority sampling (Duffield, Lund & Thorup, "Priority
    * sampling for estimation of arbitrary subset sums", JACM 54(6),
    * 2007). Each row draws priority `q = w/u` with `u ~ Uniform(0,1]`;
    * the sample is the top-`k` by priority, the threshold `τ` is the
    * (k+1)-th priority, and each sampled row's weight estimator is
    * `max(w, τ)` — unbiased for every subset sum, with near-optimal
    * variance among k-sparse estimators.
    *
    * Engine-portability choices (the [[hashSplit]] discipline):
    *  - `u` is derived from `md5(seed:key)` — no RNG state, so the SAME
    *    rows are sampled on any cluster size, re-run, or engine;
    *  - priorities are fixed-point BIGINTs (`⌊w·2^40/u⌋` with
    *    `u ∈ [1, 2^20]`, ties broken by key), never floats — selection
    *    is bit-reproducible where a double `w/u` would hinge on last-ulp
    *    division behavior. The 2^-20 quantization only reorders rows
    *    whose true priorities agree to ~6 decimal digits; `τ` and the
    *    estimator live in the same fixed-point scale (`est_fp`, 2^-20
    *    weight units — divide by [[PriorityScale]] to read weights).
    *
    * Shuffle profile: the top-(k+1) runs as per-partition heaps merged
    * on the driver (TakeOrderedAndProject) — no corpus-sized sort, no
    * full shuffle; the τ/estimator window runs over the (k+1)-row frame.
    * Weights must be integral in [1, 10^6] (checked in-plan, fail-loud).
    */
  def prioritySample(df: DataFrame, idCol: String, weightCol: Column, k: Int,
                     seed: String = "ps"): DataFrame = {
    require(k >= 1, s"sample size must be >= 1, got $k")
    val (u, w) = fixedPointPriority(col(idCol), weightCol, seed)
    val scored = df
      .withColumn("__w", w)
      .withColumn("__u", u)
      .withColumn("priority",
        expr(s"(__w * ${PriorityScale * PriorityScale}L) div __u"))
      .orderBy(col("priority").desc, col(idCol).asc)
      .limit(k + 1)
    // (k+1)-row frame: rank, read off τ, keep the top k with estimators.
    val order = Window.orderBy(col("priority").desc, col(idCol).asc)
    val whole = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    scored
      .withColumn("__rn", row_number().over(order))
      .withColumn("__tau",
        max(when(col("__rn") === k + 1, col("priority"))).over(whole))
      .where(col("__rn") <= k)
      .select(col(idCol), col("__w").as("w"), col("priority"),
        greatest(col("__w") * lit(PriorityScale),
          coalesce(col("__tau"), lit(0L))).as("est_fp"))
  }

  /** [[prioritySample]] stratified: an independent top-`k` priority
    * sample PER GROUP (per language, per source, per domain), each with
    * its own threshold `τ_g` and unbiased per-group estimators — "give
    * me 10k docs per language, weighted by length, with calibrated
    * subset-sum estimates" in one pass. Seeding includes the key only
    * (not the group), so a row keeps its draw even if regrouped.
    *
    * Shuffle profile: ONE group-keyed exchange. The rank ≤ k+1 filter
    * over the group window is Spark's WindowGroupLimit shape — per-
    * partition (group, heap) truncation BEFORE the exchange, so the
    * shuffle carries ≤ (k+1) rows per group per partition, not the
    * corpus; τ and estimators then run over ≤ (k+1)-row group frames.
    */
  def prioritySampleByGroup(df: DataFrame, idCol: String, weightCol: Column,
                            groupCol: String, k: Int,
                            seed: String = "ps"): DataFrame = {
    require(k >= 1, s"sample size must be >= 1, got $k")
    val (u, w) = fixedPointPriority(col(idCol), weightCol, seed)
    val order = Window.partitionBy(col(groupCol))
      .orderBy(col("priority").desc, col(idCol).asc)
    val whole = Window.partitionBy(col(groupCol))
    df.withColumn("__w", w)
      .withColumn("__u", u)
      .withColumn("priority",
        expr(s"(__w * ${PriorityScale * PriorityScale}L) div __u"))
      .withColumn("__rn", row_number().over(order))
      .where(col("__rn") <= k + 1)
      .withColumn("__tau",
        max(when(col("__rn") === k + 1, col("priority"))).over(whole))
      .where(col("__rn") <= k)
      .select(col(groupCol), col(idCol), col("__w").as("w"), col("priority"),
        greatest(col("__w") * lit(PriorityScale),
          coalesce(col("__tau"), lit(0L))).as("est_fp"))
  }

  /** Apply a change-data-capture batch to a base snapshot — the MERGE
    * that keeps a continuously-crawled corpus current without rewriting
    * it from scratch (the maintenance counterpart of [[snapshotDiff]],
    * which DETECTS the delta this operator APPLIES). `changes` carries
    * `(id, seq, op, payload…)` with `op ∈ {upsert, delete}`; per id the
    * highest `seq` wins (last-writer-wins; callers must make `(id, seq)`
    * unique — equal seqs tie-break deterministically on `op` so reruns
    * agree, but such batches are malformed upstream). A winning `upsert`
    * replaces (or inserts) the row's payload; a winning `delete` removes
    * the id; untouched base rows pass through unchanged.
    *
    * Shuffle profile: one window over `changes` keyed on id (batch-sized,
    * typically ≪ base) and one full-outer join keyed on id — the join is
    * the only base-sized exchange, and on an id-bucketed base table even
    * that one is shuffle-free on the base side. Nothing here is
    * corpus-quadratic and no driver state exists at all.
    */
  def applyChanges(base: DataFrame, changes: DataFrame, idCol: String,
                   seqCol: String, opCol: String): DataFrame = {
    val payload = base.columns.filterNot(_ == idCol)
    payload.foreach { c =>
      require(changes.columns.contains(c),
        s"changes is missing payload column $c") }
    val perId = Window.partitionBy(col("__cid"))
      .orderBy(col(seqCol).desc, col("__op").asc)
    val latest = changes
      .select(col(idCol).as("__cid") +: col(seqCol) +: col(opCol).as("__op") +:
        payload.map(c => col(c).as(s"__c_$c")): _*)
      .withColumn("__rn", row_number().over(perId))
      .where(col("__rn") === 1)
    base.join(latest, base(idCol) === latest("__cid"), "full_outer")
      .where(col("__op").isNull || col("__op") =!= "delete")
      .select(coalesce(base(idCol), col("__cid")).as(idCol) +:
        payload.map(c =>
          when(col("__op").isNotNull, col(s"__c_$c")).otherwise(base(c))
            .as(c)): _*)
  }

  /** Deterministic training-epoch shuffle: assign every row a stable
    * global position `epoch_pos ∈ [0, n)` that is a uniform pseudo-random
    * permutation of the corpus, keyed by `md5(shuf:epoch:id)` — a new
    * epoch seed gives an independent order, and the SAME epoch replays
    * the SAME order on any cluster size or engine (the [[hashSplit]]
    * portability discipline applied to data ordering — reproducible
    * training runs need the shuffle to be a pure function of (epoch,
    * id), not of RNG/partition state).
    *
    * Two-level decomposition instead of a global sort: rows hash into
    * `nBuckets` buckets; each bucket ranks locally by (hash, id); global
    * position = bucket offset + local rank, with offsets from a
    * cumulative sum over the `nBuckets`-row bucket-size table. The only
    * data-sized exchange is the one bucket-keyed shuffle — no
    * range-partitioner sampling pass, no driver-side anything — and the
    * per-reducer sort is corpus/nBuckets rows. The output order equals
    * ORDER BY (bucket, hash, id), itself a uniform permutation.
    */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int,
                   nBuckets: Int = 1024): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val h = conv(substring(
        md5(concat(lit(s"shuf:$epoch:"), col(idCol).cast("string"))), 1, 12),
      16, 10).cast("long")
    val withKey = df
      .withColumn("__h", h)
      .withColumn("__b", pmod(col("__h"), lit(nBuckets.toLong)))
    val local = Window.partitionBy(col("__b"))
      .orderBy(col("__h").asc, col(idCol).asc)
    val ranked = withKey.withColumn("__rn", row_number().over(local))
    val offsets = withKey.groupBy(col("__b")).agg(count(lit(1)).as("__c"))
      .withColumn("__off",
        coalesce(sum(col("__c")).over(
          Window.orderBy(col("__b"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__off"))
    ranked.join(broadcast(offsets), "__b")
      .withColumn("epoch_pos", col("__off") + col("__rn") - 1)
      .drop("__h", "__b", "__rn", "__off")
  }

  /** Top-`k` collocations by pointwise mutual information over adjacent
    * word pairs: `pmi = ln(c_ab · N / (c_a · c_b))`, with `c_ab` the
    * bigram count, `N` the corpus bigram total, and marginals `c_a`,
    * `c_b` counted from the token stream (the bigram-table convention,
    * Church & Hanks, CL 16(1) 1990). Pairs below `minCount` are noise
    * (PMI's known low-frequency pathology) and are dropped before
    * ranking.
    *
    * Shuffle profile: one bigram-keyed aggregation (map-side combined —
    * partitions emit distinct-pair partials, not raw pairs), one
    * vocabulary-sized unigram aggregation joined onto the pair table
    * twice (vocab-sized build sides, auto-broadcast), and a top-k over
    * the surviving pairs (per-partition heaps). Nothing corpus-sized
    * ever sorts. Cross-engine exactness: the output carries only the
    * EXACT integers `(c_ab, c_a, c_b, nbig)` — the PMI itself is
    * `ln(c_ab·nbig/(c_a·c_b))`, one local `ln` away for a consumer —
    * and the ranking key is the rational `c_ab·nbig/(c_a·c_b)` (the
    * same ordering as PMI, since ln is monotone) evaluated as double
    * multiply/divide only. IEEE-754 REQUIRES those ops (and the
    * int→double conversions) to be correctly rounded, so any engine
    * ranks identically; `ln` carries no such guarantee across libm
    * implementations, which is why no transcendental appears in either
    * the values or the sort key. Ranking ties break on (w1, w2).
    */
  def pmiTopK(df: DataFrame, textCol: String, k: Int,
              minCount: Long = 5L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = df.select(
      TextFunctions.tokens(col(textCol)).as("__t")).where(size(col("__t")) > 0)
    val bigrams = toks.select(explode(expr(
        """transform(slice(__t, 1, greatest(size(__t) - 1, 0)),
          |  (x, i) -> struct(x AS w1, element_at(__t, i + 2) AS w2))"""
          .stripMargin)).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val pairCounts = bigrams.groupBy("w1", "w2")
      .agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minCount)
    val uniCounts = toks.select(explode(col("__t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val n = bigrams.agg(count(lit(1)).as("nbig"))
    pairCounts
      .join(broadcast(uniCounts.withColumnRenamed("w", "w1")
        .withColumnRenamed("c", "c_a")), "w1")
      .join(broadcast(uniCounts.withColumnRenamed("w", "w2")
        .withColumnRenamed("c", "c_b")), "w2")
      .crossJoin(broadcast(n))
      .withColumn("__ratio",
        (col("c_ab").cast("double") * col("nbig").cast("double")) /
          (col("c_a").cast("double") * col("c_b").cast("double")))
      .orderBy(col("__ratio").desc, col("w1").asc, col("w2").asc)
      .limit(k)
      .select("w1", "w2", "c_ab", "c_a", "c_b", "nbig")
  }

  /** Corpus-wide blocklist census: `(phrase, n_docs, n_hits)` per phrase
    * with at least one hit — the audit that sizes a blocklist BEFORE the
    * destructive filter runs ("how much would this list remove?"). One
    * Aho–Corasick pass per document ([[TextFunctions.blocklistCounts]]),
    * then a phrase-keyed aggregation whose input rows are (int, long)
    * pairs — map-side partial collapse means each partition contributes
    * at most #phrases rows to the exchange, so the shuffle is
    * #partitions × #phrases no matter the corpus size.
    */
  def blocklistCensus(df: DataFrame, textCol: String,
                      phrases: Seq[String]): DataFrame =
    df.select(posexplode(TextFunctions.blocklistCounts(
        coalesce(col(textCol), lit("")), phrases)).as(Seq("__pi", "__cnt")))
      .where(col("__cnt") > 0)
      .groupBy("__pi")
      .agg(count(lit(1)).as("n_docs"), sum("__cnt").as("n_hits"))
      .select(element_at(array(phrases.map(lit): _*), col("__pi") + 1)
        .as("phrase"), col("n_docs"), col("n_hits"))

  /** Keep documents whose total blocklist hits are ≤ `maxHits` (0 = the
    * C4 badwords gate: any hit drops the doc). Map-only — the filter
    * fuses into the scan projection and nothing shuffles.
    */
  def blocklistFilter(df: DataFrame, textCol: String, phrases: Seq[String],
                      maxHits: Long = 0L): DataFrame =
    df.where(TextFunctions.blocklistHits(
      coalesce(col(textCol), lit("")), phrases) <= maxHits)

  /** Per-document readability census — Flesch Reading Ease and
    * Flesch–Kincaid grade level (Kincaid et al. 1975), the classic
    * inputs to educational-quality document scoring. All three counts
    * are deterministic so a SQL oracle reproduces the scores
    * bit-for-bit:
    *
    *  - words      = whitespace tokens
    *  - sentences  = maximal `[.!?]+` runs, clamped to ≥ 1 for any
    *    non-empty text (unpunctuated prose is one long sentence, not a
    *    division by zero)
    *  - syllables  = per word, the count of vowel-GROUP runs
    *    `[aeiouy]+` in the lowercased token, clamped to ≥ 1 (a
    *    digits-only token still costs one syllable) — the standard
    *    dictionary-free heuristic; it over/under-counts silent-e words
    *    equally across engines, which is what matters for a FILTER
    *    feature (the absolute scale is calibrated downstream)
    *
    * The syllable count is COMPUTED doc-level, not per token: vowel
    * runs cannot span a token boundary (tokens split on whitespace,
    * and whitespace is never a vowel), so Σ_tokens runs(token) equals
    * one whole-doc `[aeiouy]+` count — and the per-token ≥ 1 clamp
    * adds exactly the number of vowel-LESS tokens, which is W minus
    * one whole-doc count of `[^\s]*[aeiouy][^\s]*` runs (greedy `\S*`
    * expands each match to its full token, so every vowel-bearing
    * token matches exactly once). Two whole-doc regex passes replace
    * W per-token regex invocations — value-identical by construction
    * (pinned by a CorpusSpec equivalence property over fuzzed
    * Unicode), ~W× fewer regex-engine entries per document. ASCII
    * lowercasing is context-free per char, so doc-level lower() and
    * per-token lower() agree on `[aeiouy]` membership (the one
    * context-SENSITIVE case, Greek final sigma, is outside the class
    * either way).
    *
    *   ease  = 206.835 − 1.015·(W/S) − 84.6·(Y/W)
    *   grade = 0.39·(W/S) + 11.8·(Y/W) − 15.59
    *
    * Empty/null text → zero counts, null scores. Map-only: token and
    * regex arithmetic inside the scan projection, nothing shuffles.
    *
    * @return (idCol, n_words, n_sentences, n_syllables, reading_ease,
    *         fk_grade)
    */
  def readabilityCensus(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val txt = coalesce(col(textCol), lit(""))
    val toks = TextFunctions.tokens(txt)
    val w = size(toks)
    val sRaw = size(regexp_extract_all(txt, lit("[.!?]+"), lit(0)))
    val s = greatest(sRaw, lit(1))
    val low = lower(txt)
    // doc-level syllables: whole-doc vowel-run count + the vowel-less
    // token clamp (W − vowel-bearing tokens) — see the scaladoc proof
    val runs = size(regexp_extract_all(low, lit("[aeiouy]+"), lit(0)))
    val vowelToks = size(regexp_extract_all(low,
      lit("[^\\s]*[aeiouy][^\\s]*"), lit(0)))
    val y = runs + (w - vowelToks)
    def d(c: Column) = c.cast("double")
    graft.GraftSession.spreadScan(df).select(col(idCol),
      w.cast("long").as("n_words"),
      when(w === 0, lit(0L)).otherwise(s.cast("long")).as("n_sentences"),
      y.cast("long").as("n_syllables"),
      when(w > 0, round(
        lit(206.835) - lit(1.015) * (d(w) / d(s)) -
          lit(84.6) * (d(y) / d(w)), 9)).as("reading_ease"),
      when(w > 0, round(
        lit(0.39) * (d(w) / d(s)) + lit(11.8) * (d(y) / d(w)) -
          lit(15.59), 9)).as("fk_grade"))
  }

  /** Per-document typed PII census — the measurement half of a
    * redaction pipeline (the BigCode/CCNet pattern: census first to
    * size the problem and tune patterns, then scrub with
    * [[TextFunctions.scrubPii]]). Counts per document:
    *
    *  - `n_email`   — RFC-ish mailbox matches
    *  - `n_ipv4`    — dotted quads whose four octets are all ≤ 255
    *    (the shape regex alone counts `999.999.999.999` — the octet
    *    gate is the precision step)
    *  - `n_phone`   — phone-shaped runs (digits with `()`/space/./-
    *    separators, ≥ 7 digits-ish) — recall-oriented by design
    *  - `n_card`    — card-shaped runs (13–19 digits after separator
    *    strip) that PASS the Luhn mod-10 check
    *    ([[TextFunctions.luhnValid]])
    *  - `n_card_like` — card-shaped runs that FAIL Luhn: the
    *    false-positive mass the check filtered, worth monitoring (a
    *    rising ratio means a new digit-run artifact in the corpus)
    *
    * Families are counted INDEPENDENTLY over the raw text: a card
    * number is usually also a phone-shaped run, and that's reported,
    * not deduplicated — the census measures pattern exposure, it does
    * not partition spans. All patterns live in the Java/RE2-shared
    * regex subset (no lookahead/backrefs; `\b` means the same word
    * boundary in both), so a SQL oracle reproduces the counts exactly.
    * Map-only: one projection over the scan, nothing shuffles, bodies
    * never leave their task.
    */
  def piiCensus(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val txt = coalesce(col(textCol), lit(""))
    val ips = regexp_extract_all(txt,
      lit("\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"), lit(0))
    val ipValid = filter(ips, c =>
      !exists(split(c, "\\."), o => o.cast("int") > 255))
    val cardDigits = transform(
      regexp_extract_all(txt, lit("\\b[0-9][0-9 -]{11,21}[0-9]\\b"), lit(0)),
      c => regexp_replace(c, "[^0-9]", ""))
    val sized = filter(cardDigits,
      d => length(d) >= 13 && length(d) <= 19)
    val luhnOk = filter(sized, d => TextFunctions.luhnValid(d))
    df.select(col(idCol),
      size(regexp_extract_all(txt,
        lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit(0)))
        .cast("long").as("n_email"),
      size(ipValid).cast("long").as("n_ipv4"),
      size(regexp_extract_all(txt,
        lit("\\+?[0-9][0-9() .-]{5,}[0-9]"), lit(0)))
        .cast("long").as("n_phone"),
      size(luhnOk).cast("long").as("n_card"),
      (size(sized) - size(luhnOk)).cast("long").as("n_card_like"))
  }

  /** Zipf rank–frequency fit over the corpus vocabulary (Zipf 1949;
    * the log–log OLS convention of Moreno-Sánchez et al. 2016): rank
    * the top-`maxRank` token types by frequency and regress
    * `ln cnt` on `ln rank`. A natural corpus reads slope ≈ −1;
    * template/spam/synthetic text bends the curve (flatter head =
    * copy-paste boilerplate, steeper tail = token salad), so the
    * slope is a one-number corpus-health signal that complements the
    * per-document gates ([[repetitionSignals]], [[qualitySignals]]).
    *
    * Cross-engine exactness: both regression inputs are `ln` of
    * INTEGRAL doubles (a rank, a count — the proven-safe class), the
    * per-rank products are correctly-rounded double multiplies, the
    * five OLS sums accumulate in DECIMAL(30,15) (order-free), and the
    * closing slope/intercept/r² arithmetic is scalar double ops in
    * pinned association order over one row — every step reproduces
    * bit-for-bit on any engine and any partitioning.
    *
    * Shuffle profile: one vocab-sized token count aggregation
    * (map-side partials), a top-`maxRank` TakeOrdered (per-partition
    * heaps — nothing corpus-sized sorts), then rank assignment and the
    * OLS rollup over `maxRank` rows. Scale ceiling is the vocabulary
    * aggregation, the same exchange [[pmiTopK]] and x_vocab already
    * pay.
    *
    * @return one row: (n_ranks, zipf_slope, zipf_intercept, r2)
    */
  def zipfFit(df: DataFrame, textCol: String, maxRank: Int = 500): DataFrame = {
    require(maxRank >= 2, s"maxRank must be >= 2, got $maxRank")
    val top = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__t").asc)
      .limit(maxRank)
      // maxRank rows from here on — the single-partition window is a
      // window over a driver-bounded frame, not a corpus sort
      .withColumn("__r",
        row_number().over(Window.orderBy(col("__c").desc, col("__t").asc)))
    val x = log(col("__r").cast("double"))
    val y = log(col("__c").cast("double"))
    def dsum(c: Column) = sum(c.cast(DecimalType(30, 15))).cast("double")
    val s = top.agg(
      count(lit(1)).as("n_ranks"),
      dsum(x).as("__sx"), dsum(y).as("__sy"), dsum(x * y).as("__sxy"),
      dsum(x * x).as("__sxx"), dsum(y * y).as("__syy"))
    val nD = col("n_ranks").cast("double")
    // pinned association order — the SQL oracle spells the identical tree
    val dn = nD * col("__sxy") - col("__sx") * col("__sy")
    val dx = nD * col("__sxx") - col("__sx") * col("__sx")
    val dy = nD * col("__syy") - col("__sy") * col("__sy")
    s.select(col("n_ranks"),
      round(dn / dx, 9).as("zipf_slope"),
      round((col("__sy") - (dn / dx) * col("__sx")) / nD, 9)
        .as("zipf_intercept"),
      round((dn * dn) / (dx * dy), 9).as("r2"))
  }

  /** Heaps'-law vocabulary growth curve (Heaps 1978): cumulative
    * distinct token types vs cumulative tokens, checkpointed every
    * `bucketWidth` documents in `idCol` order. The curve is THE
    * dataset-sizing instrument for tokenizer training and dedup
    * planning — "how much new vocabulary does the next shard buy?" —
    * and a flattening curve is the classic saturation/duplication
    * signal (a heavily duplicated crawl stops growing types long
    * before it stops growing tokens).
    *
    * A type is charged to the bucket of the FIRST document (minimum
    * id) containing it, so `cum_types` at bucket b is exactly the
    * distinct-type count of documents with id < (b+1)·bucketWidth —
    * the prefix semantics, computed without any per-prefix rescan.
    *
    * Shuffle profile: one doc-bucket aggregation for the token spine,
    * one vocab-sized min-bucket aggregation (map-side combined) for
    * first occurrences, then the cumulative window runs over the
    * BUCKET table (corpus/bucketWidth rows — config-sized; the only
    * ordered window never touches corpus-sized data). Output is exact
    * integers end-to-end — nothing to round, nothing engine-variant.
    *
    * @return (bucket, n_docs, new_types, cum_tokens, cum_types)
    */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
                  bucketWidth: Long = 1000L): DataFrame = {
    require(bucketWidth >= 1L, s"bucketWidth must be >= 1, got $bucketWidth")
    val withB = df.select(
      (col(idCol) - pmod(col(idCol), lit(bucketWidth))).cast("long")
        .divide(lit(bucketWidth)).cast("long").as("__b"),
      TextFunctions.tokens(col(textCol)).as("__tk"))
    val spine = withB.groupBy(col("__b")).agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("__tk")).cast("long")).as("__nt"))
    val firsts = withB
      .select(col("__b"), explode(col("__tk")).as("__t"))
      .groupBy(col("__t")).agg(min(col("__b")).as("__fb"))
      .groupBy(col("__fb")).agg(count(lit(1)).as("__new"))
    val w = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(firsts.withColumnRenamed("__fb", "__b"), Seq("__b"), "left")
      .withColumn("new_types", coalesce(col("__new"), lit(0L)))
      .select(col("__b").as("bucket"), col("n_docs"), col("new_types"),
        sum(col("__nt")).over(w).as("cum_tokens"),
        sum(col("new_types")).over(w).as("cum_types"))
  }

  /** Top-`k` collocations by Pearson chi-square over the bigram 2×2
    * contingency table (Manning & Schütze 1999 §5.3.3 — the hypothesis-
    * test counterpart of [[pmiTopK]]: PMI over-rewards rare pairs even
    * above `minCount`; chi² weighs the evidence, so frequent-but-glued
    * pairs rank where PMI buries them). Marginals come from the bigram
    * table itself: `r1 = c(w1, ·)`, `c1 = c(·, w2)`, `N` total bigrams,
    * so `O11 = c_ab`, `O12 = r1 − c_ab`, `O21 = c1 − c_ab`,
    * `O22 = N − r1 − c1 + c_ab` and
    *
    *   chi² = N · (O11·O22 − O12·O21)² / (r1 · c1 · (N−r1) · (N−c1))
    *
    * Cross-engine exactness: every O is exact LONG arithmetic cast to
    * double (integral, exactly representable), and the chi² expression
    * is correctly-rounded double multiplies/divides in pinned
    * association order — no transcendental anywhere, so the ROUND(.,9)
    * values and the (chi2, w1, w2) ranking reproduce bit-for-bit on any
    * engine. The exact integers (c_ab, r1, c1, nbig) ride along.
    *
    * Shuffle profile: one bigram-keyed aggregation (map-side combined),
    * two vocab-sized marginal rollups of THAT table (not the raw
    * stream) broadcast back onto it, and a top-k TakeOrdered. Nothing
    * corpus-sized sorts.
    */
  def chi2Collocations(df: DataFrame, textCol: String, k: Int,
                       minCount: Long = 5L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = df.select(
      TextFunctions.tokens(col(textCol)).as("__t")).where(size(col("__t")) > 0)
    val bigrams = toks.select(explode(expr(
        """transform(slice(__t, 1, greatest(size(__t) - 1, 0)),
          |  (x, i) -> struct(x AS w1, element_at(__t, i + 2) AS w2))"""
          .stripMargin)).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val pairCounts = bigrams.groupBy("w1", "w2")
      .agg(count(lit(1)).as("c_ab"))
    val r1 = pairCounts.groupBy("w1").agg(sum(col("c_ab")).as("r1"))
    val c1 = pairCounts.groupBy("w2").agg(sum(col("c_ab")).as("c1"))
    val n = pairCounts.agg(sum(col("c_ab")).as("nbig"))
    // O12/O21/O22 in exact long arithmetic; cast-to-double is exact for
    // anything < 2^53 (documented bound: N below ~9e15 bigrams)
    val d =
      col("c_ab").cast("double") *
        (col("nbig") - col("r1") - col("c1") + col("c_ab")).cast("double") -
      (col("r1") - col("c_ab")).cast("double") *
        (col("c1") - col("c_ab")).cast("double")
    pairCounts.where(col("c_ab") >= minCount)
      .join(broadcast(r1), "w1")
      .join(broadcast(c1), "w2")
      .crossJoin(broadcast(n))
      .withColumn("__d", d)
      .withColumn("chi2", round(
        (col("nbig").cast("double") * (col("__d") * col("__d"))) /
          ((col("r1").cast("double") * col("c1").cast("double")) *
            ((col("nbig") - col("r1")).cast("double") *
              (col("nbig") - col("c1")).cast("double"))), 9))
      .orderBy(col("chi2").desc, col("w1").asc, col("w2").asc)
      .limit(k)
      .select("w1", "w2", "c_ab", "r1", "c1", "nbig", "chi2")
  }

  /** Phonetic spelling-variant census over the vocabulary: bucket
    * token types by [[TextFunctions.soundexCode]] and keep buckets
    * holding ≥ `minSpellings` DISTINCT spellings — the candidate
    * list a record-linkage/name-normalization pass reviews, and the
    * blocking-key quality audit (bucket sizes ARE the join fan-out a
    * soundex-blocked linkage would pay; a huge bucket here is the
    * skew warning). Top-`k` by total occurrences, min/max spellings
    * ride along as witnesses.
    *
    * Shuffle profile: one vocab-sized token count (map-side
    * combined), the code computed map-side on the DISTINCT vocab
    * (never per occurrence), one code-keyed rollup of that vocab
    * table, a top-k TakeOrdered. Nothing corpus-sized sorts.
    */
  def phoneticVariants(df: DataFrame, textCol: String, k: Int,
                       minSpellings: Long = 2L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.select(explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
      .withColumn("__sdx", TextFunctions.soundexCode(col("__t")))
      .where(col("__sdx").isNotNull)
      .groupBy(col("__sdx").as("sdx"))
      .agg(count(lit(1)).as("n_spellings"), sum(col("__c")).as("n_tokens"),
        min(col("__t")).as("spelling_min"), max(col("__t")).as("spelling_max"))
      .where(col("n_spellings") >= minSpellings)
      .orderBy(col("n_tokens").desc, col("sdx").asc)
      .limit(k)
  }

  /** Per-document n-gram novelty against everything EARLIER in id
    * order: a distinct n-gram is charged to its minimum-id document
    * ([[vocabGrowth]]'s prefix semantics at gram granularity), and
    * each document reports how much of it is new. THE crawl-snapshot
    * triage signal — a re-crawl whose novel_ppm collapses is
    * re-downloading yesterday's web, and ordering shards by novelty
    * is the cheap curriculum/dedup pre-pass before MinHash runs.
    *
    * Grams hash to xxhash64 INSIDE the per-doc array (the dedup runs
    * on 8-byte longs, not O(n²) string equality — measured 16.8 →
    * well under half scoped at sf0.1) and only hashes ever shuffle
    * (identical counts modulo a 64-bit collision, the bigramNll
    * convention). Exact integers + the floor-ppm rational; empty/
    * short docs report 0 grams and a null ppm.
    *
    * Shuffle profile: ONE hash-keyed exchange total. `n_grams` is the
    * SIZE of the per-doc distinct-hash array — map-only, inside the
    * scan projection. `n_novel` falls straight out of the
    * gram→min(id) aggregation re-rolled by that min (a gram is novel
    * exactly once, AT its min), so there is no corpus-sized join-back
    * and no per-gram window — the two earlier shapes (agg + join
    * back; min-over-hash-partition window) measured 16.8 s and 12.6 s
    * scoped at sf0.1 against this one's ~3 s. Bodies never shuffle.
    *
    * @return (idCol, n_grams, n_novel, novel_ppm)
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val id = col(idCol)
    // tokenize ONCE into a bound column (the bigramNll discipline):
    // element_at over the raw tokens(...) tree re-splits the text per
    // gram element — O(tokens²) regex work per document (this query
    // measured 16-26 s scoped at sf0.1 before the binding)
    val tok = col("__tk")
    val gramArr = array_distinct(transform(
      when(size(tok) < n, array().cast("array<string>")).otherwise(
        transform(sequence(lit(1), size(tok) - (n - 1)),
          i => concat_ws(" ",
            (0 until n).map(k => element_at(tok, i + k)): _*))),
      g => xxhash64(g)))
    val bound = df.select(id, TextFunctions.tokens(col(textCol)).as("__tk"))
    val perDoc = bound.select(id, size(gramArr).cast("long").as("n_grams"))
    val novel = bound.select(id.as("__id"), explode(gramArr).as("__h"))
      .groupBy(col("__h")).agg(min(col("__id")).as("__fid"))
      .groupBy(col("__fid")).agg(count(lit(1)).as("n_novel"))
      .withColumnRenamed("__fid", idCol)
    perDoc.join(novel, Seq(idCol), "left")
      .select(id, col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        expr(Stats.ppmSql("coalesce(n_novel, 0L)", "n_grams"))
          .as("novel_ppm"))
  }

  /** Corpus-level character bigram conditional entropy — the order-1
    * entropy-rate estimate `H(Y|X) = Σ c_xy·(ln c_x − ln c_xy) / N`
    * over adjacent code-point pairs, with the order-0 marginal
    * `H(X) = Σ c_x·(ln N − ln c_x) / N` beside it. The gap between
    * them is how much one character of context compresses the next —
    * collapsed H(Y|X) at normal H(X) reads as templated/machine text,
    * both collapsed reads as low-diversity spam; the corpus-level
    * companion to the per-document [[charEntropy]] gate.
    *
    * Every `ln` input is an integral count, products are single
    * double ops, sums ride DECIMAL(30,15) (order-free), closes are
    * pinned-order doubles. Shuffle profile: one alphabet²-sized
    * pair-count aggregation (map-side combined — partitions emit
    * distinct-pair partials), a context rollup OF that table, a
    * scalar close. Nothing corpus-sized shuffles.
    *
    * @return one row: (n_bigrams, n_contexts, n_distinct_bigrams,
    *         h_cond, h_marginal)
    */
  def charBigramEntropy(df: DataFrame, textCol: String): DataFrame = {
    val d3015 = DecimalType(30, 15)
    val txt = coalesce(col(textCol), lit(""))
    val pairs = df.select(txt.as("__t")).where(length(col("__t")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("__t")) - 1),
        j => col("__t").substr(j, lit(2)))).as("__p"))
    val c2 = pairs.groupBy(col("__p")).agg(count(lit(1)).as("__c2"))
    val cx = c2.groupBy(substring(col("__p"), 1, 1).as("__x"))
      .agg(sum(col("__c2")).as("__cx"))
    val tot = c2.agg(sum(col("__c2")).as("__n"),
      count(lit(1)).as("n_distinct_bigrams"))
    val hc = c2.withColumn("__x", substring(col("__p"), 1, 1))
      .join(broadcast(cx), Seq("__x"))
      .agg(sum((col("__c2").cast("double") *
        (log(col("__cx").cast("double")) - log(col("__c2").cast("double"))))
        .cast(d3015)).cast("double").as("__hc"))
    val hm = cx.crossJoin(broadcast(tot))
      .groupBy(col("__n"))
      .agg(count(lit(1)).as("n_contexts"),
        sum((col("__cx").cast("double") *
          (log(col("__n").cast("double")) - log(col("__cx").cast("double"))))
          .cast(d3015)).cast("double").as("__hm"))
    hm.crossJoin(broadcast(hc)).crossJoin(broadcast(tot.drop("__n")))
      .select(col("__n").as("n_bigrams"), col("n_contexts"),
        col("n_distinct_bigrams"),
        round(col("__hc") / col("__n").cast("double"), 9).as("h_cond"),
        round(col("__hm") / col("__n").cast("double"), 9).as("h_marginal"))
  }

  /** Jensen–Shannon divergence between the unigram distributions of
    * two corpus slices — the bounded, symmetric "how different are
    * these two corpora" scalar (0 = identical token mix, ln 2 =
    * disjoint vocabularies): snapshot-vs-snapshot crawl drift, domain
    * mix shift, source fingerprinting. With slice counts `a/A`, `b/B`
    * and the ½-mixture M:
    *
    *   JS = ½·Σ (a/A)·[ln(2aB) − ln(aB + bA)]
    *      + ½·Σ (b/B)·[ln(2bA) − ln(aB + bA)]
    *
    * — the mixture algebra multiplied through so every `ln` input is
    * an exact INTEGER product (2aB, aB+bA ≤ 2·cf·N < 2⁵³ documented
    * bound; zero counts vanish by continuity). Sums ride
    * DECIMAL(30,15); the close is pinned-order doubles, with
    * `js_bits` via a baked 1/ln2 literal (no runtime transcendental).
    *
    * Shuffle profile: ONE vocab-sized two-slice count aggregation
    * (map-side combined), a 1-row total broadcast, a scalar close.
    *
    * @return one row: (n_tokens_a, n_tokens_b, vocab_union, js, js_bits)
    */
  def jsDivergence(df: DataFrame, textCol: String, sliceCol: String,
                   sliceA: String, sliceB: String): DataFrame = {
    val d3015 = DecimalType(30, 15)
    val counts = df
      .where(col(sliceCol) === sliceA || col(sliceCol) === sliceB)
      .select(col(sliceCol).as("__s"),
        explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .groupBy(col("__t"))
      .agg(sum(when(col("__s") === sliceA, 1L).otherwise(0L)).as("__a"),
        sum(when(col("__s") === sliceB, 1L).otherwise(0L)).as("__b"))
    val tot = counts.agg(sum(col("__a")).as("__ta"),
      sum(col("__b")).as("__tb"), count(lit(1)).as("vocab_union"))
    val withTot = counts.crossJoin(broadcast(tot))
    val mixLn = log((col("__a") * col("__tb") +
      col("__b") * col("__ta")).cast("double"))
    val termA = when(col("__a") > 0, col("__a").cast("double") *
      (log((lit(2L) * col("__a") * col("__tb")).cast("double")) - mixLn))
      .otherwise(lit(0.0))
    val termB = when(col("__b") > 0, col("__b").cast("double") *
      (log((lit(2L) * col("__b") * col("__ta")).cast("double")) - mixLn))
      .otherwise(lit(0.0))
    val js = (col("__s1") / col("__ta").cast("double") +
      col("__s2") / col("__tb").cast("double")) / lit(2.0)
    withTot
      .groupBy(col("__ta"), col("__tb"), col("vocab_union"))
      .agg(sum(termA.cast(d3015)).cast("double").as("__s1"),
        sum(termB.cast(d3015)).cast("double").as("__s2"))
      .select(col("__ta").as("n_tokens_a"), col("__tb").as("n_tokens_b"),
        col("vocab_union"), round(js, 9).as("js"),
        // 1/ln 2 as an exact shared literal — parses to the same
        // double on any engine, unlike a runtime log(2.0)
        round(js * lit(1.4426950408889634), 9).as("js_bits"))
  }

  /** Dunning log-likelihood keyness (Dunning 1993; the Rayson–Garside
    * corpus-comparison table): for each token, the G² statistic of
    * its 2×2 slice contingency — the per-word drill-down under a
    * corpus-distance scalar ([[jsDivergence]] says THE MIX MOVED;
    * keyness says WHICH WORDS did it). With slice counts a/A, b/B,
    * N = A+B and expected counts from the marginals:
    *
    *   G² = 2·Σ_cell o·ln(o·N / (rowTotal·colTotal))
    *
    * over the four cells (a, A−a, b, B−b) — every `ln` input an exact
    * integer product (o·N, row·col ≤ N² < 2⁵³ documented bound), zero
    * cells vanish. `enriched_in` names the over-represented slice by
    * the exact cross-product comparison a·B vs b·A (no division).
    * Ranked by ROUND(g2, 9) desc with (token) ties — deterministic on
    * any engine because the ln class is exact.
    *
    * Shuffle profile = [[jsDivergence]] + a top-k TakeOrdered.
    *
    * @return top-`k` rows: (token, cnt_a, cnt_b, g2, enriched_in)
    */
  def keyness(df: DataFrame, textCol: String, sliceCol: String,
              sliceA: String, sliceB: String, k: Int,
              minCount: Long = 5L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = df
      .where(col(sliceCol) === sliceA || col(sliceCol) === sliceB)
      .select(col(sliceCol).as("__s"),
        explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .groupBy(col("__t"))
      .agg(sum(when(col("__s") === sliceA, 1L).otherwise(0L)).as("__a"),
        sum(when(col("__s") === sliceB, 1L).otherwise(0L)).as("__b"))
    val tot = counts.agg(sum(col("__a")).as("__ta"),
      sum(col("__b")).as("__tb"))
    def cell(o: Column, rowTot: Column, colTot: Column) =
      when(o > 0, o.cast("double") *
        (log((o * (col("__ta") + col("__tb"))).cast("double")) -
          log((rowTot * colTot).cast("double")))).otherwise(lit(0.0))
    val row = col("__a") + col("__b")
    val rowC = (col("__ta") - col("__a")) + (col("__tb") - col("__b"))
    // per-token close: four pinned-order double terms — no aggregation,
    // so no decimal ladder is needed
    val g2 = round(lit(2.0) * (
      (cell(col("__a"), row, col("__ta")) +
        cell(col("__ta") - col("__a"), rowC, col("__ta"))) +
      (cell(col("__b"), row, col("__tb")) +
        cell(col("__tb") - col("__b"), rowC, col("__tb")))), 9)
    counts.where(col("__a") + col("__b") >= minCount)
      .crossJoin(broadcast(tot))
      .select(col("__t").as("token"), col("__a").as("cnt_a"),
        col("__b").as("cnt_b"), g2.as("g2"),
        when(col("__a") * col("__tb") > col("__b") * col("__ta"),
          lit(sliceA)).otherwise(lit(sliceB)).as("enriched_in"))
      .orderBy(col("g2").desc, col("token").asc)
      .limit(k)
  }

  /** Burrows' Delta stylometric distance between sources (Burrows
    * 2002; the standard authorship/provenance attribution measure):
    * over the corpus's top-`kWords` words, each source's relative
    * frequencies z-standardize ACROSS sources, and
    * `Δ(s1,s2) = Σ_w |z_w(s1) − z_w(s2)| / K`. High-frequency words
    * are exactly the style carriers individual authors/templates
    * can't help repeating — so a near-zero Δ between two "different"
    * sources is the mirrored-feed/same-generator detector, and a
    * source far from every other is a provenance anomaly.
    *
    * Determinism ladder: counts exact; each relative frequency is one
    * double divide; means/variances accumulate source-count-sized
    * sums in DECIMAL(30,15); σ via IEEE sqrt; z and the K-term |Δ|
    * sum pinned-order doubles with another decimal accumulation.
    * Words with zero cross-source variance contribute nothing (the
    * σ=0 guard, not a NaN). Output rounds at 9 (values O(1),
    * ladder noise ~1e-14).
    *
    * Shuffle profile: one (source, word) count aggregation (map-side
    * combined), a top-K word table (TakeOrdered, broadcast), then
    * everything is (K × sources)-sized — the pair join included.
    *
    * @return one row per unordered source pair: (src_a, src_b,
    *         n_words, delta), ordered by (src_a, src_b)
    */
  def burrowsDelta(df: DataFrame, textCol: String, sourceCol: String,
                   kWords: Int = 30): DataFrame = {
    require(kWords >= 1, s"kWords must be >= 1, got $kWords")
    val d3015 = DecimalType(30, 15)
    val sw = df.select(col(sourceCol).as("__src"),
        explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .groupBy(col("__src"), col("__t")).agg(count(lit(1)).as("__c"))
    val topWords = sw.groupBy(col("__t"))
      .agg(sum(col("__c")).as("__cf"))
      .orderBy(col("__cf").desc, col("__t").asc)
      .limit(kWords).select(col("__t"))
    val srcTot = sw.groupBy(col("__src")).agg(sum(col("__c")).as("__n"))
    val nSrc = srcTot.agg(count(lit(1)).as("__k")).head().getLong(0)
    require(nSrc >= 2, s"need at least 2 sources, got $nSrc")
    // dense (source x word) grid so absent words count as f = 0
    val grid = srcTot.crossJoin(broadcast(topWords))
      .join(sw, Seq("__src", "__t"), "left")
      .select(col("__src"), col("__t"),
        (coalesce(col("__c"), lit(0L)).cast("double") /
          col("__n").cast("double")).as("__f"))
    val stats = grid.groupBy(col("__t"))
      .agg((sum(col("__f").cast(d3015)).cast("double") /
        lit(nSrc.toDouble)).as("__mu"),
        sum((col("__f") * col("__f")).cast(d3015)).cast("double").as("__f2"))
      .select(col("__t"), col("__mu"),
        // clamp before sqrt: a zero-variance word's f2/k − mu² can land
        // one ulp NEGATIVE, and sqrt(−ε) = NaN passes the σ > 0 guard
        // (both Spark and DuckDB order NaN greater than everything)
        sqrt(greatest((col("__f2") / lit(nSrc.toDouble)) -
          col("__mu") * col("__mu"), lit(0.0))).as("__sigma"))
    val z = grid.join(broadcast(stats), Seq("__t"))
      .select(col("__src"), col("__t"),
        when(col("__sigma") > 0,
          (col("__f") - col("__mu")) / col("__sigma"))
          .otherwise(lit(0.0)).as("__z"))
    z.as("a").join(z.as("b"),
        col("a.__t") === col("b.__t") && col("a.__src") < col("b.__src"))
      .groupBy(col("a.__src").as("src_a"), col("b.__src").as("src_b"))
      .agg(count(lit(1)).as("n_words"),
        sum(abs(col("a.__z") - col("b.__z")).cast(d3015))
          .cast("double").as("__d"))
      .select(col("src_a"), col("src_b"), col("n_words"),
        round(col("__d") / col("n_words").cast("double"), 9).as("delta"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Simpson repeat-rate of the vocabulary (Simpson 1949 applied to
    * tokens — Herdan's "repeat rate"): the probability two tokens
    * drawn without replacement are the SAME type,
    * `R = Σ c·(c−1) / (N·(N−1))`, as the exact integer rational plus
    * one double divide. The corpus-level lexical-concentration dual
    * of [[zipfFit]]'s slope and the per-document type-token ratios:
    * rising R across snapshots = the corpus is converging on
    * boilerplate. Exact integers end-to-end; documented bound
    * Σ c² < 2⁶³. One vocab-sized aggregation + scalar close.
    *
    * @return one row: (n_tokens, n_types, rr_num, rr_den, repeat_rate)
    */
  def simpsonRepeatRate(df: DataFrame, textCol: String): DataFrame = {
    val counts = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
    counts.agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("__c") * (col("__c") - lit(1L))).as("rr_num"))
      .select(col("n_tokens"), col("n_types"), col("rr_num"),
        (col("n_tokens") * (col("n_tokens") - lit(1L))).as("rr_den"),
        round(col("rr_num").cast("double") /
          nullif((col("n_tokens") * (col("n_tokens") - lit(1L)))
            .cast("double"), lit(0.0)), 9).as("repeat_rate"))
  }

  /** Code-vs-prose census — the pretraining-mix routing signal
    * (code-heavy documents want a different tokenizer budget, dedup
    * granularity and quality gate than prose; StarCoder/RedPajama
    * pipelines route on exactly these surface features). Per document,
    * five deterministic counts over the shared Java/RE2 regex subset:
    *
    *  - `n_lines`   newline-split line count (0 for empty/null)
    *  - `n_indent`  lines opening with ≥2 spaces/tabs then a glyph
    *    (`(?m)` multiline anchors — block-indentation density)
    *  - `n_braces`  structural glyphs `{ } ( ) ; = [ ]`
    *  - `n_kw`      programming keywords as whole words (def, class,
    *    function, import, return, public, static, void, const, let)
    *  - `n_camel`   lower→upper camelCase transitions
    *
    * plus the routing score `3·kw + 2·indent + braces + camel` and the
    * `is_codey` verdict at `threshold` — weights and cut are corpus
    * knobs (calibrate downstream), the FEATURES are the operator.
    * Map-only: every count lives in the scan projection, bodies never
    * leave their task.
    */
  def codeProseCensus(df: DataFrame, idCol: String, textCol: String,
                      threshold: Long = 8L): DataFrame = {
    val txt = coalesce(col(textCol), lit(""))
    def cnt(pattern: String) =
      size(regexp_extract_all(txt, lit(pattern), lit(0))).cast("long")
    val nKw = cnt("\\b(def|class|function|import|return|public|static|" +
      "void|const|let)\\b")
    val nIndent = cnt("(?m)^[ \\t]{2,}\\S")
    val nBraces = cnt("[{}();=\\[\\]]")
    val nCamel = cnt("[a-z][A-Z]")
    val score = lit(3L) * nKw + lit(2L) * nIndent + nBraces + nCamel
    df.select(col(idCol),
      when(length(txt) === 0, lit(0L))
        .otherwise(size(split(txt, "\n", -1)).cast("long")).as("n_lines"),
      nIndent.as("n_indent"), nBraces.as("n_braces"), nKw.as("n_kw"),
      nCamel.as("n_camel"), score.as("code_score"),
      (score >= threshold).as("is_codey"))
  }

  /** Corpus-level RAKE keyword extraction (Rose et al. 2010, "Rapid
    * Automatic Keyword Extraction"): candidate phrases are maximal
    * token runs between stopword/punctuation breaks, each content
    * word scores `deg/freq` (degree = Σ length of phrases containing
    * it, frequency = occurrences — words living in long phrases
    * outrank words living alone), and a phrase scores the sum of its
    * words' scores. Corpus-level: phrase occurrences aggregate before
    * scoring, so the output is the corpus keyword table, not per-doc
    * keywords.
    *
    * Determinism: freq/deg are exact integers, a word score is ONE
    * double divide (correctly rounded), and the phrase sum
    * accumulates the word scores in DECIMAL(30,15) — order-free, so
    * bit-identical on any engine/partitioning. Token matching is on
    * `lower(text)`; a token with no ASCII alphanumeric is a break
    * (punctuation runs). Phrases longer than `maxPhraseLen` words are
    * dropped whole (the standard guard against unbroken boilerplate
    * runs masquerading as phrases).
    *
    * Shuffle profile: phrase extraction is map-only array work inside
    * the scan; one phrase-keyed count (map-side combined), one
    * vocab-sized word rollup of the DISTINCT phrase table, one
    * word-keyed equi-join back, one phrase-keyed score sum, top-k
    * TakeOrdered. Bodies never shuffle.
    *
    * @return top-`k` rows: (phrase, n_occur, n_words, score)
    */
  def rakeKeywords(df: DataFrame, textCol: String, stopwords: Seq[String],
                   k: Int, maxPhraseLen: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(stopwords.nonEmpty, "RAKE needs a stopword list to break on")
    val stopArr = array(stopwords.map(lit): _*)
    val marked = transform(TextFunctions.tokens(lower(col(textCol))), t =>
      when(array_contains(stopArr, t) || !t.rlike("[a-z0-9]"),
        lit("\u0001")).otherwise(t))
    val phrases = df
      .select(explode(split(concat_ws(" ", marked), "\u0001")).as("__p"))
      .select(trim(col("__p")).as("phrase"))
      .where(length(col("phrase")) > 0)
    val pt = phrases.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occur"))
      .withColumn("__ws", split(col("phrase"), " "))
      .where(size(col("__ws")) <= maxPhraseLen)
    val pw = pt.select(col("phrase"), col("n_occur"),
      size(col("__ws")).cast("long").as("__len"),
      explode(col("__ws")).as("__w"))
    val wstat = pw.groupBy(col("__w"))
      .agg(sum(col("n_occur")).as("__freq"),
        sum(col("n_occur") * col("__len")).as("__deg"))
    pw.join(wstat, Seq("__w"))
      .groupBy(col("phrase"), col("n_occur"), col("__len"))
      .agg(sum((col("__deg").cast("double") / col("__freq").cast("double"))
        .cast(DecimalType(30, 15))).cast("double").as("__s"))
      .select(col("phrase"), col("n_occur"), col("__len").as("n_words"),
        round(col("__s"), 9).as("score"))
      .orderBy(col("score").desc, col("phrase").asc)
      .limit(k)
  }

  /** Term burstiness census (Church & Gale 1995): for each token type
    * with document frequency ≥ `minDf`, the collection/document
    * frequency ratio `burst = cf/df` ("when it occurs at all, how many
    * times?") and the variance-to-mean ratio of the per-document count
    * (zeros included) — both ≈ 1 for Poisson-ish function words, ≫ 1
    * for topical content words that arrive in bursts. The classic
    * keyword/topicality signal that TF-IDF approximates; also the
    * corpus-drift tripwire (a new boilerplate template shows up as a
    * sudden high-cf high-burst type).
    *
    * Cross-engine exactness: `(cf, df, sum_c2, n_docs)` are exact
    * integers; `burst` and `vmr` are correctly-rounded double ops in
    * pinned association order over those integers — reproduces
    * bit-for-bit anywhere. Ranking is (ROUND(burst, 9) desc, token).
    *
    * Shuffle profile: one (doc, token)-keyed count collapse, one
    * vocab-sized term rollup (map-side combined — each partition emits
    * per-term partials), a 1-row doc-count broadcast, and a top-k
    * TakeOrdered. Bodies never shuffle; nothing corpus-sized sorts.
    */
  def burstiness(df: DataFrame, idCol: String, textCol: String,
                 k: Int, minDf: Long = 5L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val docTok = df.select(col(idCol).as("__id"),
        explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .groupBy(col("__id"), col("__t")).agg(count(lit(1)).as("__c"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val term = docTok.groupBy(col("__t"))
      .agg(sum(col("__c")).as("cf"), count(lit(1)).as("df"),
        sum(col("__c") * col("__c")).as("sum_c2"))
      .where(col("df") >= minDf)
      .crossJoin(broadcast(nDocs))
    val cfD = col("cf").cast("double")
    val dfD = col("df").cast("double")
    val dD = col("n_docs").cast("double")
    val s2D = col("sum_c2").cast("double")
    term.select(col("__t").as("token"), col("cf"), col("df"),
        col("sum_c2"), col("n_docs"),
        round(cfD / dfD, 9).as("burst"),
        // sample variance over ALL n_docs (zeros included) / mean —
        // pinned order, mirrored textually by the SQL oracle
        round(((s2D - (cfD * cfD) / dD) / (dD - lit(1.0))) / (cfD / dD), 9)
          .as("vmr"))
      .orderBy(col("burst").desc, col("token").asc)
      .limit(k)
  }
}
