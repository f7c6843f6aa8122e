package graft
package board

import org.apache.spark.sql.functions._

import graft.functions.{Corpus, TextFunctions => TF}
import Helpers._

/** Tokenizers, language models, lexical statistics and retrieval over
  * [[graft.functions.Corpus]] and [[graft.functions.TextFunctions]]:
  * BPE/unigram/WordPiece, n-gram NLLs, TF-IDF/BM25, vocabulary and
  * script statistics.
  */
private[graft] object LanguageQueries {

  private val unigramMaxWordLen = 12
  private val unigramMaxPieceLen = 4

  /** Word vocabulary, substring seed counts, and the single-character
    * coverage set — the base of the unigram-LM tokenizer oracle. Same
    * tokenization (trim + \s+ split) and the same 1..maxWordLen filter
    * as [[graft.functions.Corpus.unigramTrain]].
    */
  private val unigramBaseCte: String =
    s"""uw AS MATERIALIZED (
       | SELECT word AS w, CAST(COUNT(*) AS BIGINT) AS wc FROM (
       |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
       |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0)
       | WHERE length(word) BETWEEN 1 AND $unigramMaxWordLen
       | GROUP BY 1),
       |useed AS MATERIALIZED (
       | SELECT piece, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
       |  SELECT w.wc,
       |   substr(w.w, CAST(ii.i AS INTEGER), CAST(ll.l AS INTEGER)) AS piece
       |  FROM uw w
       |   CROSS JOIN (SELECT unnest(range(1, ${unigramMaxWordLen + 1})) AS i) ii
       |   CROSS JOIN (SELECT unnest(range(1, ${unigramMaxPieceLen + 1})) AS l) ll
       |  WHERE ii.i + ll.l - 1 <= length(w.w))
       | GROUP BY 1),
       |uchars AS MATERIALIZED (SELECT piece FROM useed WHERE length(piece) = 1)""".stripMargin

  /** One unrolled Viterbi-EM round of the unigram tokenizer, reading
    * piece counts from CTE `cin` and ending in `ucin{r}` (the round's
    * re-counted vocabulary with the single-character floor): log probs
    * `round₉(ln c − ln Σc)` as DECIMAL(30,15); a 12-position DP whose
    * cell p takes the best of the ≤4 piece lengths ending there
    * (score DESC, piece-count ASC, length ASC — the kernel's exact
    * tiebreak; unknown single chars score exactly −10⁹); a 12-step
    * backtrack re-materializing each word's winning pieces (step s = the
    * s-th piece FROM THE END, kept for the encode oracle's ordering).
    * Every table is word-vocabulary-sized.
    */
  private def unigramRoundCtes(r: Int, cin: String): String = {
    val dp = (p: Int) => s"udp${r}_$p"
    val bt = (s: Int) => s"ubt${r}_$s"
    val dpCtes = (1 to unigramMaxWordLen).map { p =>
      val branches = (1 to math.min(unigramMaxPieceLen, p)).map { j =>
        s"""  SELECT d.w, d.wc,
           |   d.sc + COALESCE(v.lp, CAST(-1000000000 AS DECIMAL(30,15))) AS sc,
           |   d.np + 1 AS np, $j AS j
           |  FROM ${dp(p - j)} d LEFT JOIN ulp$r v
           |   ON v.piece = substr(d.w, ${p - j + 1}, $j)
           |  WHERE length(d.w) >= $p AND (v.piece IS NOT NULL OR $j = 1)"""
          .stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""${dp(p)} AS MATERIALIZED (
         | SELECT w, wc, sc, np, j FROM (
         |  SELECT w, wc, sc, np, j,
         |   ROW_NUMBER() OVER (PARTITION BY w
         |     ORDER BY sc DESC, np ASC, j ASC) AS rk
         |  FROM (
         |$branches))
         | WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val dpa = (1 to unigramMaxWordLen).map(p =>
      s"SELECT w, $p AS p, j FROM ${dp(p)}").mkString("\n UNION ALL\n ")
    val btCtes = (1 to unigramMaxWordLen).map { s =>
      s"""${bt(s)} AS MATERIALIZED (
         | SELECT b.w, b.wc, b.p - d.j AS p,
         |  substr(b.w, CAST(b.p - d.j + 1 AS INTEGER), CAST(d.j AS INTEGER)) AS piece,
         |  $s AS s
         | FROM ${bt(s - 1)} b JOIN udpa$r d ON d.w = b.w AND d.p = b.p
         | WHERE b.p > 0)""".stripMargin
    }.mkString(",\n")
    val pieces = (1 to unigramMaxWordLen).map(s =>
      s"SELECT w, wc, piece, s FROM ${bt(s)}").mkString("\n UNION ALL\n ")
    s"""ulp$r AS MATERIALIZED (
       | SELECT piece,
       |  CAST(ROUND(ln(CAST(cnt AS DOUBLE)) -
       |    ln((SELECT CAST(SUM(cnt) AS DOUBLE) FROM $cin)), 9)
       |   AS DECIMAL(30,15)) AS lp
       | FROM $cin),
       |udp${r}_0 AS MATERIALIZED (
       | SELECT w, wc, CAST(0 AS DECIMAL(30,15)) AS sc, 0 AS np, 0 AS j FROM uw),
       |$dpCtes,
       |udpa$r AS MATERIALIZED (
       | $dpa),
       |ubt${r}_0 AS MATERIALIZED (
       | SELECT w, wc, length(w) AS p, CAST(NULL AS VARCHAR) AS piece, 0 AS s
       | FROM uw),
       |$btCtes,
       |upc$r AS MATERIALIZED (
       | SELECT w, wc, piece, s FROM (
       |  $pieces)
       | WHERE piece IS NOT NULL),
       |ucnt$r AS MATERIALIZED (
       | SELECT piece, CAST(SUM(wc) AS BIGINT) AS cnt FROM upc$r GROUP BY 1),
       |ucin$r AS MATERIALIZED (
       | SELECT piece, cnt FROM ucnt$r
       | UNION ALL
       | SELECT c.piece, CAST(1 AS BIGINT) AS cnt FROM uchars c
       | WHERE c.piece NOT IN (SELECT piece FROM ucnt$r))""".stripMargin
  }

  /** The full trained-and-pruned unigram vocabulary chain: seed → two
    * EM rounds → top-40 by (cnt DESC, piece) ∪ all single characters.
    */
  private val unigramKeptCte: String =
    s"""$unigramBaseCte,
       |${unigramRoundCtes(1, "useed")},
       |${unigramRoundCtes(2, "ucin1")},
       |ukept AS MATERIALIZED (
       | SELECT piece, cnt FROM (
       |  SELECT piece, cnt,
       |   ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS rk
       |  FROM ucin2) WHERE rk <= 40
       | UNION
       | SELECT c2.piece, c2.cnt FROM ucin2 c2
       | JOIN uchars ch ON ch.piece = c2.piece)""".stripMargin

  /** The WordPiece forward walk unrolled over the word vocabulary:
    * `wvocab` doubles every trained piece as an initial and a
    * `##`-continuation entry; each step takes the longest match at the
    * current position (no ties — a (body, continuation) pair occurs
    * once); a word completes iff its furthest position reaches its
    * length, else it collapses to '[UNK]' (the BERT rule). Steps carry
    * their index so per-doc assembly orders pieces forward.
    */
  private val wordpieceCtes: String = {
    val steps = (1 to unigramMaxWordLen).map { s =>
      s"""wps$s AS MATERIALIZED (
         | SELECT word, pos, body, cont, len FROM (
         |  SELECT b.word, b.pos, v.body, v.cont, v.len,
         |   ROW_NUMBER() OVER (PARTITION BY b.word ORDER BY v.len DESC) AS rk
         |  FROM wp${s - 1} b JOIN wvocab v
         |   ON v.cont = (b.pos > 0)
         |   AND v.body = substr(b.word, CAST(b.pos + 1 AS INTEGER),
         |     CAST(v.len AS INTEGER))
         |  WHERE b.pos < length(b.word)) WHERE rk = 1),
         |wp$s AS MATERIALIZED (
         | SELECT word, pos + len AS pos FROM wps$s)""".stripMargin
    }.mkString(",\n")
    val allSteps = (1 to unigramMaxWordLen).map(s =>
      s"SELECT word, $s AS s, body, cont FROM wps$s").mkString("\n  UNION ALL\n  ")
    val allPos = (0 to unigramMaxWordLen).map(s =>
      s"SELECT word, pos FROM wp$s").mkString("\n  UNION ALL\n  ")
    s"""wvocab AS MATERIALIZED (
       | SELECT piece AS body, FALSE AS cont, length(piece) AS len FROM ukept
       | UNION ALL
       | SELECT piece AS body, TRUE AS cont, length(piece) AS len FROM ukept),
       |wp0 AS (SELECT w AS word, 0 AS pos FROM uw),
       |$steps,
       |wreach AS MATERIALIZED (
       | SELECT word, MAX(pos) AS reached FROM (
       |  $allPos) GROUP BY 1),
       |wok AS MATERIALIZED (
       | SELECT r.word FROM wreach r JOIN uw ON uw.w = r.word
       | WHERE r.reached = length(r.word)),
       |wpieces AS MATERIALIZED (
       | SELECT word, s,
       |  CASE WHEN cont THEN '##' || body ELSE body END AS piece
       | FROM (
       |  $allSteps)
       | WHERE word IN (SELECT word FROM wok)
       | UNION ALL
       | SELECT w AS word, 1 AS s, '[UNK]' AS piece FROM uw
       | WHERE w NOT IN (SELECT word FROM wok))""".stripMargin
  }

  val queries: Seq[BoardQuery] = Seq(

    // Token counting: whitespace tokens + BPE-ish subword proxy.
    BoardQuery("x_token_count", ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"),
        TF.subwordCount(col("text")).cast("long").as("n_subwords"))
        .orderBy("doc_id")),
      """SELECT doc_id,
        | CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |   ELSE len(regexp_split_to_array(TRIM(text), '\s+')) END AS BIGINT) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Corpus vocabulary: token frequency table (the first step of any
    // tokenizer/quality pipeline). Deterministic top-100.
    BoardQuery("x_vocab", ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TF.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(100)),
      """WITH tk AS (
        | SELECT unnest(CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS token
        | FROM documents)
        |SELECT token, COUNT(*) AS cnt FROM tk GROUP BY token
        |ORDER BY cnt DESC, token LIMIT 100""".stripMargin),

    // Zipf rank-frequency fit over the top-500 vocabulary: OLS of
    // ln cnt on ln rank (slope ~ -1 on natural text; template/spam
    // bends it) — the one-number corpus-health dual of x_vocab. Both
    // ln inputs are integral doubles, OLS sums ride DECIMAL(30,15),
    // the closing scalar arithmetic is pinned-order doubles.
    BoardQuery("x_zipf", ((s, dir) =>
      Corpus.zipfFit(t(s, dir, "documents"), "text", maxRank = 500)),
      // Zipf OLS mirrored term-for-term: ln only ever sees an integral
      // double (rank, count), products are correctly-rounded double
      // multiplies, sums accumulate in DECIMAL(30,15), and the
      // slope/intercept/r2 expressions spell the identical pinned
      // association order as the Spark tree.
      raw"""WITH tk AS (
        | SELECT unnest(CASE WHEN text IS NULL OR LENGTH(TRIM(text)) = 0
        |   THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS t
        | FROM documents),
        |tc AS (SELECT t, COUNT(*) AS c FROM tk GROUP BY 1),
        |top AS (SELECT c, row_number() OVER (ORDER BY c DESC, t) AS r
        |  FROM tc ORDER BY c DESC, t LIMIT 500),
        |s AS (SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(30,15))) AS DOUBLE) AS sx,
        | CAST(SUM(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(30,15))) AS DOUBLE) AS sy,
        | CAST(SUM(CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE))
        |   AS DECIMAL(30,15))) AS DOUBLE) AS sxy,
        | CAST(SUM(CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))
        |   AS DECIMAL(30,15))) AS DOUBLE) AS sxx,
        | CAST(SUM(CAST(ln(CAST(c AS DOUBLE)) * ln(CAST(c AS DOUBLE))
        |   AS DECIMAL(30,15))) AS DOUBLE) AS syy
        | FROM top)
        |SELECT CAST(n AS BIGINT) AS n_ranks,
        | ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
        |   / (CAST(n AS DOUBLE) * sxx - sx * sx), 9) AS zipf_slope,
        | ROUND((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
        |   / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
        |   / CAST(n AS DOUBLE), 9) AS zipf_intercept,
        | ROUND(((CAST(n AS DOUBLE) * sxy - sx * sy)
        |     * (CAST(n AS DOUBLE) * sxy - sx * sy))
        |   / ((CAST(n AS DOUBLE) * sxx - sx * sx)
        |     * (CAST(n AS DOUBLE) * syy - sy * sy)), 9) AS r2
        |FROM s""".stripMargin),

    // Heaps'-law vocabulary growth: cumulative distinct types vs
    // cumulative tokens at 1000-doc checkpoints (types charged to
    // their min-doc_id bucket = exact prefix semantics). Dataset-sizing
    // instrument: a flattening curve is the saturation/duplication
    // signal. Exact integers end-to-end; the only ordered window runs
    // over the config-sized bucket table. Width 50 reads 10 checkpoints
    // from the 500-doc fixture (100 at sf0.1) — a real curve, not one
    // degenerate point.
    BoardQuery("x_heaps", ((s, dir) =>
      Corpus.vocabGrowth(t(s, dir, "documents"), "doc_id", "text",
          bucketWidth = 50L)
        .orderBy("bucket")),
      // Heaps growth mirrored with floor-div buckets and window sums
      // (HUGEINT -> BIGINT casts per the DuckDB SUM convention); types
      // charged to MIN(bucket) exactly as the Spark min-agg.
      raw"""WITH d AS (SELECT doc_id // 50 AS b,
        |  CASE WHEN text IS NULL OR LENGTH(TRIM(text)) = 0
        |    THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |spine AS (SELECT b, COUNT(*) AS n_docs,
        |  CAST(SUM(len(tok)) AS BIGINT) AS nt FROM d GROUP BY 1),
        |ft AS (SELECT t, MIN(b) AS fb
        | FROM (SELECT b, unnest(tok) AS t FROM d) GROUP BY 1),
        |nw AS (SELECT fb AS b, COUNT(*) AS nn FROM ft GROUP BY 1)
        |SELECT s.b AS bucket, CAST(s.n_docs AS BIGINT) AS n_docs,
        | CAST(COALESCE(nw.nn, 0) AS BIGINT) AS new_types,
        | CAST(SUM(s.nt) OVER (ORDER BY s.b ROWS UNBOUNDED PRECEDING)
        |   AS BIGINT) AS cum_tokens,
        | CAST(SUM(COALESCE(nw.nn, 0)) OVER (ORDER BY s.b
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
        |FROM spine s LEFT JOIN nw ON nw.b = s.b
        |ORDER BY bucket""".stripMargin),

    // Heavy hitters, exactly, via the two-pass Misra–Gries pattern: a
    // bounded-state mergeable sketch nominates candidates (certain
    // superset), an exact recount of only those candidates decides — the
    // corpus-sized token shuffle of x_vocab never happens, yet the output
    // is exact (oracle = plain HAVING over the full count).
    BoardQuery("x_heavy_hitters", ((s, dir) =>
      Corpus.heavyHitters(t(s, dir, "documents"), "text", 200)
        .orderBy(col("cnt").desc, col("token"))),
      // The MG sketch never shows in the output: the threshold sits strictly
      // above the sketch's guarantee line, so exact-HAVING is the oracle.
      """WITH tk AS (
        | SELECT unnest(CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS token
        | FROM documents)
        |SELECT token, COUNT(*) AS cnt FROM tk GROUP BY token
        |HAVING CAST(COUNT(*) AS DOUBLE) > (SELECT COUNT(*) FROM tk) / 200.0
        |ORDER BY cnt DESC, token""".stripMargin),

    // Per-language heavy hitters: one bounded-state MG aggregate per
    // group, exact recount against each group's own threshold.
    BoardQuery("x_heavy_by_lang", ((s, dir) =>
      Corpus.heavyHittersByGroup(t(s, dir, "documents"), "lang", "text", 150)
        .orderBy(col("lang"), col("cnt").desc, col("token"))),
      """WITH tk AS (
        | SELECT lang, unnest(CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS token
        | FROM documents),
        |tot AS (SELECT lang, COUNT(*) AS total FROM tk GROUP BY lang)
        |SELECT tk.lang AS lang, token, COUNT(*) AS cnt
        |FROM tk JOIN tot ON tk.lang = tot.lang
        |GROUP BY tk.lang, token, tot.total
        |HAVING CAST(COUNT(*) AS DOUBLE) > CAST(tot.total AS DOUBLE) / 150.0
        |ORDER BY tk.lang, cnt DESC, token""".stripMargin),

    // BM25 relevance against a fixed query-term bag (rational idf —
    // bit-deterministic, no transcendental log). Term filter runs
    // map-side before any shuffle; df/corpus stats broadcast.
    BoardQuery("x_bm25", ((s, dir) =>
      Corpus.bm25(t(s, dir, "documents"), "doc_id", "text",
        Seq("hash", "join", "scan", "window"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(100)),
      // (1.2 + 1.0) is written as the same double ADD Scala folds for
      // k1 + 1.0 — not the decimal literal 2.2, which is a different double.
      """WITH toks AS (
        | SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |docs AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS dl, tok FROM toks),
        |stats AS (
        | SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM docs),
        |tf AS (
        | SELECT doc_id, dl, term, COUNT(*) AS tf
        | FROM (SELECT doc_id, dl, unnest(tok) AS term FROM docs)
        | WHERE term IN ('hash', 'join', 'scan', 'window')
        | GROUP BY doc_id, dl, term),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |scored AS (
        | SELECT tf.doc_id,
        |  (((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE)) + 0.5) /
        |    (CAST(d.df AS DOUBLE) + 0.5) *
        |    ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)) /
        |      (CAST(tf.tf AS DOUBLE) + 1.2 *
        |        ((1.0 - 0.75) + ((0.75 * CAST(tf.dl AS DOUBLE)) /
        |          (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))))) AS s
        | FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s)
        |SELECT doc_id,
        | ROUND(CAST(SUM(CAST(s AS DECIMAL(30,15))) AS DOUBLE), 9) AS bm25
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 100""".stripMargin),

    // Sparse lexical retrieval: TF-IDF cosine top-k through an inverted
    // index on bigram-shingle hashes (unigrams are non-selective on this
    // fixture's 31-word vocabulary); df-pruning bounds every posting
    // list, and the query-side postings broadcast into the index join.
    BoardQuery("x_tfidf_topk", ((s, dir) =>
      Corpus.tfidfTopK(t(s, dir, "documents"), "doc_id", "text",
        col("doc_id") % 101 === 0, k = 10, ngram = 2, maxDfRatio = 0.5)
        .orderBy("query_id", "rank")),
      // Groups by the bigram STRING where the engine groups by the 8-byte
      // gram hash — identical tf/df absent a 64-bit collision (the
      // x_perplexity convention). Every ln input is an integral double
      // (a count); products cast to DECIMAL before summation; the final
      // divide and ROUND(…, 9) mirror the engine expression exactly.
      s"""WITH $tfidfBaseCte,
        |${tfidfRkCte(2, "g2")}
        |SELECT query_id, doc_id, cos, rank FROM g2rk WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin),

    // Unicode-script census — the pre-tokenizer multilingual router
    // (stopword langid assumes you already know which scripts to try);
    // planted non-Latin suffixes on every 11th doc exercise the
    // Cyrillic/CJK/Arabic ranges on this ASCII fixture. Map-only.
    BoardQuery("x_script_profile", ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" тест 漢字 ٣٤")))
            .otherwise(col("text")).as("text"))
      TF.scriptProfile(docs, "doc_id", "text").orderBy("doc_id")
    }),
      // script CASE chain mirrors the engine clause-for-clause; counts
      // CAST to BIGINT (DuckDB SUM(int) is HUGEINT — the budget_select
      // lesson).
      """WITH docs AS (
        | SELECT doc_id, CASE WHEN doc_id % 11 = 0
        |   THEN text || ' тест 漢字 ٣٤' ELSE text END AS text
        | FROM documents),
        |pos AS (SELECT doc_id, unnest(range(1, length(text) + 1)) AS i, text
        |        FROM docs),
        |cp AS (SELECT doc_id, ascii(substr(text, CAST(i AS INTEGER), 1)) AS c
        |       FROM pos),
        |cnt AS (SELECT doc_id,
        |  COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN (c BETWEEN 65 AND 90) OR (c BETWEEN 97 AND 122)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_latin,
        |  CAST(SUM(CASE WHEN c BETWEEN 48 AND 57 THEN 1 ELSE 0 END) AS BIGINT) AS n_digit,
        |  CAST(SUM(CASE WHEN c BETWEEN 1024 AND 1279 THEN 1 ELSE 0 END) AS BIGINT) AS n_cyrillic,
        |  CAST(SUM(CASE WHEN c BETWEEN 19968 AND 40959 THEN 1 ELSE 0 END) AS BIGINT) AS n_cjk,
        |  CAST(SUM(CASE WHEN c BETWEEN 1536 AND 1791 THEN 1 ELSE 0 END) AS BIGINT) AS n_arabic,
        |  CAST(SUM(CASE WHEN c IN (9, 10, 13, 32) THEN 1 ELSE 0 END) AS BIGINT) AS n_space,
        |  CAST(SUM(CASE WHEN NOT ((c BETWEEN 65 AND 90) OR (c BETWEEN 97 AND 122)
        |    OR (c BETWEEN 48 AND 57) OR (c BETWEEN 1024 AND 1279)
        |    OR (c BETWEEN 19968 AND 40959) OR (c BETWEEN 1536 AND 1791)
        |    OR c IN (9, 10, 13, 32)) THEN 1 ELSE 0 END) AS BIGINT) AS n_other
        | FROM cp GROUP BY 1)
        |SELECT d.doc_id,
        | COALESCE(n, 0) AS n_chars,
        | COALESCE(n_latin, 0) AS n_latin, COALESCE(n_digit, 0) AS n_digit,
        | COALESCE(n_cyrillic, 0) AS n_cyrillic, COALESCE(n_cjk, 0) AS n_cjk,
        | COALESCE(n_arabic, 0) AS n_arabic, COALESCE(n_space, 0) AS n_space,
        | COALESCE(n_other, 0) AS n_other,
        | CASE
        |  WHEN COALESCE(n_latin, 0) >= COALESCE(n_digit, 0) AND COALESCE(n_latin, 0) >= COALESCE(n_cyrillic, 0)
        |   AND COALESCE(n_latin, 0) >= COALESCE(n_cjk, 0) AND COALESCE(n_latin, 0) >= COALESCE(n_arabic, 0)
        |   AND COALESCE(n_latin, 0) >= COALESCE(n_other, 0) AND COALESCE(n_latin, 0) > 0 THEN 'latin'
        |  WHEN COALESCE(n_digit, 0) >= COALESCE(n_latin, 0) AND COALESCE(n_digit, 0) >= COALESCE(n_cyrillic, 0)
        |   AND COALESCE(n_digit, 0) >= COALESCE(n_cjk, 0) AND COALESCE(n_digit, 0) >= COALESCE(n_arabic, 0)
        |   AND COALESCE(n_digit, 0) >= COALESCE(n_other, 0) AND COALESCE(n_digit, 0) > 0 THEN 'digit'
        |  WHEN COALESCE(n_cyrillic, 0) >= COALESCE(n_latin, 0) AND COALESCE(n_cyrillic, 0) >= COALESCE(n_digit, 0)
        |   AND COALESCE(n_cyrillic, 0) >= COALESCE(n_cjk, 0) AND COALESCE(n_cyrillic, 0) >= COALESCE(n_arabic, 0)
        |   AND COALESCE(n_cyrillic, 0) >= COALESCE(n_other, 0) AND COALESCE(n_cyrillic, 0) > 0 THEN 'cyrillic'
        |  WHEN COALESCE(n_cjk, 0) >= COALESCE(n_latin, 0) AND COALESCE(n_cjk, 0) >= COALESCE(n_digit, 0)
        |   AND COALESCE(n_cjk, 0) >= COALESCE(n_cyrillic, 0) AND COALESCE(n_cjk, 0) >= COALESCE(n_arabic, 0)
        |   AND COALESCE(n_cjk, 0) >= COALESCE(n_other, 0) AND COALESCE(n_cjk, 0) > 0 THEN 'cjk'
        |  WHEN COALESCE(n_arabic, 0) >= COALESCE(n_latin, 0) AND COALESCE(n_arabic, 0) >= COALESCE(n_digit, 0)
        |   AND COALESCE(n_arabic, 0) >= COALESCE(n_cyrillic, 0) AND COALESCE(n_arabic, 0) >= COALESCE(n_cjk, 0)
        |   AND COALESCE(n_arabic, 0) >= COALESCE(n_other, 0) AND COALESCE(n_arabic, 0) > 0 THEN 'arabic'
        |  WHEN COALESCE(n_other, 0) >= COALESCE(n_latin, 0) AND COALESCE(n_other, 0) >= COALESCE(n_digit, 0)
        |   AND COALESCE(n_other, 0) >= COALESCE(n_cyrillic, 0) AND COALESCE(n_other, 0) >= COALESCE(n_cjk, 0)
        |   AND COALESCE(n_other, 0) >= COALESCE(n_arabic, 0) AND COALESCE(n_other, 0) > 0 THEN 'other'
        |  ELSE 'und' END AS main_script
        |FROM docs d LEFT JOIN cnt USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // Mixed-script confusable census: every 9th doc gains a planted
    // suffix with a Cyrillic-a "paypal", a Greek-Eta "Hello", a pure-
    // Cyrillic word (NOT mixed) and Han+Latin "Tokyo" (legit bilingual,
    // NOT mixed) — codepoints spelled via \u escapes here and chr() in
    // the oracle so no invisible character can drift. Map-only.
    BoardQuery("x_mixed_script", ((s, dir) => {
      val mixSuffix = " p\u0430ypal \u0397ello " +
        "\u0442\u0435\u0441\u0442 \u6771\u4eacTokyo"
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 9 === 0, concat(col("text"), lit(mixSuffix)))
          .otherwise(col("text")).as("text"))
      TF.mixedScriptCensus(docs, "doc_id", "text").orderBy("doc_id")
    }),
      // Same explicit code-point ranges as plans.ScriptProfile; ascii() in
      // DuckDB returns the code point of the char, so the planted
      // Cyrillic/CJK/Arabic suffix classifies identically. The dominant-
      // Mixed-script census: same planted suffix via chr() codepoints,
      // the same three explicit-range containment tests (\x{...} — the
      // regex spelling Java and RE2 share), list min as the witness.
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN text || ' p' || chr(1072) ||
        |    'ypal ' || chr(919) || 'ello ' || chr(1090) || chr(1077) ||
        |    chr(1089) || chr(1090) || ' ' || chr(26481) || chr(20140) ||
        |    'Tokyo'
        |  ELSE text END AS text FROM documents),
        |tk AS (SELECT doc_id,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM d),
        |fl AS (SELECT doc_id, tok, list_filter(tok, t ->
        |   (regexp_matches(t, '[A-Za-z\x{00C0}-\x{00D6}\x{00D8}-\x{00F6}\x{00F8}-\x{024F}]')
        |     AND regexp_matches(t, '[\x{0370}-\x{03FF}]'))
        |   OR (regexp_matches(t, '[A-Za-z\x{00C0}-\x{00D6}\x{00D8}-\x{00F6}\x{00F8}-\x{024F}]')
        |     AND regexp_matches(t, '[\x{0400}-\x{04FF}]'))
        |   OR (regexp_matches(t, '[\x{0370}-\x{03FF}]')
        |     AND regexp_matches(t, '[\x{0400}-\x{04FF}]'))) AS fx
        | FROM tk)
        |SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens,
        | CAST(len(fx) AS BIGINT) AS n_mixed,
        | CASE WHEN len(fx) > 0 THEN list_aggregate(fx, 'min') END
        |   AS mixed_example
        |FROM fl ORDER BY doc_id""".stripMargin),

    // Persisted-index probe: the inverted index freezes the snapshot's
    // idf/norms; later arrivals score against it without re-reading the
    // indexed bodies — build-once/probe-incrementally, the incremental-
    // dedup convention applied to retrieval.
    BoardQuery("x_tfidf_probe", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (postings, dict) = Corpus.tfidfIndex(
        docs.where(col("doc_id") % 3 === 0), "doc_id", "text")
      val queries = docs.where(
        col("doc_id") % 3 =!= 0 && col("doc_id") % 97 === 1)
      Corpus.tfidfProbeIndex(queries, "doc_id", "text", postings, dict, k = 10)
        .orderBy("query_id", "rank")
    }),
      // Index-side stats (df, N, norms) come from the %3==0 snapshot ONLY;
      // query grams without an index idf drop (they can't match postings).
      // The doc side is pre-normalized (wn = w/nrm) exactly as the engine
      // stores it, so the probe's cosine is dot/qnrm alone.
      """WITH toks AS (
        | SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |g AS (
        | SELECT doc_id, unnest(list_transform(range(1, len(tok)),
        |   i -> list_extract(tok, i) || ' ' || list_extract(tok, i + 1))) AS gram
        | FROM toks),
        |itf AS (SELECT doc_id, gram, COUNT(*) AS tf FROM g
        |        WHERE doc_id % 3 = 0 GROUP BY 1, 2),
        |inn AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 3 = 0),
        |dict AS (
        | SELECT gram, LN(CAST(n AS DOUBLE)) - LN(CAST(df AS DOUBLE)) AS idf
        | FROM (SELECT gram, COUNT(*) AS df FROM itf GROUP BY 1) CROSS JOIN inn
        | WHERE CAST(df AS DOUBLE) <= 0.5 * CAST(n AS DOUBLE)),
        |iw AS (SELECT doc_id, gram, CAST(tf AS DOUBLE) * idf AS w
        |       FROM itf JOIN dict USING (gram)),
        |inorm AS (SELECT doc_id,
        |  SQRT(CAST(SUM(CAST(w * w AS DECIMAL(30,15))) AS DOUBLE)) AS nrm
        | FROM iw GROUP BY 1),
        |post AS (SELECT doc_id, gram, w / nrm AS wn
        |         FROM iw JOIN inorm USING (doc_id)),
        |qtf AS (SELECT doc_id AS query_id, gram, COUNT(*) AS tf FROM g
        |        WHERE doc_id % 3 <> 0 AND doc_id % 97 = 1 GROUP BY 1, 2),
        |qwt AS (SELECT query_id, gram, CAST(tf AS DOUBLE) * idf AS qw
        |        FROM qtf JOIN dict USING (gram)),
        |qn AS (SELECT query_id,
        |  SQRT(CAST(SUM(CAST(qw * qw AS DECIMAL(30,15))) AS DOUBLE)) AS qnrm
        | FROM qwt GROUP BY 1),
        |dots AS (SELECT query_id, p.doc_id,
        |  CAST(SUM(CAST(qw * wn AS DECIMAL(30,15))) AS DOUBLE) AS dot
        | FROM post p JOIN qwt q USING (gram) GROUP BY 1, 2),
        |rk AS (
        | SELECT query_id, doc_id, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, doc_id) AS BIGINT) AS rank
        | FROM (SELECT d.query_id, d.doc_id, ROUND(dot / qn.qnrm, 9) AS cos
        |       FROM dots d JOIN qn ON qn.query_id = d.query_id))
        |SELECT query_id, doc_id, cos, rank FROM rk WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin),

    // Incremental retrieval-index maintenance (the ivfIndexAppend ritual
    // on the sparse side): the dict's idf freezes at build time over the
    // OLD snapshot, the arrival batch files into it with one map pass +
    // broadcast dict join (tfidfIndexAppend — the stored postings never
    // read), the new postings APPEND onto the stored parquet, and the
    // probe retrieves old and appended docs against one consistent
    // statistic. The oracle replays the frozen-idf weighting of the
    // arrival batch exactly — appended docs weight by the SNAPSHOT's
    // idf, not a recount.
    BoardQuery("x_tfidf_append", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val old = docs.where(col("doc_id") % 3 === 0)
      val fresh = docs.where(col("doc_id") % 3 =!= 0 && col("doc_id") % 7 === 2)
      val (params, post, dict) = Corpus.tfidfIndexBuild(old, "doc_id", "text")
      val tmp = scratchDir("graft-tfidfapp")
      params.write.parquet(s"$tmp/params")
      dict.write.parquet(s"$tmp/dict")
      post.write.parquet(s"$tmp/postings")
      Corpus.tfidfIndexAppend(s.read.parquet(s"$tmp/params"),
          s.read.parquet(s"$tmp/dict"), fresh, "doc_id", "text")
        .write.mode("append").parquet(s"$tmp/postings")
      val queries = docs.where(
        col("doc_id") % 3 =!= 0 && col("doc_id") % 7 =!= 2 &&
          col("doc_id") % 97 === 1)
      Corpus.tfidfProbeIndex(queries, "doc_id", "text",
          s.read.parquet(s"$tmp/params"), s.read.parquet(s"$tmp/postings"),
          s.read.parquet(s"$tmp/dict"), k = 10)
        .orderBy("query_id", "rank")
    }),
      // The frozen-idf append replayed: dict (n, df, idf) comes from the
      // indexed slice ONLY; the arrival batch's postings weight by that
      // snapshot idf (grams outside the dict drop), normalize by their own
      // norm, and union onto the stored postings — exactly what the engine
      // persisted via parquet append.
      """WITH toks AS (
        | SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |g AS (
        | SELECT doc_id, unnest(list_transform(range(1, len(tok)),
        |   i -> list_extract(tok, i) || ' ' || list_extract(tok, i + 1))) AS gram
        | FROM toks),
        |itf AS (SELECT doc_id, gram, COUNT(*) AS tf FROM g
        |        WHERE doc_id % 3 = 0 GROUP BY 1, 2),
        |inn AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 3 = 0),
        |dict AS (
        | SELECT gram, LN(CAST(n AS DOUBLE)) - LN(CAST(df AS DOUBLE)) AS idf
        | FROM (SELECT gram, COUNT(*) AS df FROM itf GROUP BY 1) CROSS JOIN inn
        | WHERE CAST(df AS DOUBLE) <= 0.5 * CAST(n AS DOUBLE)),
        |iw AS (SELECT doc_id, gram, CAST(tf AS DOUBLE) * idf AS w
        |       FROM itf JOIN dict USING (gram)),
        |inorm AS (SELECT doc_id,
        |  SQRT(CAST(SUM(CAST(w * w AS DECIMAL(30,15))) AS DOUBLE)) AS nrm
        | FROM iw GROUP BY 1),
        |atf AS (SELECT doc_id, gram, COUNT(*) AS tf FROM g
        |        WHERE doc_id % 3 <> 0 AND doc_id % 7 = 2 GROUP BY 1, 2),
        |aw AS (SELECT doc_id, gram, CAST(tf AS DOUBLE) * idf AS w
        |       FROM atf JOIN dict USING (gram)),
        |anorm AS (SELECT doc_id,
        |  SQRT(CAST(SUM(CAST(w * w AS DECIMAL(30,15))) AS DOUBLE)) AS nrm
        | FROM aw GROUP BY 1),
        |post AS (
        | SELECT doc_id, gram, w / nrm AS wn FROM iw JOIN inorm USING (doc_id)
        | UNION ALL
        | SELECT doc_id, gram, w / nrm AS wn FROM aw JOIN anorm USING (doc_id)),
        |qtf AS (SELECT doc_id AS query_id, gram, COUNT(*) AS tf FROM g
        |        WHERE doc_id % 3 <> 0 AND doc_id % 7 <> 2 AND doc_id % 97 = 1
        |        GROUP BY 1, 2),
        |qwt AS (SELECT query_id, gram, CAST(tf AS DOUBLE) * idf AS qw
        |        FROM qtf JOIN dict USING (gram)),
        |qn AS (SELECT query_id,
        |  SQRT(CAST(SUM(CAST(qw * qw AS DECIMAL(30,15))) AS DOUBLE)) AS qnrm
        | FROM qwt GROUP BY 1),
        |dots AS (SELECT query_id, p.doc_id,
        |  CAST(SUM(CAST(qw * wn AS DECIMAL(30,15))) AS DOUBLE) AS dot
        | FROM post p JOIN qwt q USING (gram) GROUP BY 1, 2),
        |rk AS (
        | SELECT query_id, doc_id, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, doc_id) AS BIGINT) AS rank
        | FROM (SELECT d.query_id, d.doc_id, ROUND(dot / qn.qnrm, 9) AS cos
        |       FROM dots d JOIN qn ON qn.query_id = d.query_id))
        |SELECT query_id, doc_id, cos, rank FROM rk WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin),

    // Hybrid-retrieval fusion: RRF over two shingle widths of the sparse
    // ranker — rank-based, so incomparable score scales fuse without
    // calibration, and the fusion stage itself moves only top-k-sized
    // lists (the cost lives in the upstream rankers).
    BoardQuery("x_rrf_fuse", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isQ = col("doc_id") % 101 === 0
      Corpus.rrfFuse(Seq(
        Corpus.tfidfTopK(docs, "doc_id", "text", isQ, k = 10, ngram = 2),
        Corpus.tfidfTopK(docs, "doc_id", "text", isQ, k = 10, ngram = 3)),
        k = 10)
        .orderBy("query_id", "rank")
    }),
      // Fusion itself is pure rank arithmetic: each contribution is one
      // double divide of integral doubles; contributions accumulate in
      // DECIMAL (the engine's discipline) so union order cannot flip bits.
      s"""WITH $tfidfBaseCte,
        |${tfidfRkCte(2, "g2")},
        |${tfidfRkCte(3, "g3")},
        |u AS (
        | SELECT query_id, doc_id,
        |  CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE)) AS contrib
        | FROM g2rk WHERE rank <= 10
        | UNION ALL
        | SELECT query_id, doc_id,
        |  CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE)) AS contrib
        | FROM g3rk WHERE rank <= 10),
        |f AS (SELECT query_id, doc_id,
        |  CAST(SUM(CAST(contrib AS DECIMAL(30,15))) AS DOUBLE) AS rrf
        | FROM u GROUP BY 1, 2),
        |frk AS (SELECT query_id, doc_id, rrf,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank FROM f)
        |SELECT query_id, doc_id, rrf, rank FROM frk WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin),

    // Unigram LM perplexity signal: the corpus trains its own token
    // distribution and every doc scores its per-token −ln p under it —
    // one query, two hash-keyed shuffles, corpus total broadcast.
    BoardQuery("x_perplexity", ((s, dir) =>
      Corpus.unigramNll(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),
      // Groups by the token STRING where the engine groups by xxhash64 —
      // identical counts absent a 64-bit collision. ln only ever sees
      // integer-valued doubles (counts), mirroring the engine.
      """WITH toks AS (
        | SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |inst AS (SELECT doc_id, unnest(tok) AS t FROM toks),
        |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM inst GROUP BY 1, 2),
        |c AS (SELECT t, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
        |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS N FROM c),
        |per AS (
        | SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CAST(CAST(tf.tf AS DOUBLE) *
        |    (ln(CAST(n.N AS DOUBLE)) - ln(CAST(c.cnt AS DOUBLE)))
        |    AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM tf JOIN c USING (t) CROSS JOIN n GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_tokens, 0) AS n_tokens,
        | ROUND(per.s / CAST(per.n_tokens AS DOUBLE), 9) AS avg_nll
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // CCNet head/middle/tail: per-LANGUAGE perplexity terciles (bucket
    // 0 = most fluent third under the corpus's own unigram LM). The
    // x_perplexity scoring plus one group-keyed window pass over the
    // #docs-sized score table; zero-token docs keep null score+bucket.
    BoardQuery("x_ppl_buckets", ((s, dir) =>
      Corpus.perplexityBuckets(t(s, dir, "documents"), "doc_id", "text",
          "lang", nBuckets = 3)
        .orderBy(col("doc_id"))),
      // The x_perplexity scoring CTEs verbatim, then the grouped
      // x_qbucket_by_lang convention over the rounded avg_nll doubles
      // (bit-identical across engines, so rank order matches): tercile
      // cuts at 1-based ranks (i·n)//3 + 1 per language, bucket = #cuts
      // ≤ score; zero-token docs (null score) shift no ranks.
      """WITH toks AS (
        | SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |inst AS (SELECT doc_id, unnest(tok) AS t FROM toks),
        |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM inst GROUP BY 1, 2),
        |c AS (SELECT t, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
        |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS N FROM c),
        |per AS (
        | SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CAST(CAST(tf.tf AS DOUBLE) *
        |    (ln(CAST(n.N AS DOUBLE)) - ln(CAST(c.cnt AS DOUBLE)))
        |    AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM tf JOIN c USING (t) CROSS JOIN n GROUP BY 1),
        |scored AS (
        | SELECT d.doc_id, d.lang, COALESCE(per.n_tokens, 0) AS n_tokens,
        |  ROUND(per.s / CAST(per.n_tokens AS DOUBLE), 9) AS avg_nll
        | FROM documents d LEFT JOIN per USING (doc_id)),
        |r AS (SELECT lang AS g, avg_nll AS v,
        |  row_number() OVER (PARTITION BY lang ORDER BY avg_nll) AS rn,
        |  COUNT(*) OVER (PARTITION BY lang) AS n
        | FROM scored WHERE avg_nll IS NOT NULL AND NOT isnan(avg_nll)),
        |cuts AS (SELECT g, v FROM r
        | WHERE rn IN ((1 * n) // 3 + 1, (2 * n) // 3 + 1))
        |SELECT sc.doc_id, sc.lang, sc.n_tokens, sc.avg_nll,
        | CASE WHEN sc.avg_nll IS NOT NULL AND NOT isnan(sc.avg_nll)
        |       AND EXISTS (SELECT 1 FROM cuts c2
        |                   WHERE c2.g IS NOT DISTINCT FROM sc.lang)
        |      THEN (SELECT COUNT(*) FROM cuts c2
        |            WHERE c2.g IS NOT DISTINCT FROM sc.lang
        |              AND c2.v <= sc.avg_nll)
        | END AS ppl_bucket
        |FROM scored sc ORDER BY doc_id""".stripMargin),

    // Stupid-Backoff bigram LM (Brants et al. 2007): LM trained on the
    // deterministic 80% doc_id-modulo slice, every doc scored — the
    // next-order CCNet quality signal above x_perplexity. Count-ratio
    // scores mean training is two hash-keyed aggregations; scoring is
    // three 8-byte-hash joins; the held-out 20% genuinely exercises the
    // backoff and OOV branches.
    BoardQuery("x_bigram_nll", ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.bigramNll(docs, docs.where(col("doc_id") % 10 < 8),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
      // Stupid-Backoff chain over STRING-grouped counts (engine groups by
      // xxhash64 — identical modulo a 64-bit collision). Zipped parallel
      // unnests extract bigrams positionally; 0.916290731874155 is the
      // −ln 0.4 discount as an exact literal (same double both engines);
      // every other ln input is an integral count.
      """WITH toks AS (
        | SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |tr AS (SELECT * FROM toks WHERE doc_id % 10 < 8),
        |c1 AS (SELECT t, COUNT(*) AS c1
        |  FROM (SELECT unnest(tok) AS t FROM tr) GROUP BY 1),
        |n AS (SELECT CAST(SUM(c1) AS BIGINT) AS N FROM c1),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM (
        |  SELECT unnest(tok[1:len(tok)-1]) AS w1,
        |         unnest(tok[2:len(tok)]) AS w2 FROM tr) GROUP BY 1, 2),
        |tf AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM (
        |  SELECT doc_id, unnest(tok[1:len(tok)-1]) AS w1,
        |         unnest(tok[2:len(tok)]) AS w2 FROM toks) GROUP BY 1, 2, 3),
        |sc AS (
        | SELECT tf.doc_id, tf.tf, CAST(tf.tf AS DOUBLE) * (
        |   CASE WHEN c2.c2 IS NOT NULL AND p.c1 IS NOT NULL
        |     THEN ln(CAST(p.c1 AS DOUBLE)) - ln(CAST(c2.c2 AS DOUBLE))
        |   WHEN q.c1 IS NOT NULL
        |     THEN CAST(0.916290731874155 AS DOUBLE)
        |       + ln(CAST(n.N AS DOUBLE)) - ln(CAST(q.c1 AS DOUBLE))
        |   ELSE CAST(0.916290731874155 AS DOUBLE) + ln(CAST(n.N AS DOUBLE))
        |   END) AS nll
        | FROM tf LEFT JOIN c2 ON tf.w1 = c2.w1 AND tf.w2 = c2.w2
        |   LEFT JOIN c1 p ON tf.w1 = p.t
        |   LEFT JOIN c1 q ON tf.w2 = q.t
        |   CROSS JOIN n),
        |per AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CAST(nll AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM sc GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_bigrams, 0) AS n_bigrams,
        | ROUND(per.s / CAST(per.n_bigrams AS DOUBLE), 9) AS avg_nll
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Trigram Stupid-Backoff (the context rung above x_bigram_nll):
    // seen-trigram ratio, else 0.4 x bigram ratio, else 0.4^2 x unigram,
    // else 0.4^2/N — count ratios only, the two -ln(0.4) terms the same
    // baked literal on both engines.
    BoardQuery("x_trigram_nll", ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.trigramNll(docs, docs.where(col("doc_id") % 10 < 8),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
      // The same backoff CASE over string-keyed count tables (the engine
      // groups on xxhash64 keys — collision-free at fixture scale, the
      // x_bigram_nll convention); zipped unnests build the trigram
      // positions, both -ln(0.4) terms are the identical literal added
      // left-to-right as in the engine.
      """WITH toks AS (
        | SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |tr AS (SELECT * FROM toks WHERE doc_id % 10 < 8),
        |c1 AS (SELECT t, COUNT(*) AS c1
        |  FROM (SELECT unnest(tok) AS t FROM tr) GROUP BY 1),
        |n AS (SELECT CAST(SUM(c1) AS BIGINT) AS N FROM c1),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM (
        |  SELECT unnest(tok[1:len(tok)-1]) AS w1,
        |         unnest(tok[2:len(tok)]) AS w2 FROM tr) GROUP BY 1, 2),
        |c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM (
        |  SELECT unnest(tok[1:len(tok)-2]) AS w1,
        |         unnest(tok[2:len(tok)-1]) AS w2,
        |         unnest(tok[3:len(tok)]) AS w3 FROM tr) GROUP BY 1, 2, 3),
        |tf AS (SELECT doc_id, w1, w2, w3, COUNT(*) AS tf FROM (
        |  SELECT doc_id, unnest(tok[1:len(tok)-2]) AS w1,
        |         unnest(tok[2:len(tok)-1]) AS w2,
        |         unnest(tok[3:len(tok)]) AS w3 FROM toks) GROUP BY 1, 2, 3, 4),
        |sc AS (
        | SELECT tf.doc_id, tf.tf, CAST(tf.tf AS DOUBLE) * (
        |   CASE WHEN t3.c3 IS NOT NULL AND b12.c2 IS NOT NULL
        |     THEN ln(CAST(b12.c2 AS DOUBLE)) - ln(CAST(t3.c3 AS DOUBLE))
        |   WHEN b23.c2 IS NOT NULL AND u2.c1 IS NOT NULL
        |     THEN CAST(0.916290731874155 AS DOUBLE)
        |       + ln(CAST(u2.c1 AS DOUBLE)) - ln(CAST(b23.c2 AS DOUBLE))
        |   WHEN u3.c1 IS NOT NULL
        |     THEN CAST(0.916290731874155 AS DOUBLE)
        |       + CAST(0.916290731874155 AS DOUBLE)
        |       + ln(CAST(n.N AS DOUBLE)) - ln(CAST(u3.c1 AS DOUBLE))
        |   ELSE CAST(0.916290731874155 AS DOUBLE)
        |     + CAST(0.916290731874155 AS DOUBLE)
        |     + ln(CAST(n.N AS DOUBLE))
        |   END) AS nll
        | FROM tf
        |   LEFT JOIN c3 t3 ON tf.w1 = t3.w1 AND tf.w2 = t3.w2
        |     AND tf.w3 = t3.w3
        |   LEFT JOIN c2 b12 ON tf.w1 = b12.w1 AND tf.w2 = b12.w2
        |   LEFT JOIN c2 b23 ON tf.w2 = b23.w1 AND tf.w3 = b23.w2
        |   LEFT JOIN c1 u2 ON tf.w2 = u2.t
        |   LEFT JOIN c1 u3 ON tf.w3 = u3.t
        |   CROSS JOIN n),
        |per AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
        |  CAST(SUM(CAST(nll AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM sc GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_trigrams, 0) AS n_trigrams,
        | ROUND(per.s / CAST(per.n_trigrams AS DOUBLE), 9) AS avg_nll
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Jelinek-Mercer interpolated bigram LM on the same 80/20 split:
    // p = 3/4 c12/c1 + 1/4 (c2+1)/(N+V) as the exact integer ratio A/B
    // (lambda a pinned rational, Laplace unigram floor), nll =
    // ln B - ln A on integral doubles — the lambda-mixture rung of the
    // smoothing ladder next to backoff (x_bigram_nll) and KN/MKN.
    BoardQuery("x_jm_nll", ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.jmNll(docs, docs.where(col("doc_id") % 10 < 8),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
      // Jelinek-Mercer mirrored: the A/B integers assembled in BIGINT
      // arithmetic (3*c12*(N+V) + 1*c1*(c2+1) over 4*c1*(N+V)), every ln
      // input integral, per-doc sums in DECIMAL(30,15).
      raw"""WITH toks AS (
        | SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |tr AS (SELECT * FROM toks WHERE doc_id % 10 < 8),
        |c1 AS (SELECT t, COUNT(*) AS c1
        |  FROM (SELECT unnest(tok) AS t FROM tr) GROUP BY 1),
        |nv AS (SELECT CAST(SUM(c1) AS BIGINT) AS N,
        |  COUNT(*) AS V FROM c1),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM (
        |  SELECT unnest(tok[1:len(tok)-1]) AS w1,
        |         unnest(tok[2:len(tok)]) AS w2 FROM tr) GROUP BY 1, 2),
        |tf AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM (
        |  SELECT doc_id, unnest(tok[1:len(tok)-1]) AS w1,
        |         unnest(tok[2:len(tok)]) AS w2 FROM toks) GROUP BY 1, 2, 3),
        |sc AS (
        | SELECT tf.doc_id, tf.tf, CAST(tf.tf AS DOUBLE) * (
        |   CASE WHEN p.c1 IS NOT NULL
        |     THEN ln(CAST(4 * p.c1 * (nv.N + nv.V) AS DOUBLE))
        |        - ln(CAST(3 * COALESCE(c2.c2, 0) * (nv.N + nv.V)
        |            + 1 * p.c1 * (COALESCE(q.c1, 0) + 1) AS DOUBLE))
        |     ELSE ln(CAST(nv.N + nv.V AS DOUBLE))
        |        - ln(CAST(COALESCE(q.c1, 0) + 1 AS DOUBLE))
        |   END) AS nll
        | FROM tf LEFT JOIN c2 ON tf.w1 = c2.w1 AND tf.w2 = c2.w2
        |   LEFT JOIN c1 p ON tf.w1 = p.t
        |   LEFT JOIN c1 q ON tf.w2 = q.t
        |   CROSS JOIN nv),
        |per AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CAST(nll AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM sc GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_bigrams, 0) AS n_bigrams,
        | ROUND(per.s / CAST(per.n_bigrams AS DOUBLE), 9) AS avg_nll
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // Interpolated trigram Kneser-Ney (Chen & Goodman 1999) on the same
    // 80/20 split as x_trigram_nll: D = 3/4 exactly, continuation
    // counts for the lower orders, uniform 1/V floor at the unigram
    // level. Each level's probability is the exact rational A/B, so
    // nll = ln B - ln A keeps every ln input an integral-valued double
    // -- the DuckDB oracle unrolls the same three-level CASE with the
    // identical expression tree.
    BoardQuery("x_kn_nll", ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.knNll(docs, docs.where(col("doc_id") % 10 < 8),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
      // Interpolated Kneser-Ney, the same exact-rational ladder unrolled:
      // counts over string trigrams (the engine's xxhash64 keys are
      // collision-free at fixture scale), every A/B computed in DOUBLE
      // with the engine's exact association order, ln only of those
      // integral-valued products.
      """WITH toks AS (
        | SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |tr AS (SELECT * FROM toks WHERE doc_id % 10 < 8),
        |tri AS (SELECT w1, w2, w3 FROM (
        |  SELECT unnest(tok[1:len(tok)-2]) AS w1,
        |         unnest(tok[2:len(tok)-1]) AS w2,
        |         unnest(tok[3:len(tok)]) AS w3 FROM tr)),
        |c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tri GROUP BY 1, 2, 3),
        |ctx AS (SELECT w1, w2, COUNT(*) AS c2 FROM tri GROUP BY 1, 2),
        |ty AS (SELECT DISTINCT w1, w2, w3 FROM tri),
        |f2 AS (SELECT w1, w2, COUNT(*) AS f2 FROM ty GROUP BY 1, 2),
        |kn2 AS (SELECT w2, w3, COUNT(*) AS kn2 FROM ty GROUP BY 1, 2),
        |bt AS (SELECT DISTINCT w2, w3 FROM ty),
        |mid AS (SELECT w2, COUNT(*) AS mid FROM ty GROUP BY 1),
        |f1 AS (SELECT w2, COUNT(*) AS f1 FROM bt GROUP BY 1),
        |kn1 AS (SELECT w3, COUNT(*) AS kn1 FROM bt GROUP BY 1),
        |sc1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS ncc,
        |  CAST(COUNT(DISTINCT w3) AS BIGINT) AS v1 FROM bt),
        |sc2 AS (SELECT CAST(COUNT(DISTINCT t) + 1 AS BIGINT) AS v
        |  FROM (SELECT unnest(tok) AS t FROM tr)),
        |tf AS (SELECT doc_id, w1, w2, w3, COUNT(*) AS tf FROM (
        |  SELECT doc_id, unnest(tok[1:len(tok)-2]) AS w1,
        |         unnest(tok[2:len(tok)-1]) AS w2,
        |         unnest(tok[3:len(tok)]) AS w3 FROM toks) GROUP BY 1, 2, 3, 4),
        |j AS (
        | SELECT tf.doc_id, tf.tf, t3.c3, ctx.c2, f2.f2, kn2.kn2,
        |   mid.mid, f1.f1, kn1.kn1, sc1.ncc, sc1.v1, sc2.v
        | FROM tf
        |   LEFT JOIN c3 t3 ON tf.w1 = t3.w1 AND tf.w2 = t3.w2
        |     AND tf.w3 = t3.w3
        |   LEFT JOIN ctx ON tf.w1 = ctx.w1 AND tf.w2 = ctx.w2
        |   LEFT JOIN f2 ON tf.w1 = f2.w1 AND tf.w2 = f2.w2
        |   LEFT JOIN kn2 ON tf.w2 = kn2.w2 AND tf.w3 = kn2.w3
        |   LEFT JOIN mid ON tf.w2 = mid.w2
        |   LEFT JOIN f1 ON tf.w2 = f1.w2
        |   LEFT JOIN kn1 ON tf.w3 = kn1.w3
        |   CROSS JOIN sc1 CROSS JOIN sc2),
        |e1 AS (SELECT *,
        |  GREATEST(COALESCE(CAST(kn1 AS DOUBLE), CAST(0.0 AS DOUBLE))
        |      * CAST(4.0 AS DOUBLE) - CAST(3.0 AS DOUBLE),
        |    CAST(0.0 AS DOUBLE)) * CAST(v AS DOUBLE)
        |    + CAST(3.0 AS DOUBLE) * CAST(v1 AS DOUBLE) AS a1,
        |  CAST(4.0 AS DOUBLE) * CAST(v AS DOUBLE)
        |    * CAST(ncc AS DOUBLE) AS b1 FROM j),
        |e2 AS (SELECT *,
        |  GREATEST(COALESCE(CAST(kn2 AS DOUBLE), CAST(0.0 AS DOUBLE))
        |      * CAST(4.0 AS DOUBLE) - CAST(3.0 AS DOUBLE),
        |    CAST(0.0 AS DOUBLE)) * b1
        |    + CAST(3.0 AS DOUBLE) * CAST(f1 AS DOUBLE) * a1 AS a2,
        |  CAST(4.0 AS DOUBLE) * CAST(mid AS DOUBLE) * b1 AS b2 FROM e1),
        |e3 AS (SELECT *,
        |  GREATEST(COALESCE(CAST(c3 AS DOUBLE), CAST(0.0 AS DOUBLE))
        |      * CAST(4.0 AS DOUBLE) - CAST(3.0 AS DOUBLE),
        |    CAST(0.0 AS DOUBLE)) * b2
        |    + CAST(3.0 AS DOUBLE) * CAST(f2 AS DOUBLE) * a2 AS a3,
        |  CAST(4.0 AS DOUBLE) * CAST(c2 AS DOUBLE) * b2 AS b3 FROM e2),
        |sc AS (SELECT doc_id, tf, CAST(tf AS DOUBLE) * (
        |   CASE WHEN c2 IS NOT NULL THEN ln(b3) - ln(a3)
        |        WHEN mid IS NOT NULL THEN ln(b2) - ln(a2)
        |        ELSE ln(b1) - ln(a1) END) AS nll FROM e3),
        |per AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
        |  CAST(SUM(CAST(nll AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM sc GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_trigrams, 0) AS n_trigrams,
        | ROUND(per.s / CAST(per.n_trigrams AS DOUBLE), 9) AS avg_nll
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Modified Kneser-Ney (Chen & Goodman 1999 section 3 — KenLM's
    // default smoothing) on the same split: three discounts per level
    // estimated from that level's count-of-counts, KenLM's
    // --discount_fallback (0.5/1.0/1.5) where a level is degenerate.
    // On this corpus the trigram level estimates (healthy n1..n4), the
    // continuation-count levels fall back — both branches of the
    // in-plan CASE are live. The oracle re-derives the integer d/Q
    // discount algebra and unrolls the identical three-level ladder.
    BoardQuery("x_mkn_nll", ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.mknNll(docs, docs.where(col("doc_id") % 10 < 8),
          "doc_id", "text", discountFallback = true)
        .orderBy(col("doc_id"))
    }),
      // Modified KN: the x_kn_nll ladder with per-level (Q, d1, d2, d3)
      // integer discounts re-derived from count-of-counts in HUGEINT —
      // mirroring the engine's DECIMAL(38,0) cubics, which Long/BIGINT
      // would wrap past ~10^6 types per count class — (the
      // estimate-or-fallback CASE transliterated), per-context gamma class
      // counts (N1/N2/N3+), and the same three-level CASE over integral-
      // valued doubles in the engine's exact association order.
      """WITH toks AS (
        | SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |tr AS (SELECT * FROM toks WHERE doc_id % 10 < 8),
        |tri AS (SELECT w1, w2, w3 FROM (
        |  SELECT unnest(tok[1:len(tok)-2]) AS w1,
        |         unnest(tok[2:len(tok)-1]) AS w2,
        |         unnest(tok[3:len(tok)]) AS w3 FROM tr)),
        |c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tri GROUP BY 1, 2, 3),
        |ctx AS (SELECT w1, w2, COUNT(*) AS c2 FROM tri GROUP BY 1, 2),
        |g3 AS (SELECT w1, w2,
        |  CAST(SUM(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS g31,
        |  CAST(SUM(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS g32,
        |  CAST(SUM(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS g33
        | FROM c3 GROUP BY 1, 2),
        |ty AS (SELECT w1, w2, w3 FROM c3),
        |kn2 AS (SELECT w2, w3, COUNT(*) AS kn2 FROM ty GROUP BY 1, 2),
        |mid AS (SELECT w2, COUNT(*) AS mid FROM ty GROUP BY 1),
        |g2 AS (SELECT w2,
        |  CAST(SUM(CASE WHEN kn2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS g21,
        |  CAST(SUM(CASE WHEN kn2 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS g22,
        |  CAST(SUM(CASE WHEN kn2 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS g23
        | FROM kn2 GROUP BY 1),
        |bt AS (SELECT DISTINCT w2, w3 FROM ty),
        |kn1 AS (SELECT w3, COUNT(*) AS kn1 FROM bt GROUP BY 1),
        |sc1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS ncc FROM bt),
        |vc AS (SELECT
        |  CAST(SUM(CASE WHEN kn1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1c,
        |  CAST(SUM(CASE WHEN kn1 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2c,
        |  CAST(SUM(CASE WHEN kn1 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS v3c
        | FROM kn1),
        |sc2 AS (SELECT CAST(COUNT(DISTINCT t) + 1 AS BIGINT) AS v
        |  FROM (SELECT unnest(tok) AS t FROM tr)),
        |cc3 AS (SELECT
        |  CAST(SUM(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(SUM(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(SUM(CASE WHEN c3 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |  CAST(SUM(CASE WHEN c3 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        | FROM c3),
        |es3 AS (SELECT (h1 + 2*h2)*h2*h3 AS q, h1*h2*h3 AS d1,
        |  (2*h2*(h1 + 2*h2) - 3*h1*h3)*h3 AS d2,
        |  (3*h3*(h1 + 2*h2) - 4*h1*h4)*h2 AS d3, n1, n2, n3, n4
        | FROM (SELECT CAST(n1 AS HUGEINT) AS h1, CAST(n2 AS HUGEINT) AS h2,
        |   CAST(n3 AS HUGEINT) AS h3, CAST(n4 AS HUGEINT) AS h4,
        |   n1, n2, n3, n4 FROM cc3)),
        |dl3 AS (SELECT
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN q ELSE 2 END AS q3,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN d1 ELSE 1 END AS d31,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN d2 ELSE 2 END AS d32,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN d3 ELSE 3 END AS d33 FROM es3),
        |cc2 AS (SELECT
        |  CAST(SUM(CASE WHEN kn2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(SUM(CASE WHEN kn2 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(SUM(CASE WHEN kn2 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |  CAST(SUM(CASE WHEN kn2 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        | FROM kn2),
        |es2 AS (SELECT (h1 + 2*h2)*h2*h3 AS q, h1*h2*h3 AS d1,
        |  (2*h2*(h1 + 2*h2) - 3*h1*h3)*h3 AS d2,
        |  (3*h3*(h1 + 2*h2) - 4*h1*h4)*h2 AS d3, n1, n2, n3, n4
        | FROM (SELECT CAST(n1 AS HUGEINT) AS h1, CAST(n2 AS HUGEINT) AS h2,
        |   CAST(n3 AS HUGEINT) AS h3, CAST(n4 AS HUGEINT) AS h4,
        |   n1, n2, n3, n4 FROM cc2)),
        |dl2 AS (SELECT
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN q ELSE 2 END AS q2,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN d1 ELSE 1 END AS d21,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN d2 ELSE 2 END AS d22,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN d3 ELSE 3 END AS d23 FROM es2),
        |cc1 AS (SELECT
        |  CAST(SUM(CASE WHEN kn1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(SUM(CASE WHEN kn1 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(SUM(CASE WHEN kn1 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |  CAST(SUM(CASE WHEN kn1 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        | FROM kn1),
        |es1 AS (SELECT (h1 + 2*h2)*h2*h3 AS q, h1*h2*h3 AS d1,
        |  (2*h2*(h1 + 2*h2) - 3*h1*h3)*h3 AS d2,
        |  (3*h3*(h1 + 2*h2) - 4*h1*h4)*h2 AS d3, n1, n2, n3, n4
        | FROM (SELECT CAST(n1 AS HUGEINT) AS h1, CAST(n2 AS HUGEINT) AS h2,
        |   CAST(n3 AS HUGEINT) AS h3, CAST(n4 AS HUGEINT) AS h4,
        |   n1, n2, n3, n4 FROM cc1)),
        |dl1 AS (SELECT
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN q ELSE 2 END AS q1,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN d1 ELSE 1 END AS d11,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN d2 ELSE 2 END AS d12,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN d3 ELSE 3 END AS d13 FROM es1),
        |tf AS (SELECT doc_id, w1, w2, w3, COUNT(*) AS tf FROM (
        |  SELECT doc_id, unnest(tok[1:len(tok)-2]) AS w1,
        |         unnest(tok[2:len(tok)-1]) AS w2,
        |         unnest(tok[3:len(tok)]) AS w3 FROM toks) GROUP BY 1, 2, 3, 4),
        |j AS (
        | SELECT tf.doc_id, tf.tf, t3.c3, ctx.c2, g3.g31, g3.g32, g3.g33,
        |   kn2.kn2, mid.mid, g2.g21, g2.g22, g2.g23, kn1.kn1,
        |   sc1.ncc, vc.v1c, vc.v2c, vc.v3c, sc2.v,
        |   dl3.q3, dl3.d31, dl3.d32, dl3.d33,
        |   dl2.q2, dl2.d21, dl2.d22, dl2.d23,
        |   dl1.q1, dl1.d11, dl1.d12, dl1.d13
        | FROM tf
        |   LEFT JOIN c3 t3 ON tf.w1 = t3.w1 AND tf.w2 = t3.w2
        |     AND tf.w3 = t3.w3
        |   LEFT JOIN ctx ON tf.w1 = ctx.w1 AND tf.w2 = ctx.w2
        |   LEFT JOIN g3 ON tf.w1 = g3.w1 AND tf.w2 = g3.w2
        |   LEFT JOIN kn2 ON tf.w2 = kn2.w2 AND tf.w3 = kn2.w3
        |   LEFT JOIN mid ON tf.w2 = mid.w2
        |   LEFT JOIN g2 ON tf.w2 = g2.w2
        |   LEFT JOIN kn1 ON tf.w3 = kn1.w3
        |   CROSS JOIN sc1 CROSS JOIN vc CROSS JOIN sc2
        |   CROSS JOIN dl3 CROSS JOIN dl2 CROSS JOIN dl1),
        |e1 AS (SELECT *,
        |  GREATEST(COALESCE(CAST(kn1 AS DOUBLE), CAST(0.0 AS DOUBLE))
        |      * CAST(q1 AS DOUBLE)
        |      - (CASE WHEN kn1 = 1 THEN CAST(d11 AS DOUBLE)
        |              WHEN kn1 = 2 THEN CAST(d12 AS DOUBLE)
        |              ELSE CAST(d13 AS DOUBLE) END),
        |    CAST(0.0 AS DOUBLE)) * CAST(v AS DOUBLE)
        |    + (CAST(d11 AS DOUBLE) * CAST(v1c AS DOUBLE)
        |       + CAST(d12 AS DOUBLE) * CAST(v2c AS DOUBLE)
        |       + CAST(d13 AS DOUBLE) * CAST(v3c AS DOUBLE)) AS a1,
        |  CAST(ncc AS DOUBLE) * CAST(q1 AS DOUBLE)
        |    * CAST(v AS DOUBLE) AS b1 FROM j),
        |e2 AS (SELECT *,
        |  GREATEST(COALESCE(CAST(kn2 AS DOUBLE), CAST(0.0 AS DOUBLE))
        |      * CAST(q2 AS DOUBLE)
        |      - (CASE WHEN kn2 = 1 THEN CAST(d21 AS DOUBLE)
        |              WHEN kn2 = 2 THEN CAST(d22 AS DOUBLE)
        |              ELSE CAST(d23 AS DOUBLE) END),
        |    CAST(0.0 AS DOUBLE)) * b1
        |    + (CAST(d21 AS DOUBLE) * CAST(g21 AS DOUBLE)
        |       + CAST(d22 AS DOUBLE) * CAST(g22 AS DOUBLE)
        |       + CAST(d23 AS DOUBLE) * CAST(g23 AS DOUBLE)) * a1 AS a2,
        |  CAST(mid AS DOUBLE) * CAST(q2 AS DOUBLE) * b1 AS b2 FROM e1),
        |e3 AS (SELECT *,
        |  GREATEST(COALESCE(CAST(c3 AS DOUBLE), CAST(0.0 AS DOUBLE))
        |      * CAST(q3 AS DOUBLE)
        |      - (CASE WHEN c3 = 1 THEN CAST(d31 AS DOUBLE)
        |              WHEN c3 = 2 THEN CAST(d32 AS DOUBLE)
        |              ELSE CAST(d33 AS DOUBLE) END),
        |    CAST(0.0 AS DOUBLE)) * b2
        |    + (CAST(d31 AS DOUBLE) * CAST(g31 AS DOUBLE)
        |       + CAST(d32 AS DOUBLE) * CAST(g32 AS DOUBLE)
        |       + CAST(d33 AS DOUBLE) * CAST(g33 AS DOUBLE)) * a2 AS a3,
        |  CAST(c2 AS DOUBLE) * CAST(q3 AS DOUBLE) * b2 AS b3 FROM e2),
        |sc AS (SELECT doc_id, tf, CAST(tf AS DOUBLE) * (
        |   CASE WHEN c2 IS NOT NULL THEN ln(b3) - ln(a3)
        |        WHEN mid IS NOT NULL THEN ln(b2) - ln(a2)
        |        ELSE ln(b1) - ln(a1) END) AS nll FROM e3),
        |per AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
        |  CAST(SUM(CAST(nll AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM sc GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_trigrams, 0) AS n_trigrams,
        | ROUND(per.s / CAST(per.n_trigrams AS DOUBLE), 9) AS avg_nll
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // DSIR importance weights (Xie et al. 2023): every doc in the raw
    // pool scores ln(p_target/p_raw) under hashed unigram+bigram bucket
    // models of a 2-source "quality" target vs the whole pool — the
    // select-web-data-that-looks-like-the-target gate as one plan.
    // Bucket counts are tiny broadcasts; the only data-sized exchange is
    // the per-doc (id, bucket, f) collapse.
    BoardQuery("x_dsir", ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.dsirLogWeights(docs,
          docs.where(col("source").isin("src1", "src2")), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
      // DSIR chain: identical md5-prefix feature buckets (2 hex chars =
      // 256-bucket space), add-1 smoothing over the full space so every ln
      // input is an integral-valued double; the normalizer term n·(ln(Nr+B)
      // − ln(Nt+B)) factors out of the bucket sum exactly as the engine
      // computes it.
      """WITH toks AS (
        | SELECT doc_id, source, CASE WHEN LENGTH(TRIM(text)) = 0
        |   THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |feats AS (
        | SELECT doc_id, source, substring(md5(g), 1, 2) AS b FROM (
        |  SELECT doc_id, source, unnest(list_concat(tok,
        |    list_transform(range(1, len(tok)),
        |      i -> tok[i] || ' ' || tok[i+1]))) AS g
        |  FROM toks)),
        |ct AS (SELECT b, COUNT(*) AS ct FROM feats
        |  WHERE source IN ('src1', 'src2') GROUP BY 1),
        |cr AS (SELECT b, COUNT(*) AS cr FROM feats GROUP BY 1),
        |nt AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt FROM ct),
        |nr AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr FROM cr),
        |lam AS (SELECT COALESCE(ct.b, cr.b) AS b,
        |  ln(CAST(COALESCE(ct.ct, 0) AS DOUBLE) + CAST(1.0 AS DOUBLE)) -
        |  ln(CAST(COALESCE(cr.cr, 0) AS DOUBLE) + CAST(1.0 AS DOUBLE)) AS lam
        | FROM ct FULL OUTER JOIN cr ON ct.b = cr.b),
        |f AS (SELECT doc_id, b, COUNT(*) AS f FROM feats GROUP BY 1, 2),
        |per AS (SELECT f.doc_id, CAST(SUM(f.f) AS BIGINT) AS n,
        |  CAST(SUM(CAST(CAST(f.f AS DOUBLE) * lam.lam
        |    AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM f JOIN lam USING (b) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n, 0) AS n_feats,
        | ROUND(COALESCE(per.s, CAST(0.0 AS DOUBLE)) +
        |   CAST(COALESCE(per.n, 0) AS DOUBLE) *
        |   (ln(CAST(nr.nr AS DOUBLE) + CAST(256.0 AS DOUBLE)) -
        |    ln(CAST(nt.nt AS DOUBLE) + CAST(256.0 AS DOUBLE))), 9) AS log_w
        |FROM documents d LEFT JOIN per USING (doc_id)
        |CROSS JOIN nt CROSS JOIN nr
        |ORDER BY d.doc_id""".stripMargin),

    // BPE trainer statistics round: adjacent character-pair counts
    // weighted by word frequency, computed vocab-first (the corpus
    // shuffles once into its vocabulary; the pair explode is
    // vocabulary-sized). Top 30 pairs = the trainer's next 30 merge
    // candidates.
    BoardQuery("x_bpe_pairs", ((s, dir) =>
      Corpus.bpePairCounts(t(s, dir, "documents"), "text")
        .orderBy(col("cnt").desc, col("pair"))
        .limit(30)),
      """WITH toks AS (
        | SELECT CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |      ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |vocab AS (
        | SELECT w, COUNT(*) AS f
        | FROM (SELECT unnest(tok) AS w FROM toks) GROUP BY w),
        |pairs AS (
        | SELECT substr(w, CAST(unnest(range(1, LENGTH(w))) AS INTEGER), 2) AS pair, f
        | FROM vocab WHERE LENGTH(w) >= 2)
        |SELECT pair, CAST(SUM(f) AS BIGINT) AS cnt
        |FROM pairs GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 30""".stripMargin),

    // Character-distribution entropy (compression-proxy gibberish
    // detector): ln n − Σ k·ln k / n over per-doc code-point counts;
    // every ln input is an integral double and the sum is decimal-
    // accumulated, so the signal hash-matches cross-engine.
    BoardQuery("x_char_entropy", ((s, dir) =>
      Corpus.charEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
      // Same ln-on-integer-counts + decimal-sum discipline as the engine.
      """WITH ch AS (
        | SELECT doc_id,
        |  unnest(list_transform(range(1, LENGTH(text) + 1),
        |    j -> substr(text, CAST(j AS INT), 1))) AS c
        | FROM documents),
        |cnt AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY 1, 2),
        |agg AS (
        | SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n,
        |  CAST(SUM(CAST(CAST(k AS DOUBLE) * ln(CAST(k AS DOUBLE))
        |    AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM cnt GROUP BY doc_id)
        |SELECT d.doc_id, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_chars,
        | ROUND(ln(CAST(a.n AS DOUBLE)) - a.s / CAST(a.n AS DOUBLE), 9)
        |   AS char_entropy
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Order-1 entropy rate: corpus char-bigram conditional entropy
    // H(Y|X) beside the order-0 marginal — the gap is how much one
    // char of context compresses the next (templated text collapses
    // it). Alphabet^2-sized aggregation, integral-ln ladder.
    BoardQuery("x_entropy_rate", ((s, dir) =>
      Corpus.charBigramEntropy(t(s, dir, "documents"), "text")),
      // Entropy rate mirrored: substr char pairs, pair/context rollups,
      // integral-ln DECIMAL(30,15) ladders, pinned closes.
      """WITH p AS (
        | SELECT unnest(list_transform(range(1, LENGTH(text)),
        |   j -> substr(text, CAST(j AS INT), 2))) AS p
        | FROM documents WHERE text IS NOT NULL AND LENGTH(text) >= 2),
        |c2 AS (SELECT p, COUNT(*) AS c2 FROM p GROUP BY 1),
        |cx AS (SELECT substr(p, 1, 1) AS x, CAST(SUM(c2) AS BIGINT) AS cx
        | FROM c2 GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c2) AS BIGINT) AS n,
        |  COUNT(*) AS n_distinct_bigrams FROM c2),
        |hc AS (SELECT CAST(SUM(CAST(CAST(c2.c2 AS DOUBLE) *
        |   (ln(CAST(cx.cx AS DOUBLE)) - ln(CAST(c2.c2 AS DOUBLE)))
        |  AS DECIMAL(30,15))) AS DOUBLE) AS hc
        | FROM c2 JOIN cx ON cx.x = substr(c2.p, 1, 1)),
        |hm AS (SELECT COUNT(*) AS n_contexts,
        |  CAST(SUM(CAST(CAST(cx.cx AS DOUBLE) *
        |   (ln(CAST(tot.n AS DOUBLE)) - ln(CAST(cx.cx AS DOUBLE)))
        |  AS DECIMAL(30,15))) AS DOUBLE) AS hm
        | FROM cx, tot)
        |SELECT tot.n AS n_bigrams, hm.n_contexts, tot.n_distinct_bigrams,
        | ROUND(hc.hc / CAST(tot.n AS DOUBLE), 9) AS h_cond,
        | ROUND(hm.hm / CAST(tot.n AS DOUBLE), 9) AS h_marginal
        |FROM tot, hc, hm""".stripMargin),

    // Burrows' Delta provenance distance between the 20 sources over
    // the top-30 words: z-standardized relative frequencies, mean
    // |z| gap per pair — near-zero pairs are mirrored feeds, lone
    // outliers are provenance anomalies. 190 pairs, all K x S sized
    // after one (source, word) aggregation.
    BoardQuery("x_burrows_delta", ((s, dir) =>
      Corpus.burrowsDelta(t(s, dir, "documents"), "text", "source",
        kWords = 30)),
      // Burrows mirrored ladder-for-ladder: dense source x word grid,
      // decimal mean/variance sums, IEEE sqrt, sigma=0 guard, pair join.
      raw"""WITH sw AS (SELECT src, t, COUNT(*) AS c FROM (
        |  SELECT source AS src, unnest(CASE WHEN text IS NULL
        |    OR LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS t
        |  FROM documents) GROUP BY 1, 2),
        |topw AS (SELECT t FROM (SELECT t, CAST(SUM(c) AS BIGINT) AS cf
        |  FROM sw GROUP BY 1 ORDER BY cf DESC, t LIMIT 30)),
        |st AS (SELECT src, CAST(SUM(c) AS BIGINT) AS n FROM sw GROUP BY 1),
        |k AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM st),
        |grid AS (SELECT st.src, topw.t,
        |  CAST(COALESCE(sw.c, 0) AS DOUBLE) / CAST(st.n AS DOUBLE) AS f
        | FROM st CROSS JOIN topw
        | LEFT JOIN sw ON sw.src = st.src AND sw.t = topw.t),
        |stats AS (SELECT t,
        |  CAST(SUM(CAST(f AS DECIMAL(30,15))) AS DOUBLE) / k.k AS mu,
        |  CAST(SUM(CAST(f * f AS DECIMAL(30,15))) AS DOUBLE) AS f2,
        |  k.k AS k
        | FROM grid, k GROUP BY t, k.k),
        |sig AS (SELECT t, mu,
        |  sqrt(greatest(f2 / k - mu * mu, 0.0)) AS sigma FROM stats),
        |z AS (SELECT g.src, g.t,
        |  CASE WHEN s.sigma > 0 THEN (g.f - s.mu) / s.sigma
        |  ELSE 0.0 END AS z
        | FROM grid g JOIN sig s USING (t))
        |SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_words,
        | ROUND(CAST(SUM(CAST(abs(a.z - b.z) AS DECIMAL(30,15))) AS DOUBLE)
        |   / CAST(COUNT(*) AS DOUBLE), 9) AS delta
        |FROM z a JOIN z b ON a.t = b.t AND a.src < b.src
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Simpson repeat-rate of the vocabulary: P(two tokens are the
    // same type) as an exact integer rational — the corpus-level
    // lexical-concentration dial (rising = boilerplate convergence).
    BoardQuery("x_simpson", ((s, dir) =>
      Corpus.simpsonRepeatRate(t(s, dir, "documents"), "text")),
      // Simpson repeat-rate mirrored: exact integer rational + 1 divide.
      raw"""WITH c AS (SELECT t, COUNT(*) AS c FROM (
        |  SELECT unnest(CASE WHEN text IS NULL
        |    OR LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS t
        |  FROM documents) GROUP BY 1),
        |a AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS n_types,
        |  CAST(SUM(c * (c - 1)) AS BIGINT) AS rr_num FROM c)
        |SELECT n_tokens, n_types, rr_num,
        | n_tokens * (n_tokens - 1) AS rr_den,
        | ROUND(CAST(rr_num AS DOUBLE)
        |   / nullif(CAST(n_tokens * (n_tokens - 1) AS DOUBLE), 0.0), 9)
        |   AS repeat_rate
        |FROM a""".stripMargin),

    // Jensen-Shannon divergence between the en and zh token mixes:
    // the bounded symmetric corpus-distance scalar, mixture algebra
    // multiplied through so ln only sees exact integer products.
    BoardQuery("x_js_div", ((s, dir) =>
      Corpus.jsDivergence(t(s, dir, "documents"), "text", "lang",
        "en", "zh")),
      // JS mirrored: one two-slice count table, the same integral
      // products inside ln, DECIMAL(30,15) sums, baked 1/ln2 literal.
      raw"""WITH tk AS (SELECT lang AS s,
        |  unnest(CASE WHEN text IS NULL OR LENGTH(TRIM(text)) = 0
        |    THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS t
        | FROM documents WHERE lang IN ('en', 'zh')),
        |c AS (SELECT t,
        |  CAST(SUM(CASE WHEN s = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(SUM(CASE WHEN s = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS b
        | FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(SUM(a) AS BIGINT) AS ta,
        |  CAST(SUM(b) AS BIGINT) AS tb, COUNT(*) AS vocab_union FROM c),
        |s AS (SELECT ta, tb, vocab_union,
        |  CAST(SUM(CAST(CASE WHEN a > 0 THEN CAST(a AS DOUBLE) *
        |    (ln(CAST(2 * a * tb AS DOUBLE))
        |     - ln(CAST(a * tb + b * ta AS DOUBLE))) ELSE 0.0 END
        |   AS DECIMAL(30,15))) AS DOUBLE) AS s1,
        |  CAST(SUM(CAST(CASE WHEN b > 0 THEN CAST(b AS DOUBLE) *
        |    (ln(CAST(2 * b * ta AS DOUBLE))
        |     - ln(CAST(a * tb + b * ta AS DOUBLE))) ELSE 0.0 END
        |   AS DECIMAL(30,15))) AS DOUBLE) AS s2
        | FROM c, tot GROUP BY 1, 2, 3)
        |SELECT ta AS n_tokens_a, tb AS n_tokens_b, vocab_union,
        | ROUND((s1 / CAST(ta AS DOUBLE) + s2 / CAST(tb AS DOUBLE))
        |   / 2.0, 9) AS js,
        | ROUND(((s1 / CAST(ta AS DOUBLE) + s2 / CAST(tb AS DOUBLE))
        |   / 2.0) * 1.4426950408889634, 9) AS js_bits
        |FROM s""".stripMargin),

    // Dunning G2 keyness: WHICH tokens drive the en-vs-zh mix apart
    // (the drill-down under x_js_div), four pinned ln-exact cell
    // terms, enrichment by exact cross-product, top-30.
    BoardQuery("x_keyness", ((s, dir) =>
      Corpus.keyness(t(s, dir, "documents"), "text", "lang",
        "en", "zh", k = 30, minCount = 5L)),
      // Keyness mirrored: same count table, the identical four-cell
      // pinned G2 tree, exact cross-product enrichment.
      raw"""WITH tk AS (SELECT lang AS s,
        |  unnest(CASE WHEN text IS NULL OR LENGTH(TRIM(text)) = 0
        |    THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS t
        | FROM documents WHERE lang IN ('en', 'zh')),
        |c AS (SELECT t,
        |  CAST(SUM(CASE WHEN s = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(SUM(CASE WHEN s = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS b
        | FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(SUM(a) AS BIGINT) AS ta,
        |  CAST(SUM(b) AS BIGINT) AS tb FROM c)
        |SELECT t AS token, a AS cnt_a, b AS cnt_b,
        | ROUND(2.0 * (
        |  ((CASE WHEN a > 0 THEN CAST(a AS DOUBLE) *
        |     (ln(CAST(a * (ta + tb) AS DOUBLE))
        |      - ln(CAST((a + b) * ta AS DOUBLE))) ELSE 0.0 END
        |   + CASE WHEN ta - a > 0 THEN CAST(ta - a AS DOUBLE) *
        |     (ln(CAST((ta - a) * (ta + tb) AS DOUBLE))
        |      - ln(CAST(((ta - a) + (tb - b)) * ta AS DOUBLE)))
        |     ELSE 0.0 END)
        |  + (CASE WHEN b > 0 THEN CAST(b AS DOUBLE) *
        |     (ln(CAST(b * (ta + tb) AS DOUBLE))
        |      - ln(CAST((a + b) * tb AS DOUBLE))) ELSE 0.0 END
        |   + CASE WHEN tb - b > 0 THEN CAST(tb - b AS DOUBLE) *
        |     (ln(CAST((tb - b) * (ta + tb) AS DOUBLE))
        |      - ln(CAST(((ta - a) + (tb - b)) * tb AS DOUBLE)))
        |     ELSE 0.0 END))), 9) AS g2,
        | CASE WHEN a * tb > b * ta THEN 'en' ELSE 'zh' END AS enriched_in
        |FROM c, tot WHERE a + b >= 5
        |ORDER BY g2 DESC, token LIMIT 30""".stripMargin),

    // Trigram novelty vs everything earlier in doc_id order: distinct
    // grams charged to their min-id doc (vocabGrowth's prefix
    // semantics per doc) — the re-crawl triage / curriculum signal.
    BoardQuery("x_novelty", ((s, dir) =>
      Corpus.ngramNovelty(t(s, dir, "documents"), "doc_id", "text", n = 3)
        .orderBy("doc_id")),
      // Novelty mirrored: the same 3-gram construction, DISTINCT per
      // doc, min-id first-occurrence, floor-ppm close.
      raw"""WITH tk AS (SELECT doc_id,
        |  CASE WHEN text IS NULL OR LENGTH(TRIM(text)) = 0
        |    THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(TRIM(text), '\s+') END AS t
        | FROM documents),
        |g AS (SELECT DISTINCT doc_id, g FROM (
        | SELECT doc_id, unnest(CASE WHEN len(t) < 3 THEN []::VARCHAR[]
        |   ELSE list_transform(range(1, len(t) - 1), i ->
        |     t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' ||
        |     t[CAST(i AS INT) + 2]) END) AS g
        | FROM tk)),
        |f AS (SELECT g, MIN(doc_id) AS fid FROM g GROUP BY 1),
        |per AS (SELECT gg.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN f.fid = gg.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel
        | FROM g gg JOIN f USING (g) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_grams, 0) AS n_grams,
        | COALESCE(per.n_novel, 0) AS n_novel,
        | CASE WHEN COALESCE(per.n_grams, 0) > 0
        |   THEN (COALESCE(per.n_novel, 0) * 1000000) // per.n_grams
        | END AS novel_ppm
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // Train-to-encode round trip: the 6 learned merges applied to every
    // document (map-only after training; tokens joined for the compare).
    BoardQuery("x_bpe_encode", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Corpus.bpeTrain(docs.select(col("text")), "text", nMerges = 6)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Corpus.bpeEncode(docs.select(col("doc_id"), col("text")),
          "doc_id", "text", merges)
        .select(col("doc_id"), col("n_tokens"),
          array_join(col("bpe_tokens"), " ").as("tokens_joined"))
        .orderBy("doc_id")
    }),
      // The x_bpe_train chain through v6 (the vocabulary tokenized by all
      // six learned merges), then every document re-assembles its words'
      // token lists in order — the train-to-encode round trip.
      """WITH toks AS (
        | SELECT CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |      ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |v0 AS (
        | SELECT w, CAST(COUNT(*) AS BIGINT) AS f,
        |  list_transform(range(1, LENGTH(w) + 1), j -> substr(w, CAST(j AS INT), 1)) AS t
        | FROM (SELECT unnest(tok) AS w FROM toks) z GROUP BY w),
        |t1 AS MATERIALIZED (
        | SELECT w, f, CAST(u.i AS INT) AS i, u.tk AS tok,
        |  LEAD(u.tk) OVER (PARTITION BY w ORDER BY u.i) AS nxt
        | FROM v0, UNNEST(list_transform(range(1, len(t) + 1),
        |   j -> {'i': j, 'tk': t[CAST(j AS INT)]})) AS z(u)),
        |m1 AS MATERIALIZED (
        | SELECT tok AS l, nxt AS r, SUM(f) AS cnt FROM t1 WHERE nxt IS NOT NULL
        | GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
        |g1 AS (
        | SELECT w, f, i, tok, nxt, mt,
        |  CASE WHEN mt THEN ROW_NUMBER() OVER (PARTITION BY w, grp, mt ORDER BY i) % 2 = 1
        |       ELSE FALSE END AS app
        | FROM (
        |  SELECT w, f, i, tok, nxt,
        |   (nxt IS NOT NULL AND tok = (SELECT l FROM m1) AND nxt = (SELECT r FROM m1)) AS mt,
        |   i - ROW_NUMBER() OVER (PARTITION BY w,
        |     (nxt IS NOT NULL AND tok = (SELECT l FROM m1) AND nxt = (SELECT r FROM m1))
        |     ORDER BY i) AS grp
        |  FROM t1) y),
        |v1 AS MATERIALIZED (
        | SELECT w, f, list(CASE WHEN app THEN tok || nxt ELSE tok END ORDER BY i) AS t
        | FROM (SELECT *, COALESCE(LAG(app) OVER (PARTITION BY w ORDER BY i), FALSE) AS consumed
        |       FROM g1) z2
        | WHERE NOT consumed GROUP BY w, f),
        |t2 AS MATERIALIZED (
        | SELECT w, f, CAST(u.i AS INT) AS i, u.tk AS tok,
        |  LEAD(u.tk) OVER (PARTITION BY w ORDER BY u.i) AS nxt
        | FROM v1, UNNEST(list_transform(range(1, len(t) + 1),
        |   j -> {'i': j, 'tk': t[CAST(j AS INT)]})) AS z(u)),
        |m2 AS MATERIALIZED (
        | SELECT tok AS l, nxt AS r, SUM(f) AS cnt FROM t2 WHERE nxt IS NOT NULL
        | GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
        |g2 AS (
        | SELECT w, f, i, tok, nxt, mt,
        |  CASE WHEN mt THEN ROW_NUMBER() OVER (PARTITION BY w, grp, mt ORDER BY i) % 2 = 1
        |       ELSE FALSE END AS app
        | FROM (
        |  SELECT w, f, i, tok, nxt,
        |   (nxt IS NOT NULL AND tok = (SELECT l FROM m2) AND nxt = (SELECT r FROM m2)) AS mt,
        |   i - ROW_NUMBER() OVER (PARTITION BY w,
        |     (nxt IS NOT NULL AND tok = (SELECT l FROM m2) AND nxt = (SELECT r FROM m2))
        |     ORDER BY i) AS grp
        |  FROM t2) y),
        |v2 AS MATERIALIZED (
        | SELECT w, f, list(CASE WHEN app THEN tok || nxt ELSE tok END ORDER BY i) AS t
        | FROM (SELECT *, COALESCE(LAG(app) OVER (PARTITION BY w ORDER BY i), FALSE) AS consumed
        |       FROM g2) z2
        | WHERE NOT consumed GROUP BY w, f),
        |t3 AS MATERIALIZED (
        | SELECT w, f, CAST(u.i AS INT) AS i, u.tk AS tok,
        |  LEAD(u.tk) OVER (PARTITION BY w ORDER BY u.i) AS nxt
        | FROM v2, UNNEST(list_transform(range(1, len(t) + 1),
        |   j -> {'i': j, 'tk': t[CAST(j AS INT)]})) AS z(u)),
        |m3 AS MATERIALIZED (
        | SELECT tok AS l, nxt AS r, SUM(f) AS cnt FROM t3 WHERE nxt IS NOT NULL
        | GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
        |g3 AS (
        | SELECT w, f, i, tok, nxt, mt,
        |  CASE WHEN mt THEN ROW_NUMBER() OVER (PARTITION BY w, grp, mt ORDER BY i) % 2 = 1
        |       ELSE FALSE END AS app
        | FROM (
        |  SELECT w, f, i, tok, nxt,
        |   (nxt IS NOT NULL AND tok = (SELECT l FROM m3) AND nxt = (SELECT r FROM m3)) AS mt,
        |   i - ROW_NUMBER() OVER (PARTITION BY w,
        |     (nxt IS NOT NULL AND tok = (SELECT l FROM m3) AND nxt = (SELECT r FROM m3))
        |     ORDER BY i) AS grp
        |  FROM t3) y),
        |v3 AS MATERIALIZED (
        | SELECT w, f, list(CASE WHEN app THEN tok || nxt ELSE tok END ORDER BY i) AS t
        | FROM (SELECT *, COALESCE(LAG(app) OVER (PARTITION BY w ORDER BY i), FALSE) AS consumed
        |       FROM g3) z2
        | WHERE NOT consumed GROUP BY w, f),
        |t4 AS MATERIALIZED (
        | SELECT w, f, CAST(u.i AS INT) AS i, u.tk AS tok,
        |  LEAD(u.tk) OVER (PARTITION BY w ORDER BY u.i) AS nxt
        | FROM v3, UNNEST(list_transform(range(1, len(t) + 1),
        |   j -> {'i': j, 'tk': t[CAST(j AS INT)]})) AS z(u)),
        |m4 AS MATERIALIZED (
        | SELECT tok AS l, nxt AS r, SUM(f) AS cnt FROM t4 WHERE nxt IS NOT NULL
        | GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
        |g4 AS (
        | SELECT w, f, i, tok, nxt, mt,
        |  CASE WHEN mt THEN ROW_NUMBER() OVER (PARTITION BY w, grp, mt ORDER BY i) % 2 = 1
        |       ELSE FALSE END AS app
        | FROM (
        |  SELECT w, f, i, tok, nxt,
        |   (nxt IS NOT NULL AND tok = (SELECT l FROM m4) AND nxt = (SELECT r FROM m4)) AS mt,
        |   i - ROW_NUMBER() OVER (PARTITION BY w,
        |     (nxt IS NOT NULL AND tok = (SELECT l FROM m4) AND nxt = (SELECT r FROM m4))
        |     ORDER BY i) AS grp
        |  FROM t4) y),
        |v4 AS MATERIALIZED (
        | SELECT w, f, list(CASE WHEN app THEN tok || nxt ELSE tok END ORDER BY i) AS t
        | FROM (SELECT *, COALESCE(LAG(app) OVER (PARTITION BY w ORDER BY i), FALSE) AS consumed
        |       FROM g4) z2
        | WHERE NOT consumed GROUP BY w, f),
        |t5 AS MATERIALIZED (
        | SELECT w, f, CAST(u.i AS INT) AS i, u.tk AS tok,
        |  LEAD(u.tk) OVER (PARTITION BY w ORDER BY u.i) AS nxt
        | FROM v4, UNNEST(list_transform(range(1, len(t) + 1),
        |   j -> {'i': j, 'tk': t[CAST(j AS INT)]})) AS z(u)),
        |m5 AS MATERIALIZED (
        | SELECT tok AS l, nxt AS r, SUM(f) AS cnt FROM t5 WHERE nxt IS NOT NULL
        | GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
        |g5 AS (
        | SELECT w, f, i, tok, nxt, mt,
        |  CASE WHEN mt THEN ROW_NUMBER() OVER (PARTITION BY w, grp, mt ORDER BY i) % 2 = 1
        |       ELSE FALSE END AS app
        | FROM (
        |  SELECT w, f, i, tok, nxt,
        |   (nxt IS NOT NULL AND tok = (SELECT l FROM m5) AND nxt = (SELECT r FROM m5)) AS mt,
        |   i - ROW_NUMBER() OVER (PARTITION BY w,
        |     (nxt IS NOT NULL AND tok = (SELECT l FROM m5) AND nxt = (SELECT r FROM m5))
        |     ORDER BY i) AS grp
        |  FROM t5) y),
        |v5 AS MATERIALIZED (
        | SELECT w, f, list(CASE WHEN app THEN tok || nxt ELSE tok END ORDER BY i) AS t
        | FROM (SELECT *, COALESCE(LAG(app) OVER (PARTITION BY w ORDER BY i), FALSE) AS consumed
        |       FROM g5) z2
        | WHERE NOT consumed GROUP BY w, f),
        |t6 AS MATERIALIZED (
        | SELECT w, f, CAST(u.i AS INT) AS i, u.tk AS tok,
        |  LEAD(u.tk) OVER (PARTITION BY w ORDER BY u.i) AS nxt
        | FROM v5, UNNEST(list_transform(range(1, len(t) + 1),
        |   j -> {'i': j, 'tk': t[CAST(j AS INT)]})) AS z(u)),
        |m6 AS MATERIALIZED (
        | SELECT tok AS l, nxt AS r, SUM(f) AS cnt FROM t6 WHERE nxt IS NOT NULL
        | GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
        |g6 AS (
        | SELECT w, f, i, tok, nxt, mt,
        |  CASE WHEN mt THEN ROW_NUMBER() OVER (PARTITION BY w, grp, mt ORDER BY i) % 2 = 1
        |       ELSE FALSE END AS app
        | FROM (
        |  SELECT w, f, i, tok, nxt,
        |   (nxt IS NOT NULL AND tok = (SELECT l FROM m6) AND nxt = (SELECT r FROM m6)) AS mt,
        |   i - ROW_NUMBER() OVER (PARTITION BY w,
        |     (nxt IS NOT NULL AND tok = (SELECT l FROM m6) AND nxt = (SELECT r FROM m6))
        |     ORDER BY i) AS grp
        |  FROM t6) y),
        |v6 AS MATERIALIZED (
        | SELECT w, f, list(CASE WHEN app THEN tok || nxt ELSE tok END ORDER BY i) AS t
        | FROM (SELECT *, COALESCE(LAG(app) OVER (PARTITION BY w ORDER BY i), FALSE) AS consumed
        |       FROM g6) z2
        | WHERE NOT consumed GROUP BY w, f),
        |docw AS (
        | SELECT doc_id, CAST(u.i AS INT) AS wi, u.w AS w FROM (
        |   SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |        ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        |   FROM documents) d,
        |   UNNEST(list_transform(range(1, len(tok) + 1),
        |     j -> {'i': j, 'w': tok[CAST(j AS INT)]})) AS z(u)),
        |enc AS (
        | SELECT dw.doc_id, dw.wi, v.t FROM docw dw JOIN v6 v ON dw.w = v.w),
        |agg AS (
        | SELECT doc_id, CAST(SUM(len(t)) AS BIGINT) AS n_tokens,
        |        string_agg(array_to_string(t, ' '), ' ' ORDER BY wi) AS tokens_joined
        | FROM enc GROUP BY doc_id)
        |SELECT d.doc_id, CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
        | COALESCE(a.tokens_joined, '') AS tokens_joined
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Byte-level (total) BPE seeding + round trip: every 7th doc gets a
    // planted accented/CJK/emoji suffix, every word decomposes to
    // 2-hex-char byte tokens (no [UNK] possible), and `lossless`
    // witnesses that concat-hex → bytes → UTF-8 reassembles the
    // whitespace-normalized text exactly. Merge application over byte
    // tokens shares x_bpe_encode's already-oracled kernel; this query
    // oracles the byte alphabet itself, so merges stay empty here.
    BoardQuery("x_bpe_bytes", ((s, dir) => {
      val planted = t(s, dir, "documents")
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" héllo 漢字🦉")))
            .otherwise(col("text")).as("text"))
        .withColumn("__norm", array_join(TF.tokens(col("text")), " "))
      Corpus.bpeByteEncode(planted, "doc_id", "text", merges = Nil,
          carryCols = Seq("__norm"))
        .select(col("doc_id"), col("n_tokens"),
          array_join(col("bpe_tokens"), " ").as("tokens_joined"),
          col("decoded"),
          (col("decoded") === col("__norm")).as("lossless"))
        .orderBy("doc_id")
    }),
      // In-engine BPE training, 6 rounds unrolled: each round counts
      // Same planted suffix, same byte rendering: hex(encode(w)) is the
      // UTF-8 byte sequence in BOTH engines, split into 2-char tokens;
      // decode(unhex(..)) reverses it, so `lossless` is witnessed, not
      // assumed.
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN text || ' héllo 漢字🦉'
        |       ELSE text END AS text
        | FROM documents),
        |t AS (SELECT doc_id,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS ws
        | FROM d),
        |e AS (SELECT doc_id, ws,
        |  list_transform(ws, w -> list_transform(
        |    range(1, len(hex(encode(w))) // 2 + 1),
        |    i -> substr(lower(hex(encode(w))), CAST(i AS INT) * 2 - 1, 2)))
        |    AS wt
        | FROM t)
        |SELECT doc_id,
        | CAST(len(flatten(wt)) AS BIGINT) AS n_tokens,
        | array_to_string(flatten(wt), ' ') AS tokens_joined,
        | array_to_string(list_transform(wt,
        |   ts -> decode(unhex(array_to_string(ts, '')))), ' ') AS decoded,
        | array_to_string(list_transform(wt,
        |   ts -> decode(unhex(array_to_string(ts, '')))), ' ')
        |   = array_to_string(ws, ' ') AS lossless
        |FROM e ORDER BY doc_id""".stripMargin),

    // Full in-engine BPE training: 6 merge rules learned iteratively
    // from the corpus (pair argmax per round, deterministic (cnt DESC,
    // l, r) tiebreak; greedy left-to-right re-tokenize via the native
    // BpeMergePair pass). Every round touches only vocabulary-sized
    // data; one row per round reaches the driver.
    BoardQuery("x_bpe_train", ((s, dir) =>
      Corpus.bpeTrain(t(s, dir, "documents").select(col("text")),
          "text", nMerges = 6)
        .orderBy("merge_rank")),
      // vocab-weighted adjacent pairs, takes the argmax ((cnt DESC, l, r)
      // tiebreak), and re-tokenizes with the same greedy left-to-right
      // merge closed form (runs of overlapping matches merge at odd
      // positions; consumed tokens drop). MATERIALIZED CTEs keep the
      // 6-round chain linear - inlined, the re-referenced rounds
      // re-evaluate exponentially.
      """WITH toks AS (
        | SELECT CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |      ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |v0 AS (
        | SELECT w, CAST(COUNT(*) AS BIGINT) AS f,
        |  list_transform(range(1, LENGTH(w) + 1), j -> substr(w, CAST(j AS INT), 1)) AS t
        | FROM (SELECT unnest(tok) AS w FROM toks) z GROUP BY w),
        |t1 AS MATERIALIZED (
        | SELECT w, f, CAST(u.i AS INT) AS i, u.tk AS tok,
        |  LEAD(u.tk) OVER (PARTITION BY w ORDER BY u.i) AS nxt
        | FROM v0, UNNEST(list_transform(range(1, len(t) + 1),
        |   j -> {'i': j, 'tk': t[CAST(j AS INT)]})) AS z(u)),
        |m1 AS MATERIALIZED (
        | SELECT tok AS l, nxt AS r, SUM(f) AS cnt FROM t1 WHERE nxt IS NOT NULL
        | GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
        |g1 AS (
        | SELECT w, f, i, tok, nxt, mt,
        |  CASE WHEN mt THEN ROW_NUMBER() OVER (PARTITION BY w, grp, mt ORDER BY i) % 2 = 1
        |       ELSE FALSE END AS app
        | FROM (
        |  SELECT w, f, i, tok, nxt,
        |   (nxt IS NOT NULL AND tok = (SELECT l FROM m1) AND nxt = (SELECT r FROM m1)) AS mt,
        |   i - ROW_NUMBER() OVER (PARTITION BY w,
        |     (nxt IS NOT NULL AND tok = (SELECT l FROM m1) AND nxt = (SELECT r FROM m1))
        |     ORDER BY i) AS grp
        |  FROM t1) y),
        |v1 AS MATERIALIZED (
        | SELECT w, f, list(CASE WHEN app THEN tok || nxt ELSE tok END ORDER BY i) AS t
        | FROM (SELECT *, COALESCE(LAG(app) OVER (PARTITION BY w ORDER BY i), FALSE) AS consumed
        |       FROM g1) z2
        | WHERE NOT consumed GROUP BY w, f),
        |t2 AS MATERIALIZED (
        | SELECT w, f, CAST(u.i AS INT) AS i, u.tk AS tok,
        |  LEAD(u.tk) OVER (PARTITION BY w ORDER BY u.i) AS nxt
        | FROM v1, UNNEST(list_transform(range(1, len(t) + 1),
        |   j -> {'i': j, 'tk': t[CAST(j AS INT)]})) AS z(u)),
        |m2 AS MATERIALIZED (
        | SELECT tok AS l, nxt AS r, SUM(f) AS cnt FROM t2 WHERE nxt IS NOT NULL
        | GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
        |g2 AS (
        | SELECT w, f, i, tok, nxt, mt,
        |  CASE WHEN mt THEN ROW_NUMBER() OVER (PARTITION BY w, grp, mt ORDER BY i) % 2 = 1
        |       ELSE FALSE END AS app
        | FROM (
        |  SELECT w, f, i, tok, nxt,
        |   (nxt IS NOT NULL AND tok = (SELECT l FROM m2) AND nxt = (SELECT r FROM m2)) AS mt,
        |   i - ROW_NUMBER() OVER (PARTITION BY w,
        |     (nxt IS NOT NULL AND tok = (SELECT l FROM m2) AND nxt = (SELECT r FROM m2))
        |     ORDER BY i) AS grp
        |  FROM t2) y),
        |v2 AS MATERIALIZED (
        | SELECT w, f, list(CASE WHEN app THEN tok || nxt ELSE tok END ORDER BY i) AS t
        | FROM (SELECT *, COALESCE(LAG(app) OVER (PARTITION BY w ORDER BY i), FALSE) AS consumed
        |       FROM g2) z2
        | WHERE NOT consumed GROUP BY w, f),
        |t3 AS MATERIALIZED (
        | SELECT w, f, CAST(u.i AS INT) AS i, u.tk AS tok,
        |  LEAD(u.tk) OVER (PARTITION BY w ORDER BY u.i) AS nxt
        | FROM v2, UNNEST(list_transform(range(1, len(t) + 1),
        |   j -> {'i': j, 'tk': t[CAST(j AS INT)]})) AS z(u)),
        |m3 AS MATERIALIZED (
        | SELECT tok AS l, nxt AS r, SUM(f) AS cnt FROM t3 WHERE nxt IS NOT NULL
        | GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
        |g3 AS (
        | SELECT w, f, i, tok, nxt, mt,
        |  CASE WHEN mt THEN ROW_NUMBER() OVER (PARTITION BY w, grp, mt ORDER BY i) % 2 = 1
        |       ELSE FALSE END AS app
        | FROM (
        |  SELECT w, f, i, tok, nxt,
        |   (nxt IS NOT NULL AND tok = (SELECT l FROM m3) AND nxt = (SELECT r FROM m3)) AS mt,
        |   i - ROW_NUMBER() OVER (PARTITION BY w,
        |     (nxt IS NOT NULL AND tok = (SELECT l FROM m3) AND nxt = (SELECT r FROM m3))
        |     ORDER BY i) AS grp
        |  FROM t3) y),
        |v3 AS MATERIALIZED (
        | SELECT w, f, list(CASE WHEN app THEN tok || nxt ELSE tok END ORDER BY i) AS t
        | FROM (SELECT *, COALESCE(LAG(app) OVER (PARTITION BY w ORDER BY i), FALSE) AS consumed
        |       FROM g3) z2
        | WHERE NOT consumed GROUP BY w, f),
        |t4 AS MATERIALIZED (
        | SELECT w, f, CAST(u.i AS INT) AS i, u.tk AS tok,
        |  LEAD(u.tk) OVER (PARTITION BY w ORDER BY u.i) AS nxt
        | FROM v3, UNNEST(list_transform(range(1, len(t) + 1),
        |   j -> {'i': j, 'tk': t[CAST(j AS INT)]})) AS z(u)),
        |m4 AS MATERIALIZED (
        | SELECT tok AS l, nxt AS r, SUM(f) AS cnt FROM t4 WHERE nxt IS NOT NULL
        | GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
        |g4 AS (
        | SELECT w, f, i, tok, nxt, mt,
        |  CASE WHEN mt THEN ROW_NUMBER() OVER (PARTITION BY w, grp, mt ORDER BY i) % 2 = 1
        |       ELSE FALSE END AS app
        | FROM (
        |  SELECT w, f, i, tok, nxt,
        |   (nxt IS NOT NULL AND tok = (SELECT l FROM m4) AND nxt = (SELECT r FROM m4)) AS mt,
        |   i - ROW_NUMBER() OVER (PARTITION BY w,
        |     (nxt IS NOT NULL AND tok = (SELECT l FROM m4) AND nxt = (SELECT r FROM m4))
        |     ORDER BY i) AS grp
        |  FROM t4) y),
        |v4 AS MATERIALIZED (
        | SELECT w, f, list(CASE WHEN app THEN tok || nxt ELSE tok END ORDER BY i) AS t
        | FROM (SELECT *, COALESCE(LAG(app) OVER (PARTITION BY w ORDER BY i), FALSE) AS consumed
        |       FROM g4) z2
        | WHERE NOT consumed GROUP BY w, f),
        |t5 AS MATERIALIZED (
        | SELECT w, f, CAST(u.i AS INT) AS i, u.tk AS tok,
        |  LEAD(u.tk) OVER (PARTITION BY w ORDER BY u.i) AS nxt
        | FROM v4, UNNEST(list_transform(range(1, len(t) + 1),
        |   j -> {'i': j, 'tk': t[CAST(j AS INT)]})) AS z(u)),
        |m5 AS MATERIALIZED (
        | SELECT tok AS l, nxt AS r, SUM(f) AS cnt FROM t5 WHERE nxt IS NOT NULL
        | GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
        |g5 AS (
        | SELECT w, f, i, tok, nxt, mt,
        |  CASE WHEN mt THEN ROW_NUMBER() OVER (PARTITION BY w, grp, mt ORDER BY i) % 2 = 1
        |       ELSE FALSE END AS app
        | FROM (
        |  SELECT w, f, i, tok, nxt,
        |   (nxt IS NOT NULL AND tok = (SELECT l FROM m5) AND nxt = (SELECT r FROM m5)) AS mt,
        |   i - ROW_NUMBER() OVER (PARTITION BY w,
        |     (nxt IS NOT NULL AND tok = (SELECT l FROM m5) AND nxt = (SELECT r FROM m5))
        |     ORDER BY i) AS grp
        |  FROM t5) y),
        |v5 AS MATERIALIZED (
        | SELECT w, f, list(CASE WHEN app THEN tok || nxt ELSE tok END ORDER BY i) AS t
        | FROM (SELECT *, COALESCE(LAG(app) OVER (PARTITION BY w ORDER BY i), FALSE) AS consumed
        |       FROM g5) z2
        | WHERE NOT consumed GROUP BY w, f),
        |t6 AS MATERIALIZED (
        | SELECT w, f, CAST(u.i AS INT) AS i, u.tk AS tok,
        |  LEAD(u.tk) OVER (PARTITION BY w ORDER BY u.i) AS nxt
        | FROM v5, UNNEST(list_transform(range(1, len(t) + 1),
        |   j -> {'i': j, 'tk': t[CAST(j AS INT)]})) AS z(u)),
        |m6 AS MATERIALIZED (
        | SELECT tok AS l, nxt AS r, SUM(f) AS cnt FROM t6 WHERE nxt IS NOT NULL
        | GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
        |g6 AS (
        | SELECT w, f, i, tok, nxt, mt,
        |  CASE WHEN mt THEN ROW_NUMBER() OVER (PARTITION BY w, grp, mt ORDER BY i) % 2 = 1
        |       ELSE FALSE END AS app
        | FROM (
        |  SELECT w, f, i, tok, nxt,
        |   (nxt IS NOT NULL AND tok = (SELECT l FROM m6) AND nxt = (SELECT r FROM m6)) AS mt,
        |   i - ROW_NUMBER() OVER (PARTITION BY w,
        |     (nxt IS NOT NULL AND tok = (SELECT l FROM m6) AND nxt = (SELECT r FROM m6))
        |     ORDER BY i) AS grp
        |  FROM t6) y),
        |v6 AS MATERIALIZED (
        | SELECT w, f, list(CASE WHEN app THEN tok || nxt ELSE tok END ORDER BY i) AS t
        | FROM (SELECT *, COALESCE(LAG(app) OVER (PARTITION BY w ORDER BY i), FALSE) AS consumed
        |       FROM g6) z2
        | WHERE NOT consumed GROUP BY w, f)
        |SELECT * FROM (
        |SELECT CAST(1 AS INT) AS merge_rank, l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM m1
        |UNION ALL SELECT CAST(2 AS INT) AS merge_rank, l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM m2
        |UNION ALL SELECT CAST(3 AS INT) AS merge_rank, l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM m3
        |UNION ALL SELECT CAST(4 AS INT) AS merge_rank, l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM m4
        |UNION ALL SELECT CAST(5 AS INT) AS merge_rank, l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM m5
        |UNION ALL SELECT CAST(6 AS INT) AS merge_rank, l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM m6)
        |ORDER BY merge_rank""".stripMargin),

    // Unigram-LM (SentencePiece-style) tokenizer training — the other
    // mainstream subword family next to BPE: substring seed vocabulary,
    // 2 Viterbi-EM rounds (exact-decimal DP under round-9 log probs,
    // deterministic (score, piece-count, length) tiebreaks), char-floor
    // coverage, prune to 40 + chars. The oracle unrolls BOTH EM rounds —
    // the 12-position DP and its backtrack included — in DuckDB and
    // hash-matches counts AND log probs bit-for-bit.
    BoardQuery("x_unigram_train", ((s, dir) =>
      Corpus.unigramTrain(t(s, dir, "documents"), "text",
          vocabSize = 40, rounds = 2)
        .orderBy("piece")),
      // Unigram-LM training replayed end-to-end: substring seed, TWO
      // Viterbi-EM rounds fully unrolled (12-position exact-decimal DP +
      // backtrack per round, kernel-identical tiebreaks), char floor,
      // prune, renormalized round-9 log probs — counts AND logp
      // hash-match bit-for-bit.
      s"""WITH $unigramKeptCte
         |SELECT piece, cnt,
         | ROUND(ln(CAST(cnt AS DOUBLE)) -
         |   ln((SELECT CAST(SUM(cnt) AS DOUBLE) FROM ukept)), 9) AS logp
         |FROM ukept ORDER BY piece""".stripMargin),

    // Viterbi encode under the trained unigram vocabulary: map-only over
    // docs (vocab rides as plan state), per-word max-log-prob
    // segmentations concatenated in document order. Same unrolled-DP
    // oracle chain, extended with the per-doc backtrack ordering.
    BoardQuery("x_unigram_encode", ((s, dir) => {
      val docs = t(s, dir, "documents")
        .where(col("text").isNotNull && length(trim(col("text"))) > 0)
      val vocab = Corpus.unigramTrain(docs, "text", vocabSize = 40, rounds = 2)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toSeq
      Corpus.unigramEncode(docs, "doc_id", "text", vocab)
        .select(col("doc_id"), array_join(col("pieces"), " ").as("encoded"),
          col("n_pieces"))
        .orderBy("doc_id")
    }),
      // Encode = one more unrolled Viterbi pass (round 3) under the FINAL
      // pruned vocabulary's log probs; per-doc piece order reconstructs
      // from (word index ASC, backtrack step DESC — step s is the s-th
      // piece from the word's end).
      s"""WITH $unigramKeptCte,
         |${unigramRoundCtes(3, "ukept")},
         |uwords AS (
         | SELECT doc_id, wi, list_extract(arr, CAST(wi AS INTEGER)) AS word
         | FROM (
         |  SELECT doc_id, unnest(range(1, len(arr) + 1)) AS wi, arr FROM (
         |   SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
         |   FROM documents
         |   WHERE text IS NOT NULL AND length(trim(text)) > 0)))
         |SELECT u.doc_id,
         | string_agg(e.piece, ' ' ORDER BY u.wi ASC, e.s DESC) AS encoded,
         | CAST(COUNT(*) AS BIGINT) AS n_pieces
         |FROM uwords u JOIN upc3 e ON e.w = u.word
         |GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // Greedy WordPiece encode (the BERT tokenizer) against a vocabulary
    // derived deterministically from the unigram trainer (pieces + their
    // ##-continuation forms): longest-match-first per position, map-only.
    // The oracle replays the vocabulary chain AND the forward walk.
    BoardQuery("x_wordpiece", ((s, dir) => {
      val docs = t(s, dir, "documents")
        .where(col("text").isNotNull && length(trim(col("text"))) > 0)
      val pieces = Corpus.unigramTrain(docs, "text", vocabSize = 40, rounds = 2)
        .collect().map(_.getString(0)).toSeq
      Corpus.wordpieceEncode(docs, "doc_id", "text",
          pieces ++ pieces.map("##" + _))
        .select(col("doc_id"), array_join(col("pieces"), " ").as("encoded"),
          col("n_pieces"))
        .orderBy("doc_id")
    }),
      // The WordPiece walk replayed on the same trained-vocabulary chain:
      // every step's longest match, the completion test, the [UNK]
      // collapse rule, and forward piece order per doc.
      s"""WITH $unigramKeptCte,
         |$wordpieceCtes,
         |uwords AS (
         | SELECT doc_id, wi, list_extract(arr, CAST(wi AS INTEGER)) AS word
         | FROM (
         |  SELECT doc_id, unnest(range(1, len(arr) + 1)) AS wi, arr FROM (
         |   SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
         |   FROM documents
         |   WHERE text IS NOT NULL AND length(trim(text)) > 0)))
         |SELECT u.doc_id,
         | string_agg(p.piece, ' ' ORDER BY u.wi ASC, p.s ASC) AS encoded,
         | CAST(COUNT(*) AS BIGINT) AS n_pieces
         |FROM uwords u JOIN wpieces p ON p.word = u.word
         |GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // Lexical diversity census: type-token + distinct-bigram ratios as
    // floor-ppm ints, computed entirely inside one scan projection —
    // zero shuffles, nothing leaves its map task.
    BoardQuery("x_diversity", ((s, dir) =>
      Corpus.diversitySignals(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
      // Same token split, 1-based list bigrams, len()/list_distinct.
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS t
        | FROM documents),
        |g AS (SELECT doc_id, t,
        |  CASE WHEN len(t) >= 2
        |       THEN list_transform(range(1, CAST(len(t) AS INTEGER)),
        |         i -> t[i] || ' ' || t[i + 1])
        |       ELSE []::VARCHAR[] END AS bg
        | FROM d)
        |SELECT doc_id,
        | len(t) AS n_tokens,
        | len(list_distinct(t)) AS n_distinct_tokens,
        | len(bg) AS n_bigrams,
        | len(list_distinct(bg)) AS n_distinct_bigrams,
        | CASE WHEN len(t) > 0
        |      THEN (len(list_distinct(t)) * 1000000) // len(t) END AS ttr_ppm,
        | CASE WHEN len(bg) > 0
        |      THEN (len(list_distinct(bg)) * 1000000) // len(bg)
        | END AS distinct_bigram_ppm
        |FROM g ORDER BY doc_id""".stripMargin),

    // Token-level corpus drift: the 100 tokens whose rates differ most
    // between two slices, ranked by the exact cross-product statistic
    // |c_a·N_b − c_b·N_a| (integer — no float ratio in a ranking key).
    BoardQuery("x_token_shift", ((s, dir) => {
      val d = t(s, dir, "documents")
      Corpus.tokenShiftTopK(
          d.where(pmod(col("doc_id"), lit(3)) === 0),
          d.where(pmod(col("doc_id"), lit(3)) =!= 0),
          "text", k = 100)
        .withColumn("shift", big(col("shift"), "shift"))
    }),
      // Same slices; HUGEINT cross-products internally, shift narrowed
      // to BIGINT at the edge (mirrors the engine's big() guard).
      """WITH ta AS (
        | SELECT unnest(CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS token
        | FROM documents WHERE doc_id % 3 = 0),
        |tb AS (
        | SELECT unnest(CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS token
        | FROM documents WHERE doc_id % 3 <> 0),
        |ca AS (SELECT token, COUNT(*) AS c_a FROM ta GROUP BY token),
        |cb AS (SELECT token, COUNT(*) AS c_b FROM tb GROUP BY token),
        |na AS (SELECT CAST(COALESCE(SUM(c_a), 0) AS BIGINT) AS n_a FROM ca),
        |nb AS (SELECT CAST(COALESCE(SUM(c_b), 0) AS BIGINT) AS n_b FROM cb),
        |j AS (SELECT COALESCE(ca.token, cb.token) AS token,
        |  COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b
        | FROM ca FULL OUTER JOIN cb ON ca.token = cb.token)
        |SELECT j.token, j.c_a, j.c_b, n_a, n_b,
        | CAST(abs(CAST(j.c_a AS HUGEINT) * n_b
        |   - CAST(j.c_b AS HUGEINT) * n_a) AS BIGINT) AS shift
        |FROM j, na, nb
        |ORDER BY shift DESC, token LIMIT 100""".stripMargin),

    // Retrieval evaluation: per-language top-10 ranking (longest docs
    // first — a deterministic stand-in ranker) scored against the
    // src0-membership relevance set: hits@k, first relevant rank,
    // precision/recall as exact floor-ppm.
    BoardQuery("x_retrieval_eval", ((s, dir) => {
      val d = t(s, dir, "documents")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      val ranked = d.select(col("lang"), col("doc_id"), col("n_chars"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 10)
      val qrels = d.where(col("source") === "src0")
        .select(col("lang"), col("doc_id"))
      Corpus.retrievalEval(ranked, qrels, "lang", "doc_id", "rank", k = 10)
        .orderBy("lang")
    }),
      // Same ranking and relevance universe; metrics as floor-ppm ints.
      """WITH ranked AS (
        | SELECT lang, doc_id,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY n_chars DESC, doc_id) AS rank
        | FROM documents),
        |topk AS (SELECT lang, doc_id, rank FROM ranked WHERE rank <= 10),
        |rel AS (SELECT DISTINCT lang, doc_id FROM documents
        | WHERE source = 'src0' AND lang IS NOT NULL AND doc_id IS NOT NULL),
        |nrel AS (SELECT lang, COUNT(*) AS n_rel FROM rel GROUP BY lang),
        |h AS (SELECT t.lang, COUNT(*) AS h, MIN(t.rank) AS first_rel_rank
        | FROM topk t JOIN rel r ON t.lang = r.lang AND t.doc_id = r.doc_id
        | GROUP BY t.lang)
        |SELECT n.lang, n.n_rel, COALESCE(h.h, 0) AS hits_at_k,
        | h.first_rel_rank,
        | (COALESCE(h.h, 0) * 1000000) // 10 AS precision_ppm,
        | (COALESCE(h.h, 0) * 1000000) // n.n_rel AS recall_ppm
        |FROM nrel n LEFT JOIN h ON n.lang = h.lang
        |ORDER BY n.lang""".stripMargin),

    // Vocabulary coverage audit: the corpus's own top-100 word vocab
    // (the x_vocab table) scored back over every document — per-doc
    // OOV counts and floor-ppm rate, the measurement in front of any
    // tokenizer/UNK decision. Explode + broadcast vocab join + one
    // doc-keyed agg.
    BoardQuery("x_vocab_coverage", ((s, dir) => {
      val d = t(s, dir, "documents")
      val vocab = d.select(explode(TF.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(100)
      Corpus.vocabCoverage(d, "doc_id", "text", vocab)
        .orderBy("doc_id")
    }),
      // Same top-100 vocab, same exact-match coverage; the ppm is the
      // exact floor rational, BIGINT everywhere per the §2.7 convention.
      """WITH tk AS (SELECT doc_id,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS t
        | FROM documents),
        |v AS (SELECT token FROM (
        |  SELECT unnest(t) AS token FROM tk) z
        | GROUP BY token ORDER BY COUNT(*) DESC, token LIMIT 100),
        |e AS (SELECT doc_id, unnest(t) AS tok FROM tk),
        |j AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  CAST(SUM(LENGTH(e.tok)) AS BIGINT) AS n_token_chars
        | FROM e LEFT JOIN v ON e.tok = v.token GROUP BY e.doc_id)
        |SELECT tk.doc_id,
        | COALESCE(j.n_tokens, 0) AS n_tokens,
        | COALESCE(j.n_oov, 0) AS n_oov,
        | CASE WHEN COALESCE(j.n_tokens, 0) > 0
        |      THEN (COALESCE(j.n_oov, 0) * 1000000) // j.n_tokens
        | END AS oov_ppm,
        | COALESCE(j.n_token_chars, 0) AS n_token_chars
        |FROM tk LEFT JOIN j ON tk.doc_id = j.doc_id
        |ORDER BY tk.doc_id""".stripMargin),

    // Top-30 collocations by PMI (token-stream marginals, min pair
    // count 5): bigram-keyed agg + two broadcast vocab joins + top-k
    // heaps. Output is exact integer counts; the rank key is the exact
    // rational c_ab·N/(c_a·c_b) (same order as PMI — ln is monotone)
    // via correctly-rounded double ops only, so no libm ln can flake.
    BoardQuery("x_pmi", ((s, dir) =>
      Corpus.pmiTopK(t(s, dir, "documents"), "text", k = 30, minCount = 5L)),
      // PMI mirrored as exact integers: the output is only counts, and
      // the ranking rational c_ab·N/(c_a·c_b) uses double multiply/divide
      // (correctly rounded by IEEE-754 — identical bits on any engine,
      // which ln from a platform libm is NOT guaranteed to be).
      """WITH tk AS (SELECT regexp_split_to_array(TRIM(text), '\s+') AS t
        |  FROM documents WHERE LENGTH(TRIM(text)) > 0),
        |big AS (SELECT unnest(list_transform(range(1, len(t)), i ->
        |   {'w1': t[CAST(i AS INTEGER)], 'w2': t[CAST(i AS INTEGER) + 1]}))
        |   AS bg
        | FROM tk),
        |bp AS (SELECT bg.w1 AS w1, bg.w2 AS w2 FROM big),
        |bc AS (SELECT w1, w2, count(*) AS c_ab FROM bp GROUP BY 1, 2
        | HAVING count(*) >= 5),
        |ucc AS (SELECT w, count(*) AS c FROM
        | (SELECT unnest(t) AS w FROM tk) GROUP BY 1),
        |nb AS (SELECT count(*) AS nbig FROM bp)
        |SELECT w1, w2, c_ab, ca.c AS c_a, cb.c AS c_b, nbig
        |FROM bc JOIN ucc ca ON ca.w = bc.w1 JOIN ucc cb ON cb.w = bc.w2, nb
        |ORDER BY (CAST(c_ab AS DOUBLE) * CAST(nbig AS DOUBLE))
        |   / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) DESC, w1, w2
        |LIMIT 30""".stripMargin),

    // Top-30 collocations by Pearson chi-square — the hypothesis-test
    // counterpart of x_pmi (PMI over-rewards rare pairs; chi2 weighs
    // evidence). All O's are exact longs cast to double; the chi2
    // expression is pinned-order correctly-rounded double arithmetic.
    BoardQuery("x_chi2_colloc", ((s, dir) =>
      Corpus.chi2Collocations(t(s, dir, "documents"), "text", k = 30,
        minCount = 5L)),
      // Chi-square mirrored with marginals from the bigram table itself;
      // O's are exact BIGINT arithmetic cast to double, the chi2
      // expression spells the identical pinned association order.
      raw"""WITH tk AS (SELECT regexp_split_to_array(TRIM(text), '\s+') AS t
        |  FROM documents WHERE LENGTH(TRIM(text)) > 0),
        |big AS (SELECT unnest(list_transform(range(1, len(t)), i ->
        |   {'w1': t[CAST(i AS INTEGER)], 'w2': t[CAST(i AS INTEGER) + 1]}))
        |   AS bg
        | FROM tk),
        |bc AS (SELECT bg.w1 AS w1, bg.w2 AS w2, COUNT(*) AS c_ab
        | FROM big GROUP BY 1, 2),
        |r AS (SELECT w1, CAST(SUM(c_ab) AS BIGINT) AS r1 FROM bc GROUP BY 1),
        |c AS (SELECT w2, CAST(SUM(c_ab) AS BIGINT) AS c1 FROM bc GROUP BY 1),
        |n AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS nbig FROM bc),
        |j AS (SELECT bc.w1, bc.w2, bc.c_ab, r.r1, c.c1, n.nbig,
        |  CAST(bc.c_ab AS DOUBLE)
        |      * CAST(n.nbig - r.r1 - c.c1 + bc.c_ab AS DOUBLE)
        |    - CAST(r.r1 - bc.c_ab AS DOUBLE)
        |      * CAST(c.c1 - bc.c_ab AS DOUBLE) AS d
        | FROM bc JOIN r ON r.w1 = bc.w1 JOIN c ON c.w2 = bc.w2, n
        | WHERE bc.c_ab >= 5)
        |SELECT w1, w2, c_ab, r1, c1, nbig,
        | ROUND((CAST(nbig AS DOUBLE) * (d * d))
        |   / ((CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE))
        |     * (CAST(nbig - r1 AS DOUBLE) * CAST(nbig - c1 AS DOUBLE))), 9)
        |   AS chi2
        |FROM j ORDER BY chi2 DESC, w1, w2 LIMIT 30""".stripMargin),

    // Phonetic spelling-variant census: soundex-bucketed vocabulary
    // (official American Soundex incl. H/W transparency, built as a
    // translate+regex chain over the shared Java/RE2 subset), buckets
    // with >= 2 distinct spellings, top-40 by occurrences — the
    // record-linkage blocking-key audit. The fixture's 31-word vocab
    // has zero phonetic collisions, so three name-variant docs are
    // PLANTED (mirrored in the oracle) to witness the bucketing: the
    // variants must land together, the rest must stay out.
    BoardQuery("x_soundex", ((s, dir) => {
      import s.implicits._
      val planted = Seq(
        (90000001L, "Robert Rupert robert Ashcraft Ashcroft"),
        (90000002L, "Smith Smyth Smithe Honeyman Honeymann"),
        (90000003L, "Tymczak Tomczak Pfister Phister"))
        .toDF("doc_id", "text")
      Corpus.phoneticVariants(
        t(s, dir, "documents").select(col("doc_id"), col("text"))
          .unionByName(planted),
        "text", k = 40)
    }),
      // Soundex mirrored step-for-step: same translate table (9 = h/w
      // marker), the same single greedy d[d9]*d merge pass per digit,
      // run collapse, head-code drop, then 9/0 removal — all in the
      // shared regex subset (no backrefs), every regexp_replace with
      // 'g'.
      {
      val merged = (1 to 6).foldLeft("d0")((a, d) =>
        s"regexp_replace($a, '$d[${d}9]*$d', '$d$d', 'g')")
      val collapsed = (1 to 6).foldLeft(merged)((a, d) =>
        s"regexp_replace($a, '$d{2,}', '$d', 'g')")
      val digits = s"regexp_replace(regexp_replace(regexp_replace(" +
        s"$collapsed, '^.', '', 'g'), '9', '', 'g'), '0', '', 'g')"
      raw"""WITH docs AS (
        | SELECT text FROM documents
        | UNION ALL SELECT 'Robert Rupert robert Ashcraft Ashcroft'
        | UNION ALL SELECT 'Smith Smyth Smithe Honeyman Honeymann'
        | UNION ALL SELECT 'Tymczak Tomczak Pfister Phister'),
        |tc AS (SELECT t, COUNT(*) AS c FROM (
        | SELECT unnest(CASE WHEN text IS NULL OR LENGTH(TRIM(text)) = 0
        |   THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS t
        | FROM docs) GROUP BY 1),
        |s AS (SELECT t, c,
        |  upper(regexp_replace(t, '[^A-Za-z]', '', 'g')) AS up FROM tc),
        |d AS (SELECT t, c, up, translate(up,
        |  'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
        |  '01230129022455012623019202') AS d0 FROM s),
        |x AS (SELECT t, c, up, $digits AS dg FROM d),
        |sx AS (SELECT t, c, CASE WHEN length(up) = 0 THEN NULL
        |  ELSE substr(up, 1, 1) || substr(rpad(dg, 3, '0'), 1, 3)
        |  END AS sdx FROM x)
        |SELECT sdx, COUNT(*) AS n_spellings,
        | CAST(SUM(c) AS BIGINT) AS n_tokens,
        | MIN(t) AS spelling_min, MAX(t) AS spelling_max
        |FROM sx WHERE sdx IS NOT NULL GROUP BY 1
        |HAVING COUNT(*) >= 2
        |ORDER BY n_tokens DESC, sdx LIMIT 40""".stripMargin
    }),

    // Corpus-level RAKE keywords: stopword/punct-broken candidate
    // phrases, deg/freq word scores (one double divide each), phrase
    // score = DECIMAL(30,15) sum of word scores, top-30.
    BoardQuery("x_rake", ((s, dir) =>
      Corpus.rakeKeywords(t(s, dir, "documents"), "text",
        stopwords = Seq("the", "a", "of", "and", "to", "in", "is",
          "for", "on", "with"),
        k = 30)),
      // RAKE mirrored list-for-list: chr(1) break markers, string_split
      // phrase re-split, identical stoplist, deg/freq divides and the
      // DECIMAL(30,15) phrase sum.
      raw"""WITH tk AS (SELECT CASE
        |   WHEN text IS NULL OR LENGTH(TRIM(lower(text))) = 0
        |   THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(lower(text)), '\s+') END AS tok
        | FROM documents),
        |mk AS (SELECT list_transform(tok, t -> CASE
        |   WHEN t IN ('the','a','of','and','to','in','is','for','on','with')
        |     OR NOT regexp_matches(t, '[a-z0-9]') THEN chr(1) ELSE t END)
        |   AS m FROM tk),
        |ph AS (SELECT trim(p) AS phrase FROM (
        |  SELECT unnest(string_split(array_to_string(m, ' '), chr(1))) AS p
        |  FROM mk)
        | WHERE LENGTH(trim(p)) > 0),
        |pt AS (SELECT phrase, COUNT(*) AS n_occur,
        |  string_split(phrase, ' ') AS ws
        | FROM ph GROUP BY 1 HAVING len(string_split(phrase, ' ')) <= 8),
        |pw AS (SELECT phrase, n_occur, CAST(len(ws) AS BIGINT) AS l,
        |  unnest(ws) AS w FROM pt),
        |ws AS (SELECT w, CAST(SUM(n_occur) AS BIGINT) AS freq,
        |  CAST(SUM(n_occur * l) AS BIGINT) AS deg FROM pw GROUP BY 1)
        |SELECT pw.phrase, pw.n_occur, pw.l AS n_words,
        | ROUND(CAST(SUM(CAST(CAST(ws.deg AS DOUBLE) / CAST(ws.freq AS DOUBLE)
        |   AS DECIMAL(30,15))) AS DOUBLE), 9) AS score
        |FROM pw JOIN ws ON ws.w = pw.w
        |GROUP BY pw.phrase, pw.n_occur, pw.l
        |ORDER BY score DESC, phrase LIMIT 30""".stripMargin),

    // Church-Gale term burstiness: cf/df + variance-to-mean of per-doc
    // counts (zeros in) per token with df >= 5, top-30 by burst — the
    // topicality/keyword signal TF-IDF approximates. Exact integers +
    // two pinned-order double ratios.
    BoardQuery("x_burstiness", ((s, dir) =>
      Corpus.burstiness(t(s, dir, "documents"), "doc_id", "text", k = 30,
        minDf = 5L)),
      // Burstiness mirrored: exact integer term stats, two pinned-order
      // double ratios (HUGEINT sums cast back to BIGINT per convention).
      raw"""WITH dt AS (SELECT doc_id, t, COUNT(*) AS c FROM (
        |  SELECT doc_id, unnest(CASE WHEN text IS NULL
        |    OR LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS t
        |  FROM documents) GROUP BY 1, 2),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |term AS (SELECT t, CAST(SUM(c) AS BIGINT) AS cf, COUNT(*) AS df,
        |  CAST(SUM(c * c) AS BIGINT) AS sum_c2 FROM dt GROUP BY 1
        |  HAVING COUNT(*) >= 5)
        |SELECT t AS token, cf, df, sum_c2, n_docs,
        | ROUND(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 9) AS burst,
        | ROUND(((CAST(sum_c2 AS DOUBLE)
        |     - (CAST(cf AS DOUBLE) * CAST(cf AS DOUBLE))
        |       / CAST(n_docs AS DOUBLE))
        |    / (CAST(n_docs AS DOUBLE) - 1.0))
        |   / (CAST(cf AS DOUBLE) / CAST(n_docs AS DOUBLE)), 9) AS vmr
        |FROM term, nd ORDER BY burst DESC, token LIMIT 30""".stripMargin),
  )
}
