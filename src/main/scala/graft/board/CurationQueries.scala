package graft
package board

import org.apache.spark.sql.functions._

import graft.functions.{Corpus, Dedup, TextFunctions => TF}
import Helpers._

/** Text curation over [[graft.functions.Corpus]] and
  * [[graft.functions.TextFunctions]]: quality and language gates, filter
  * funnels, decontamination, sampling, mixing and packing, and the web
  * layer (URL canonicalization, robots, sitemaps, link graphs).
  */
private[graft] object CurationQueries {

  /** UTF-8 bytes mis-decoded as windows-1252 — plants deterministic
    * mojibake for x_mojibake (clean originals in source, artifacts
    * derived, never hand-typed). Uses the WHATWG table, NOT the JDK
    * charset (whose decoder U+FFFDs the five undefined bytes). */
  private def moji(s: String): String =
    Corpus.decodeAsCp1252(s.getBytes("UTF-8"))
  private val mojiS1 = moji(" Café — naïve ½")
  private val mojiS2 = moji(" “quoted” cost €99 ™")

  /** The [[Corpus.mojibakePairs]] replace chain as DuckDB SQL — the
    * oracle is generated from the SAME table the engine folds, so the
    * two sides cannot drift. Artifacts/targets never contain ASCII
    * quotes (all chars ≥ U+0080), so no literal escaping is needed. */
  private def mojiSqlChain(e: String, pairs: Seq[(String, String)]): String =
    pairs.foldLeft(e) { case (x, (a, r)) => s"replace($x, '$a', '$r')" }

  /** DuckDB mirror of Corpus.pctNormalize (RFC 3986 §6.2.2): split on
    * '%', per tail part uppercase-or-decode the hex triplet, rejoin.
    * `e` must be a bare column name (it is spliced several times). */
  private def pctNormSql(e: String): String = {
    val h1 = s"(strpos('0123456789abcdef', lower(substring(p, 1, 1))) - 1)"
    val h2 = s"(strpos('0123456789abcdef', lower(substring(p, 2, 1))) - 1)"
    val v = s"($h1 * 16 + $h2)"
    s"""str_split($e, '%')[1] || COALESCE(array_to_string(
       |  list_transform(str_split($e, '%')[2:], p ->
       |   CASE WHEN length(p) >= 2 AND $h1 >= 0 AND $h2 >= 0
       |    THEN CASE WHEN ($v BETWEEN 48 AND 57) OR ($v BETWEEN 65 AND 90)
       |           OR ($v BETWEEN 97 AND 122) OR $v IN (45, 46, 95, 126)
       |      THEN chr(CAST($v AS INTEGER)) || substring(p, 3)
       |      ELSE '%' || upper(substring(p, 1, 2)) || substring(p, 3) END
       |    ELSE '%' || p END), ''), '')""".stripMargin
  }

  /** The DuckDB mirror of [[plantedUrl]] + the staged canonicalization
    * chain (CTEs d, p1..p8), shared by the x_url_canon and
    * x_domain_stats oracles; `selectCols` carries extra columns through
    * the `SELECT *` stages. Plain concatenation, not interpolation —
    * the regexes contain `$` anchors.
    */
  private def urlCanonOracleChain(selectCols: String): String =
    "WITH d AS (SELECT " + selectCols + "\n" +
      """ CASE CAST(doc_id % 5 AS INT)
        |  WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Path/Page?utm_source=x&b=2&a=1#frag'
        |  WHEN 1 THEN 'https://news.example.co.uk/a/' || doc_id ||
        |    '?id=' || doc_id || '&utm_campaign=z'
        |  WHEN 2 THEN 'https://cdn.static.example.org:8080/lib.js?v=' ||
        |    (doc_id % 7) || '&utm_medium=y&fbclid=f'
        |  WHEN 3 THEN 'http://example.net'
        |  ELSE 'https://Sub.Domain.Example.com/x%20y/' || lang || '?gclid=abc'
        | END AS url
        | FROM documents),
        |p1 AS (SELECT *, TRIM(url) AS u FROM d),
        |p2 AS (SELECT *,
        |  regexp_matches(u, '^[A-Za-z][A-Za-z0-9+.-]*://') AS hs,
        |  regexp_replace(u, '#.*$', '') AS nf FROM p1),
        |p3 AS (SELECT *,
        |  lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM p2),
        |p4 AS (SELECT *,
        |  lower(regexp_extract(rest, '^([^/?]+)', 1)) AS hostport,
        |  regexp_replace(rest, '^[^/?]*', '') AS pathq FROM p3),
        |p5 AS (SELECT *,
        |  CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |       WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |       ELSE hostport END AS host FROM p4),
        |p6 AS (SELECT *,
        |  CASE WHEN regexp_extract(pathq, '^([^?]*)', 1) = '' THEN '/'
        |       ELSE regexp_extract(pathq, '^([^?]*)', 1) END AS path,
        |  list_filter(string_split(regexp_extract(pathq, '\?(.*)$', 1), '&'),
        |    x -> x <> '') AS ap FROM p5),
        |p7 AS (SELECT *,
        |  list_sort(list_filter(ap, x -> NOT (
        |    starts_with(regexp_extract(x, '^([^=]*)', 1), 'utm_')
        |    OR regexp_extract(x, '^([^=]*)', 1) IN ('gclid','fbclid','msclkid'))))
        |    AS kp FROM p6),
        |p8 AS (SELECT *,
        |  regexp_replace(regexp_replace(host, ':[0-9]+$', ''),
        |    '^www\.', '') AS bare,
        |  string_split(regexp_replace(regexp_replace(host, ':[0-9]+$', ''),
        |    '^www\.', ''), '.') AS lbl FROM p7)
        |""".stripMargin

  /** One DuckDB fixpoint step of RFC 3986 dot-segment removal — the
    * SAME six ordered rules as Corpus.dotStep (replace-all where the
    * engine replaces all, anchored where anchored), spliced around the
    * argument expression. The x_resolve_links oracle iterates it to
    * fixpoint in a recursive CTE. Plain concatenation — the patterns
    * contain `$` anchors.
    */
  private def dotStepSql(x: String): String = {
    // "anything but . or ..", empty included — RE2 has no lookahead,
    // so the exclusion is spelled as an alternation (mirrors
    // Corpus.PoppableSeg exactly)
    val seg = "(?:|[^/.][^/]*|\\.[^/.][^/]*|\\.\\.[^/]+)"
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      "regexp_replace(regexp_replace(" + x +
      ", '/\\./', '/', 'g'), '/\\.$', '/'), '^/\\.\\./', '/'), " +
      "'^/\\.\\.$', '/'), '/" + seg + "/\\.\\./', '/', 'g'), " +
      "'/" + seg + "/\\.\\.$', '/')"
  }

  val queries: Seq[BoardQuery] = Seq(

    // Quality scoring: length/punctuation/stopword signals.
    BoardQuery("x_quality", ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"),
        TF.punctRatio(col("text")).as("punct_ratio"),
        TF.stopwordRatio(col("text")).as("stopword_ratio"),
        TF.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),
      """WITH toks AS (
        | SELECT doc_id, text,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(tok) AS BIGINT) AS n_tokens,
        | CASE WHEN LENGTH(text) = 0 THEN 0.0
        |   ELSE CAST(LENGTH(regexp_replace(text, '[^.,!?;:''"()-]', '', 'g')) AS DOUBLE)
        |        / CAST(LENGTH(text) AS DOUBLE) END AS punct_ratio,
        | CASE WHEN len(tok) = 0 THEN 0.0
        |   ELSE CAST(len(list_filter(tok, x -> lower(x) IN ('the','a','an','of','and','to','in','is','it','that'))) AS DOUBLE)
        |        / CAST(len(tok) AS DOUBLE) END AS stopword_ratio,
        | LEAST(1.0, CAST(len(tok) AS DOUBLE) / 100.0) *
        |  (1.0 - CASE WHEN LENGTH(text) = 0 THEN 0.0
        |    ELSE CAST(LENGTH(regexp_replace(text, '[^.,!?;:''"()-]', '', 'g')) AS DOUBLE)
        |         / CAST(LENGTH(text) AS DOUBLE) END) AS quality
        |FROM toks ORDER BY doc_id""".stripMargin),

    // Language ID: stopword-profile argmax heuristic.
    // Scored language ID over planted multilingual suffixes: German /
    // French / Spanish stopword runs flip the verdict on their docs, a
    // planted 1-1 en/de tie reads margin 0 with en winning by profile
    // order. All-integer outputs; map-only.
    BoardQuery("x_langid_scored", ((s, dir) => {
      val txt = when(col("doc_id") % 5 === 1,
          concat(col("text"), lit(" der die das und ist nicht")))
        .when(col("doc_id") % 5 === 2,
          concat(col("text"), lit(" le la et les des est")))
        .when(col("doc_id") % 5 === 3,
          concat(col("text"), lit(" el los las y que")))
        .when(col("doc_id") % 5 === 4, lit("the und"))
        .otherwise(col("text"))
      TF.langIdScored(
          t(s, dir, "documents").select(col("doc_id"), txt.as("text")),
          "doc_id", "text")
        .orderBy("doc_id")
    }),
      // Scored langid: the same stopword hit counts as BIGINT list
      // filters, DESC list sort for top/second, the profile-order CASE.
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 1
        |    THEN text || ' der die das und ist nicht'
        |   WHEN doc_id % 5 = 2 THEN text || ' le la et les des est'
        |   WHEN doc_id % 5 = 3 THEN text || ' el los las y que'
        |   WHEN doc_id % 5 = 4 THEN 'the und'
        |   ELSE text END AS text
        | FROM documents),
        |tk AS (SELECT doc_id,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM d),
        |h AS (SELECT doc_id,
        |  CAST(len(list_filter(tok, t -> lower(t) IN ('the','a','of','and','to','is','in'))) AS BIGINT) AS h_en,
        |  CAST(len(list_filter(tok, t -> lower(t) IN ('der','die','das','und','ist','nicht','ein'))) AS BIGINT) AS h_de,
        |  CAST(len(list_filter(tok, t -> lower(t) IN ('le','la','et','les','des','un','est'))) AS BIGINT) AS h_fr,
        |  CAST(len(list_filter(tok, t -> lower(t) IN ('el','los','las','de','y','que','un'))) AS BIGINT) AS h_es,
        |  CAST(len(list_filter(tok, t -> lower(t) IN ('的','是','了','不','在','我','有'))) AS BIGINT) AS h_zh
        | FROM tk),
        |s AS (SELECT *,
        |  list_sort([h_en, h_de, h_fr, h_es, h_zh], 'DESC') AS srt
        | FROM h)
        |SELECT doc_id,
        | CASE WHEN srt[1] = 0 THEN 'und'
        |      WHEN h_en = srt[1] THEN 'en'
        |      WHEN h_de = srt[1] THEN 'de'
        |      WHEN h_fr = srt[1] THEN 'fr'
        |      WHEN h_es = srt[1] THEN 'es'
        |      ELSE 'zh' END AS lang,
        | CASE WHEN srt[1] > 0 THEN srt[1] ELSE 0 END AS n_hits,
        | CASE WHEN srt[1] > 0 THEN srt[1] - srt[2] ELSE 0 END AS margin
        |FROM s ORDER BY doc_id""".stripMargin),

    BoardQuery("x_langid", ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TF.langId(col("text")).as("predicted"))
        .orderBy("doc_id")),
      """WITH toks AS (
        | SELECT doc_id, lang,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |scores AS (
        | SELECT doc_id, lang,
        |  len(list_filter(tok, x -> lower(x) IN ('the','a','of','and','to','is','in'))) AS s_en,
        |  len(list_filter(tok, x -> lower(x) IN ('der','die','das','und','ist','nicht','ein'))) AS s_de,
        |  len(list_filter(tok, x -> lower(x) IN ('le','la','et','les','des','un','est'))) AS s_fr,
        |  len(list_filter(tok, x -> lower(x) IN ('el','los','las','de','y','que','un'))) AS s_es,
        |  len(list_filter(tok, x -> lower(x) IN ('的','是','了','不','在','我','有'))) AS s_zh
        | FROM toks)
        |SELECT doc_id, lang,
        | CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 AND s_zh = 0 THEN 'und'
        |      WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
        |      WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
        |      WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
        |      WHEN s_es >= s_zh THEN 'es'
        |      ELSE 'zh' END AS predicted
        |FROM scores ORDER BY doc_id""".stripMargin),

    // End-to-end curation pipeline: language filter → quality floor →
    // exact-dedup (keep min id per text) → token accounting. The
    // composition a training-data pipeline runs before tokenization;
    // one declarative plan, fully oracle-checked.
    BoardQuery("x_pipeline_curate", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs.select(col("doc_id"), col("text"),
        TF.langId(col("text")).as("pred_lang"),
        TF.qualityScore(col("text")).as("quality"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"))
      scored
        .where(col("pred_lang") === "en" && col("quality") > 0.2)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"),
          max(col("n_tokens")).as("n_tokens"),
          max(col("quality")).as("quality"))
        .select(col("doc_id"), col("n_tokens"), col("quality"))
        .orderBy("doc_id")
    }),
      """WITH toks AS (
        | SELECT doc_id, text,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |scored AS (
        | SELECT doc_id, text,
        |  len(list_filter(tok, x -> lower(x) IN ('the','a','of','and','to','is','in'))) AS s_en,
        |  len(list_filter(tok, x -> lower(x) IN ('der','die','das','und','ist','nicht','ein'))) AS s_de,
        |  len(list_filter(tok, x -> lower(x) IN ('le','la','et','les','des','un','est'))) AS s_fr,
        |  len(list_filter(tok, x -> lower(x) IN ('el','los','las','de','y','que','un'))) AS s_es,
        |  len(list_filter(tok, x -> lower(x) IN ('的','是','了','不','在','我','有'))) AS s_zh,
        |  CAST(len(tok) AS BIGINT) AS n_tokens,
        |  LEAST(1.0, CAST(len(tok) AS DOUBLE) / 100.0) *
        |   (1.0 - CASE WHEN LENGTH(text) = 0 THEN 0.0
        |     ELSE CAST(LENGTH(regexp_replace(text, '[^.,!?;:''"()-]', '', 'g')) AS DOUBLE)
        |          / CAST(LENGTH(text) AS DOUBLE) END) AS quality
        | FROM toks),
        |f AS (
        | SELECT * FROM scored
        | WHERE NOT (s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 AND s_zh = 0)
        |   AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh
        |   AND quality > 0.2)
        |SELECT MIN(doc_id) AS doc_id, MAX(n_tokens) AS n_tokens,
        | MAX(quality) AS quality
        |FROM f GROUP BY text ORDER BY doc_id""".stripMargin),

    // The COMPLETE curation chain as ONE declarative plan — what a
    // pretraining-data user actually runs: language/quality gate →
    // exact dedup (text key, min-id survivor) → n-gram-Jaccard near-dup
    // drop (inverted-index pairs + transitive clustering) → deterministic
    // train/val/test assignment. Every stage is the already-oracled
    // operator; chaining them keeps one plan (Catalyst pipelines the
    // gates into the scan, the only shuffles are the dedup groupBy, the
    // pair join, and the CC rounds — no driver round-trips between
    // stages).
    BoardQuery("x_pipeline_full", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs.select(col("doc_id"), col("text"),
        TF.langId(col("text")).as("pred_lang"),
        TF.qualityScore(col("text")).as("quality"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"))
      val kept = scored
        .where(col("pred_lang") === "en" && col("quality") > 0.2)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"), max(col("n_tokens")).as("n_tokens"))
      val pairs = Dedup.ngramJaccardPairs(kept, "doc_id", "text", 5, 0.5)
      val surv = Dedup.dropNearDuplicates(kept, "doc_id", pairs)
      Corpus.hashSplit(surv, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("n_tokens"), col("split"))
        .orderBy("doc_id")
    }),
      // Chain of the already-proven stage oracles: curate CTEs (langid +
      // quality, ≡ x_pipeline_curate) → exact-dedup group → ngramPairsCte
      // over the KEPT subset (≡ x_ngram_jaccard) → recursive closure
      // (≡ x_dedup_drop) → md5-cutoff split CASE (≡ x_split).
      s"""WITH RECURSIVE ptoks AS (
        | SELECT doc_id, text,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(text), '\\s+') END AS tok
        | FROM documents),
        |scored AS (
        | SELECT doc_id, text,
        |  len(list_filter(tok, x -> lower(x) IN ('the','a','of','and','to','is','in'))) AS s_en,
        |  len(list_filter(tok, x -> lower(x) IN ('der','die','das','und','ist','nicht','ein'))) AS s_de,
        |  len(list_filter(tok, x -> lower(x) IN ('le','la','et','les','des','un','est'))) AS s_fr,
        |  len(list_filter(tok, x -> lower(x) IN ('el','los','las','de','y','que','un'))) AS s_es,
        |  len(list_filter(tok, x -> lower(x) IN ('的','是','了','不','在','我','有'))) AS s_zh,
        |  CAST(len(tok) AS BIGINT) AS n_tokens,
        |  LEAST(1.0, CAST(len(tok) AS DOUBLE) / 100.0) *
        |   (1.0 - CASE WHEN LENGTH(text) = 0 THEN 0.0
        |     ELSE CAST(LENGTH(regexp_replace(text, '[^.,!?;:''"()-]', '', 'g')) AS DOUBLE)
        |          / CAST(LENGTH(text) AS DOUBLE) END) AS quality
        | FROM ptoks),
        |f AS (
        | SELECT * FROM scored
        | WHERE NOT (s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 AND s_zh = 0)
        |   AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh
        |   AND quality > 0.2),
        |kept AS (
        | SELECT MIN(doc_id) AS doc_id, text, MAX(n_tokens) AS n_tokens
        | FROM f GROUP BY text),
        |${ngramPairsCte(0.5, "kept")},
        |edges AS (
        | SELECT id_a AS u, id_b AS v FROM jpairs
        | UNION
        | SELECT id_b AS u, id_a AS v FROM jpairs),
        |reach AS (
        | SELECT u AS node, u AS lab FROM edges
        | UNION
        | SELECT e.v AS node, r.lab AS lab
        | FROM reach r JOIN edges e ON e.u = r.node),
        |comps AS (SELECT node, MIN(lab) AS complabel FROM reach GROUP BY node)
        |SELECT doc_id, n_tokens,
        | CASE WHEN substring(md5(
        |        'v' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
        |        || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
        |      THEN 'train'
        |      WHEN substring(md5(
        |        'v' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
        |        || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
        |      THEN 'val'
        |      ELSE 'test' END AS split
        |FROM kept
        |WHERE doc_id NOT IN (SELECT node FROM comps WHERE complabel <> node)
        |ORDER BY doc_id""".stripMargin),

    // Repetition signals (Gopher-style quality gates): token/bigram
    // concentration per document. Bigram counting shuffles 8-byte gram
    // hashes, never gram strings.
    BoardQuery("x_repetition", ((s, dir) =>
      Corpus.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
      // Bigram counts group on the gram STRING here vs its xxhash64 on the
      // Spark side — multiplicities agree absent a 64-bit collision inside a
      // single document.
      """WITH toks AS (
        | SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |tc AS (
        | SELECT doc_id, token, COUNT(*) AS cnt
        | FROM (SELECT doc_id, unnest(tok) AS token FROM toks)
        | GROUP BY doc_id, token),
        |tagg AS (
        | SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS n_distinct, MAX(cnt) AS top_token_cnt
        | FROM tc GROUP BY doc_id),
        |bg AS (
        | SELECT doc_id, gram, COUNT(*) AS cnt
        | FROM (SELECT doc_id, unnest(list_transform(range(1, len(tok)),
        |         i -> tok[i] || ' ' || tok[i + 1])) AS gram
        |       FROM toks)
        | GROUP BY doc_id, gram),
        |bagg AS (SELECT doc_id, MAX(cnt) AS top_bigram_cnt FROM bg GROUP BY doc_id)
        |SELECT t.doc_id, t.n_tokens, t.n_distinct,
        | CAST(t.top_token_cnt AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) AS top_token_frac,
        | CASE WHEN t.n_tokens < 2 THEN 0.0
        |      ELSE CAST(b.top_bigram_cnt AS DOUBLE) / CAST(t.n_tokens - 1 AS DOUBLE)
        | END AS top_bigram_frac
        |FROM tagg t LEFT JOIN bagg b USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // Snapshot delta audit: the %3==0 slice vs a derived "today" with
    // removals (%30), edits (%21, ' v2' appended) and arrivals (%33,
    // shifted ids) — only the delta comes back, fingerprint-compared.
    BoardQuery("x_snapshot_diff", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val oldSnap = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
      val newSnap = oldSnap.where(col("doc_id") % 30 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 21 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(oldSnap.where(col("doc_id") % 33 === 0)
          .select((col("doc_id") + 60000000L).as("doc_id"), col("text")))
      Corpus.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
        .orderBy("doc_id")
    }),
      // Text EQUALITY stands in for the engine's 128-bit fingerprint
      // compare (identical verdicts modulo a 2^-128 md5 collision);
      // IS DISTINCT FROM mirrors the engine's null-safe compare — a
      // null↔non-null transition is a change on BOTH sides by contract.
      """WITH o AS (
        | SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |nw AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 21 = 0 THEN text || ' v2' ELSE text END AS text
        | FROM documents WHERE doc_id % 3 = 0 AND doc_id % 30 <> 0
        | UNION ALL
        | SELECT doc_id + 60000000, text FROM documents
        | WHERE doc_id % 3 = 0 AND doc_id % 33 = 0)
        |SELECT COALESCE(o.doc_id, nw.doc_id) AS doc_id,
        | CASE WHEN o.doc_id IS NULL THEN 'added'
        |      WHEN nw.doc_id IS NULL THEN 'removed'
        |      ELSE 'changed' END AS status
        |FROM o FULL JOIN nw ON o.doc_id = nw.doc_id
        |WHERE o.doc_id IS NULL OR nw.doc_id IS NULL
        |   OR o.text IS DISTINCT FROM nw.text
        |ORDER BY doc_id""".stripMargin),

    // Multilingual temperature sampling (α = 0.5): per-language resample
    // plan q ∝ p^α — one count aggregation, everything downstream on the
    // #strata-row broadcast-sized table.
    BoardQuery("x_temperature", ((s, dir) =>
      Corpus.temperatureMixture(t(s, dir, "documents"), "lang", alpha = 0.5)
        .orderBy(col("lang"))),
      // Same α-power chain; POWER's ulp is absorbed by round-9, the
      // normalizer sums in DECIMAL.
      """WITH c AS (SELECT lang, COUNT(*) AS n_rows FROM documents GROUP BY 1),
        |n AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS N FROM c),
        |wp AS (SELECT lang, n_rows,
        |  CAST(n_rows AS DOUBLE) / CAST(n.N AS DOUBLE) AS p,
        |  POWER(CAST(n_rows AS DOUBLE) / CAST(n.N AS DOUBLE),
        |    CAST(0.5 AS DOUBLE)) AS s
        | FROM c CROSS JOIN n),
        |z AS (SELECT CAST(SUM(CAST(s AS DECIMAL(30,15))) AS DOUBLE) AS Z
        | FROM wp)
        |SELECT lang, n_rows, ROUND(p, 9) AS p, ROUND(s / z.Z, 9) AS q,
        | ROUND(s / z.Z / p, 9) AS weight
        |FROM wp CROSS JOIN z ORDER BY lang""".stripMargin),

    // Memorization-risk scoring: fraction of each doc's distinct 5-grams
    // that appear in ≥2 documents — the per-span signal behind
    // boilerplate pruning, computed over 8-byte gram hashes (bodies
    // never shuffle).
    BoardQuery("x_dup_coverage", ((s, dir) =>
      Corpus.duplicateCoverage(t(s, dir, "documents"), "doc_id", "text",
          n = 5, minDf = 2L)
        .orderBy(col("doc_id"))),
      // Distinct space-joined 5-gram strings where the engine counts
      // distinct xxhash64 gram hashes — identical modulo collision.
      """WITH toks AS (
        | SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |g AS (SELECT DISTINCT doc_id, gram FROM (
        | SELECT doc_id, unnest(list_transform(range(1, len(tok) - 3),
        |   i -> array_to_string(tok[i:i+4], ' '))) AS gram
        | FROM toks WHERE len(tok) >= 5)),
        |dup AS (SELECT gram FROM (
        | SELECT gram, COUNT(*) AS df FROM g GROUP BY 1) WHERE df >= 2),
        |nd AS (SELECT doc_id, COUNT(*) AS nd
        | FROM g JOIN dup USING (gram) GROUP BY 1),
        |ng AS (SELECT doc_id, COUNT(*) AS ng FROM g GROUP BY 1)
        |SELECT d.doc_id, COALESCE(ng.ng, 0) AS n_grams,
        | CASE WHEN ng.ng IS NOT NULL THEN COALESCE(nd.nd, 0) ELSE 0 END AS n_dup,
        | ROUND(CAST(COALESCE(nd.nd, 0) AS DOUBLE) / CAST(ng.ng AS DOUBLE), 9)
        |   AS dup_frac
        |FROM documents d LEFT JOIN ng USING (doc_id) LEFT JOIN nd USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Deterministic map-only stratified sampling: md5-bucket filter with
    // per-language rates (en 8/16, others 1/16). No RNG state, no
    // shuffle — reproducible on 1 executor or 1000.
    BoardQuery("x_sample", ((s, dir) =>
      Corpus.hashStratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 8), defaultPer16 = 1)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 1) <
        |  (CASE WHEN lang = 'en' THEN '8' ELSE '1' END)
        |ORDER BY doc_id""".stripMargin),

    // Deterministic train/val/test split assignment (80/10/10): 16-bit
    // md5-bucket cutoffs, map-only, no RNG — the same rows land in the
    // same split on any cluster size, re-run, or engine, which is what
    // keeps eval sets stable across pipeline reruns. Oracle mirrors the
    // literal hex cutoffs (0.8 → 'cccd', 0.9 → 'e666').
    BoardQuery("x_split", ((s, dir) =>
      Corpus.hashSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy("doc_id")),
      // Split key hashes through the length-prefixed encoding
      // (v<len>:<key>); 16-bit cutoffs cccd (0.8) and e666 (0.9).
      """SELECT doc_id, lang,
        | CASE WHEN substring(md5(
        |        'v' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
        |        || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
        |      THEN 'train'
        |      WHEN substring(md5(
        |        'v' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
        |        || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
        |      THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Rendezvous sharding under today's 32 nodes AND tomorrow's 33:
    // the moved set is exactly the keys the new shard wins (every
    // moved row's shard_next = 32 — visible in the result), ~1/33 of
    // the corpus instead of modulo-remapping's near-total rewrite.
    // Map-only; the oracle re-derives both argmaxes from one shared
    // md5 weight table.
    BoardQuery("x_shard", ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      Corpus.rendezvousShard(
          Corpus.rendezvousShard(d, "doc_id", 32, "shard"),
          "doc_id", 33, "shard_next")
        .select(col("doc_id"), col("shard").cast("long").as("shard"),
          col("shard_next").cast("long").as("shard_next"),
          (col("shard") =!= col("shard_next")).as("moved"))
        .orderBy("doc_id")
    }),
      // One md5 weight table (the same length-prefixed encoding + '#'
      // separator), argmax over i < 32 for today's map and over all 33
      // for tomorrow's — hex strings compare lexicographically ≡
      // numerically on both engines.
      """WITH k AS (SELECT doc_id,
        |  'v' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
        |    || ':' || CAST(doc_id AS VARCHAR) AS ek
        | FROM documents),
        |w AS (SELECT doc_id, r.i AS i,
        |   md5(ek || '#' || CAST(r.i AS VARCHAR)) AS h
        | FROM k, range(0, 33) r(i)),
        |s1 AS (SELECT doc_id, CAST(arg_max(i, h) AS BIGINT) AS shard
        | FROM w WHERE i < 32 GROUP BY doc_id),
        |s2 AS (SELECT doc_id, CAST(arg_max(i, h) AS BIGINT) AS shard_next
        | FROM w GROUP BY doc_id)
        |SELECT s1.doc_id, s1.shard, s2.shard_next,
        |  s1.shard <> s2.shard_next AS moved
        |FROM s1 JOIN s2 USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Cross-document boilerplate removal (C4/MassiveText line dedup):
    // any 10-word span occurring in ≥2 distinct documents is deleted
    // from every document containing it. Unit doc-frequency aggregates
    // on 8-byte span hashes (strings never shuffle in the count);
    // bodies shuffle once to rebuild.
    BoardQuery("x_line_dedup", ((s, dir) =>
      Corpus.removeFrequentUnits(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", TF.wordSpans(col("text"), 10), minDf = 2L)
        .orderBy("doc_id")),
      // Units are the same 10-word spans (partial tail included) the Spark
      // side derives via wordSpans(text, 10); df counts DISTINCT docs.
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') w
        | FROM documents),
        |idx AS (
        | SELECT doc_id, w, unnest(generate_series(1, len(w))) ord FROM toks),
        |units AS (
        | SELECT doc_id, CAST(floor((ord-1)/10) AS BIGINT) g,
        |  string_agg(w[ord], ' ' ORDER BY ord) u
        | FROM idx GROUP BY doc_id, g),
        |freq AS (
        | SELECT u FROM units GROUP BY u HAVING count(DISTINCT doc_id) >= 2),
        |kept AS (
        | SELECT doc_id, g, u FROM units WHERE u NOT IN (SELECT u FROM freq)),
        |rebuilt AS (
        | SELECT doc_id, string_agg(u, ' ' ORDER BY g) clean_text, count(*) nk
        | FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) nt FROM units GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text,
        | CAST(t.nt - coalesce(r.nk, 0) AS BIGINT) AS n_units_removed
        |FROM tot t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    // Substring-granular exact dedup (Lee et al. ExactSubstr): content-
    // defined anchors (md5-prefix cutoff — the portable selection both
    // engines compute identically) mark every k-gram occurring ≥2 times
    // corpus-wide; anchors ≤100 apart merge into spans, spans cut from
    // clean_text. Occurrence counts aggregate 8-byte hashes with an
    // exact-string confirm; bodies never shuffle.
    BoardQuery("x_substring_dedup", ((s, dir) =>
      Corpus.dedupSubstringsPortable(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", k = 20, cutoffHex = "10", maxGap = 100)
        .select(col("doc_id"), col("n_spans"), col("n_dup_anchors"),
          col("dup_chars"), col("clean_len"), col("clean_text"))
        .orderBy("doc_id")),
      // Anchor selection = md5-prefix cutoff, identical in both engines;
      // spans from the same LAG/run-id merge; clean_text stitched from the
      // inter-span pieces.
      """WITH pos AS (
        | SELECT doc_id, text,
        |  CAST(UNNEST(range(0, GREATEST(length(text) - 19, 0))) AS INT) AS s
        | FROM documents),
        |a AS (
        | SELECT doc_id, s, substr(text, s + 1, 20) AS w FROM pos
        | WHERE substr(md5(substr(text, s + 1, 20)), 1, 2) < '10'),
        |freq AS (SELECT w FROM a GROUP BY w HAVING COUNT(*) >= 2),
        |dup AS (SELECT a.doc_id, a.s FROM a JOIN freq USING (w)),
        |runs AS (
        | SELECT doc_id, s,
        |  SUM(CASE WHEN gap IS NULL OR gap > 100 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY s) AS run
        | FROM (SELECT doc_id, s,
        |        s - LAG(s) OVER (PARTITION BY doc_id ORDER BY s) AS gap
        |       FROM dup) g),
        |spans AS (
        | SELECT doc_id, run, MIN(s) AS s0, MAX(s) + 20 AS e0, COUNT(*) AS na
        | FROM runs GROUP BY doc_id, run),
        |pieces AS (
        | SELECT doc_id, s0, e0,
        |  substr(text, COALESCE(LAG(e0) OVER w2, 0) + 1,
        |         s0 - COALESCE(LAG(e0) OVER w2, 0)) AS piece
        | FROM spans JOIN documents USING (doc_id)
        | WINDOW w2 AS (PARTITION BY doc_id ORDER BY s0)),
        |rebuilt AS (
        | SELECT doc_id, string_agg(piece, '' ORDER BY s0) AS head,
        |        MAX(e0) AS laste
        | FROM pieces GROUP BY doc_id),
        |stats AS (
        | SELECT doc_id, COUNT(*) AS n_spans, SUM(na) AS n_dup_anchors,
        |        SUM(e0 - s0) AS dup_chars
        | FROM spans GROUP BY doc_id)
        |SELECT d.doc_id,
        | CAST(COALESCE(st.n_spans, 0) AS BIGINT) AS n_spans,
        | CAST(COALESCE(st.n_dup_anchors, 0) AS BIGINT) AS n_dup_anchors,
        | CAST(COALESCE(st.dup_chars, 0) AS BIGINT) AS dup_chars,
        | CAST(length(d.text) - COALESCE(st.dup_chars, 0) AS BIGINT) AS clean_len,
        | COALESCE(r.head, '') || substr(d.text, COALESCE(r.laste, 0) + 1)
        |   AS clean_text
        |FROM documents d
        |LEFT JOIN stats st USING (doc_id)
        |LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Span-level benchmark decontamination: regions of training docs
    // (doc_id % 10 != 0) that appear verbatim in the benchmark slice
    // (doc_id % 10 == 0) are marked and cut — surgical removal of the
    // leak, not whole-document discard. Content-defined anchors both
    // sides; benchmark anchor vocabulary broadcasts into the mark join.
    BoardQuery("x_decontam_spans", ((s, dir) => {
      val d = t(s, dir, "documents")
      Corpus.contaminationSpansPortable(
          d.where(col("doc_id") % 10 =!= 0).select(col("doc_id"), col("text")),
          "doc_id", "text",
          d.where(col("doc_id") % 10 === 0), "text",
          k = 20, cutoffHex = "10", maxGap = 100)
        .select(col("doc_id"), col("n_spans"), col("n_contam_anchors"),
          col("contam_chars"), col("clean_len"), col("clean_text"))
        .orderBy("doc_id")
    }),
      // Same anchor/span/cut skeleton as x_substring_dedup, with the
      // benchmark slice's distinct anchor grams as the mark set.
      """WITH train AS (
        | SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        |bench AS (SELECT text FROM documents WHERE doc_id % 10 = 0),
        |tp AS (
        | SELECT doc_id, text,
        |  CAST(UNNEST(range(0, GREATEST(length(text) - 19, 0))) AS INT) AS s
        | FROM train),
        |ta AS (
        | SELECT doc_id, s, substr(text, s + 1, 20) AS w FROM tp
        | WHERE substr(md5(substr(text, s + 1, 20)), 1, 2) < '10'),
        |bp AS (
        | SELECT text,
        |  CAST(UNNEST(range(0, GREATEST(length(text) - 19, 0))) AS INT) AS s
        | FROM bench),
        |bv AS (
        | SELECT DISTINCT substr(text, s + 1, 20) AS w FROM bp
        | WHERE substr(md5(substr(text, s + 1, 20)), 1, 2) < '10'),
        |dup AS (SELECT ta.doc_id, ta.s FROM ta JOIN bv USING (w)),
        |runs AS (
        | SELECT doc_id, s,
        |  SUM(CASE WHEN gap IS NULL OR gap > 100 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY s) AS run
        | FROM (SELECT doc_id, s,
        |        s - LAG(s) OVER (PARTITION BY doc_id ORDER BY s) AS gap
        |       FROM dup) g),
        |spans AS (
        | SELECT doc_id, run, MIN(s) AS s0, MAX(s) + 20 AS e0, COUNT(*) AS na
        | FROM runs GROUP BY doc_id, run),
        |pieces AS (
        | SELECT doc_id, s0, e0,
        |  substr(text, COALESCE(LAG(e0) OVER w2, 0) + 1,
        |         s0 - COALESCE(LAG(e0) OVER w2, 0)) AS piece
        | FROM spans JOIN train USING (doc_id)
        | WINDOW w2 AS (PARTITION BY doc_id ORDER BY s0)),
        |rebuilt AS (
        | SELECT doc_id, string_agg(piece, '' ORDER BY s0) AS head,
        |        MAX(e0) AS laste
        | FROM pieces GROUP BY doc_id),
        |stats AS (
        | SELECT doc_id, COUNT(*) AS n_spans, SUM(na) AS n_contam_anchors,
        |        SUM(e0 - s0) AS contam_chars
        | FROM spans GROUP BY doc_id)
        |SELECT d.doc_id,
        | CAST(COALESCE(st.n_spans, 0) AS BIGINT) AS n_spans,
        | CAST(COALESCE(st.n_contam_anchors, 0) AS BIGINT) AS n_contam_anchors,
        | CAST(COALESCE(st.contam_chars, 0) AS BIGINT) AS contam_chars,
        | CAST(length(d.text) - COALESCE(st.contam_chars, 0) AS BIGINT) AS clean_len,
        | COALESCE(r.head, '') || substr(d.text, COALESCE(r.laste, 0) + 1)
        |   AS clean_text
        |FROM train d
        |LEFT JOIN stats st USING (doc_id)
        |LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Greedy data selection under a global token budget: best-quality
    // documents first until 600 tokens are spent. The running sum is the
    // two-level bucketed cumsum (no single-reducer global window).
    BoardQuery("x_budget_select", ((s, dir) =>
      Corpus.budgetSelect(
          t(s, dir, "documents").select(col("doc_id"),
            TF.qualityScore(col("text")).as("quality"),
            TF.tokenCount(col("text")).cast("long").as("n_tokens")),
          "doc_id", col("quality"), col("n_tokens"), budget = 600L)
        .orderBy("doc_id")),
      """WITH toks AS (
        | SELECT doc_id, text,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |scored AS (
        | SELECT doc_id,
        |  LEAST(1.0, CAST(len(tok) AS DOUBLE) / 100.0) *
        |   (1.0 - CASE WHEN LENGTH(text) = 0 THEN 0.0
        |     ELSE CAST(LENGTH(regexp_replace(text, '[^.,!?;:''"()-]', '', 'g')) AS DOUBLE)
        |          / CAST(LENGTH(text) AS DOUBLE) END) AS quality,
        |  CAST(len(tok) AS BIGINT) AS n_tokens
        | FROM toks),
        |cum AS (
        | SELECT doc_id, quality, n_tokens,
        |  CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cost
        | FROM scored)
        |SELECT doc_id, quality, n_tokens, cum_cost,
        | cum_cost <= 600 AS selected
        |FROM cum ORDER BY doc_id""".stripMargin),

    // Per-language percentile calibration: raw quality scores rank
    // within their language ((score, id) total order), pct = SQL
    // PERCENT_RANK. The rank is the two-level monotone-bucket
    // decomposition — the data-sized window keys on (lang, bucket),
    // never on the bare language.
    BoardQuery("x_score_calibrate", ((s, dir) =>
      Corpus.calibrateScores(
          t(s, dir, "documents").select(col("doc_id"), col("lang"),
            TF.qualityScore(col("text")).as("quality")),
          "doc_id", "lang", col("quality"))
        .orderBy("doc_id")),
      // Inclusive running token sum over (quality DESC, doc_id) — DuckDB
      // runs the plain global window; the Spark side's bucket-decomposed
      // sum must be bit-identical to it.
      // DuckDB runs the plain per-language window; the engine's bucket-
      // decomposed rank must equal it exactly. pct is one IEEE division of
      // two exact integers.
      """WITH toks AS (
        | SELECT doc_id, lang, text,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |scored AS (
        | SELECT doc_id, lang,
        |  LEAST(1.0, CAST(len(tok) AS DOUBLE) / 100.0) *
        |   (1.0 - CASE WHEN LENGTH(text) = 0 THEN 0.0
        |     ELSE CAST(LENGTH(regexp_replace(text, '[^.,!?;:''"()-]', '', 'g')) AS DOUBLE)
        |          / CAST(LENGTH(text) AS DOUBLE) END) AS quality
        | FROM toks),
        |r AS (
        | SELECT doc_id, lang, quality,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY quality, doc_id) AS BIGINT) AS rank_in_group,
        |  COUNT(*) OVER (PARTITION BY lang) AS n
        | FROM scored)
        |SELECT doc_id, lang, quality, rank_in_group,
        | CASE WHEN n > 1
        |   THEN CAST(rank_in_group - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
        |   ELSE 0.0 END AS pct
        |FROM r ORDER BY doc_id""".stripMargin),

    // Per-group budget selection (per-source/language caps — how mixture
    // targets become selections): same two-level monotone-bucket cumsum,
    // every partitioning carries the group key, groups select
    // independently in one pass. en gets 2000 tokens, zh 800, others 500.
    BoardQuery("x_budget_by_lang", ((s, dir) =>
      Corpus.budgetSelectPerGroup(
          t(s, dir, "documents").select(col("doc_id"), col("lang"),
            TF.qualityScore(col("text")).as("quality"),
            TF.tokenCount(col("text")).cast("long").as("n_tokens")),
          "doc_id", "lang", col("quality"), col("n_tokens"),
          budgets = Map("en" -> 2000L, "zh" -> 800L), defaultBudget = 500L)
        .orderBy("doc_id")),
      // Oracle runs the plain per-group global window; the engine's
      // group+bucket decomposition must hash-match it bit-for-bit.
      """WITH toks AS (
        | SELECT doc_id, lang, text,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |scored AS (
        | SELECT doc_id, lang,
        |  LEAST(1.0, CAST(len(tok) AS DOUBLE) / 100.0) *
        |   (1.0 - CASE WHEN LENGTH(text) = 0 THEN 0.0
        |     ELSE CAST(LENGTH(regexp_replace(text, '[^.,!?;:''"()-]', '', 'g')) AS DOUBLE)
        |          / CAST(LENGTH(text) AS DOUBLE) END) AS quality,
        |  CAST(len(tok) AS BIGINT) AS n_tokens
        | FROM toks),
        |cum AS (
        | SELECT doc_id, lang, quality, n_tokens,
        |  CAST(SUM(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY quality DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cost
        | FROM scored)
        |SELECT doc_id, lang, quality, n_tokens, cum_cost,
        | cum_cost <= CASE lang WHEN 'en' THEN 2000 WHEN 'zh' THEN 800
        |   ELSE 500 END AS selected
        |FROM cum ORDER BY doc_id""".stripMargin),

    // In-engine linear quality-probe training: 3 full-batch GD rounds on
    // square loss over md5-hashed bag-of-words features (dim=64), label =
    // is-English. Per-round numerics follow the pagerank discipline
    // (double products, decimal-exact sums), so DuckDB unrolling the same
    // rounds reproduces the weights bit-for-bit.
    BoardQuery("x_train_probe", ((s, dir) =>
      Corpus.trainLinearProbe(t(s, dir, "documents"), "doc_id", "text",
          when(col("lang") === "en", 1.0).otherwise(0.0),
          dim = 64, rounds = 3, lr = 1e-4)
        .orderBy("bucket")),
      // Unrolled 3-round full-batch GD: w0 = 0 (round 1 residual = −y);
      // per-round pred/grad sums are double products summed in
      // DECIMAL(30,15); updates are scalar double w − (1e-4 · g).
      """WITH toks AS (
        | SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |      ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |feat AS (
        | SELECT doc_id,
        |  CAST(CAST(CONCAT('0x', substring(md5(t.tok), 1, 4)) AS INTEGER) % 64 AS INTEGER) AS bucket,
        |  COUNT(*) AS cnt
        | FROM (SELECT doc_id, unnest(tok) AS tok FROM toks) t
        | GROUP BY 1, 2),
        |lab AS (
        | SELECT doc_id,
        |  CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE) AS y
        | FROM documents),
        |b AS (SELECT CAST(unnest(range(64)) AS INTEGER) AS bucket),
        |g1 AS (
        | SELECT f.bucket,
        |  CAST(SUM(CAST(CAST(f.cnt AS DOUBLE) * (0.0 - l.y) AS DECIMAL(30,15))) AS DOUBLE) AS g
        | FROM feat f JOIN lab l USING (doc_id) GROUP BY 1),
        |w1 AS (
        | SELECT b.bucket,
        |  CASE WHEN g1.g IS NULL THEN 0.0 ELSE 0.0 - (1e-4 * g1.g) END AS w
        | FROM b LEFT JOIN g1 USING (bucket)),
        |p2 AS (
        | SELECT f.doc_id,
        |  CAST(SUM(CAST(w1.w * CAST(f.cnt AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS pred
        | FROM feat f JOIN w1 USING (bucket) GROUP BY 1),
        |r2 AS (
        | SELECT l.doc_id, COALESCE(p2.pred, 0.0) - l.y AS resid
        | FROM lab l LEFT JOIN p2 USING (doc_id)),
        |g2 AS (
        | SELECT f.bucket,
        |  CAST(SUM(CAST(CAST(f.cnt AS DOUBLE) * r2.resid AS DECIMAL(30,15))) AS DOUBLE) AS g
        | FROM feat f JOIN r2 USING (doc_id) GROUP BY 1),
        |w2 AS (
        | SELECT w1.bucket,
        |  CASE WHEN g2.g IS NULL THEN w1.w ELSE w1.w - (1e-4 * g2.g) END AS w
        | FROM w1 LEFT JOIN g2 USING (bucket)),
        |p3 AS (
        | SELECT f.doc_id,
        |  CAST(SUM(CAST(w2.w * CAST(f.cnt AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS pred
        | FROM feat f JOIN w2 USING (bucket) GROUP BY 1),
        |r3 AS (
        | SELECT l.doc_id, COALESCE(p3.pred, 0.0) - l.y AS resid
        | FROM lab l LEFT JOIN p3 USING (doc_id)),
        |g3 AS (
        | SELECT f.bucket,
        |  CAST(SUM(CAST(CAST(f.cnt AS DOUBLE) * r3.resid AS DECIMAL(30,15))) AS DOUBLE) AS g
        | FROM feat f JOIN r3 USING (doc_id) GROUP BY 1),
        |w3 AS (
        | SELECT w2.bucket,
        |  CASE WHEN g3.g IS NULL THEN w2.w ELSE w2.w - (1e-4 * g3.g) END AS w
        | FROM w2 LEFT JOIN g3 USING (bucket))
        |SELECT bucket, ROUND(w, 9) AS weight FROM w3 ORDER BY bucket""".stripMargin),

    // Probe inference over the trained weights: w·x per document
    // (map-side broadcast join + one per-doc aggregation) — the gate that
    // turns the trained probe into a corpus filter.
    BoardQuery("x_probe_score", ((s, dir) => {
      val d = t(s, dir, "documents")
      val wts = Corpus.trainLinearProbe(d, "doc_id", "text",
        when(col("lang") === "en", 1.0).otherwise(0.0),
        dim = 64, rounds = 3, lr = 1e-4)
      Corpus.scoreLinearProbe(d, "doc_id", "text", wts, dim = 64)
        .orderBy("doc_id")
    }),
      ("""WITH toks AS (
        | SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |      ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |feat AS (
        | SELECT doc_id,
        |  CAST(CAST(CONCAT('0x', substring(md5(t.tok), 1, 4)) AS INTEGER) % 64 AS INTEGER) AS bucket,
        |  COUNT(*) AS cnt
        | FROM (SELECT doc_id, unnest(tok) AS tok FROM toks) t
        | GROUP BY 1, 2),
        |lab AS (
        | SELECT doc_id,
        |  CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE) AS y
        | FROM documents),
        |b AS (SELECT CAST(unnest(range(64)) AS INTEGER) AS bucket),
        |g1 AS (
        | SELECT f.bucket,
        |  CAST(SUM(CAST(CAST(f.cnt AS DOUBLE) * (0.0 - l.y) AS DECIMAL(30,15))) AS DOUBLE) AS g
        | FROM feat f JOIN lab l USING (doc_id) GROUP BY 1),
        |w1 AS (
        | SELECT b.bucket,
        |  CASE WHEN g1.g IS NULL THEN 0.0 ELSE 0.0 - (1e-4 * g1.g) END AS w
        | FROM b LEFT JOIN g1 USING (bucket)),
        |p2 AS (
        | SELECT f.doc_id,
        |  CAST(SUM(CAST(w1.w * CAST(f.cnt AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS pred
        | FROM feat f JOIN w1 USING (bucket) GROUP BY 1),
        |r2 AS (
        | SELECT l.doc_id, COALESCE(p2.pred, 0.0) - l.y AS resid
        | FROM lab l LEFT JOIN p2 USING (doc_id)),
        |g2 AS (
        | SELECT f.bucket,
        |  CAST(SUM(CAST(CAST(f.cnt AS DOUBLE) * r2.resid AS DECIMAL(30,15))) AS DOUBLE) AS g
        | FROM feat f JOIN r2 USING (doc_id) GROUP BY 1),
        |w2 AS (
        | SELECT w1.bucket,
        |  CASE WHEN g2.g IS NULL THEN w1.w ELSE w1.w - (1e-4 * g2.g) END AS w
        | FROM w1 LEFT JOIN g2 USING (bucket)),
        |p3 AS (
        | SELECT f.doc_id,
        |  CAST(SUM(CAST(w2.w * CAST(f.cnt AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS pred
        | FROM feat f JOIN w2 USING (bucket) GROUP BY 1),
        |r3 AS (
        | SELECT l.doc_id, COALESCE(p3.pred, 0.0) - l.y AS resid
        | FROM lab l LEFT JOIN p3 USING (doc_id)),
        |g3 AS (
        | SELECT f.bucket,
        |  CAST(SUM(CAST(CAST(f.cnt AS DOUBLE) * r3.resid AS DECIMAL(30,15))) AS DOUBLE) AS g
        | FROM feat f JOIN r3 USING (doc_id) GROUP BY 1),
        |w3 AS (
        | SELECT w2.bucket,
        |  CASE WHEN g3.g IS NULL THEN w2.w ELSE w2.w - (1e-4 * g3.g) END AS w
        | FROM w2 LEFT JOIN g3 USING (bucket)),
        |wf AS (SELECT bucket, ROUND(w, 9) AS w FROM w3),
        |sc AS (
        | SELECT f.doc_id,
        |  CAST(SUM(CAST(wf.w * CAST(f.cnt AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM feat f JOIN wf USING (bucket) GROUP BY 1)
        |SELECT d.doc_id, ROUND(COALESCE(sc.s, 0.0), 9) AS probe_score
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""").stripMargin),

    // fastText-style hashed-n-gram classifier inference with planted
    // dyadic weights (w_b = (((b*37) % 13) - 6)/8, bias -0.25): unigram
    // + bigram features, md5-16-bit buckets mod 64, decimal-exact mean
    // pooling — map-only, zero shuffles beyond the presentation sort.
    // prob (the true sigmoid) stays out of the oracle: JVM and C libm
    // exp() diverge by 1 ulp on ~0.4% of inputs (see the scaladoc).
    BoardQuery("x_fasttext", ((s, dir) =>
      Corpus.fastTextScore(t(s, dir, "documents"), "doc_id", "text",
          weights = (0 until 64).map(b => (((b * 37) % 13) - 6) / 8.0),
          bias = -0.25)
        .drop("prob")
        .orderBy("doc_id")),
      // Same unrolled training chain, then w·x scoring with the ROUNDED
      // published weights (what a consumer of the weight table would use).
      // fastText inference: the same feature list (unigrams + positional
      // bigrams), the '0x'-cast md5 bucket, DECIMAL(30,15) weight sums,
      // and the sign-thresholded label — score exact, prob not oracled.
      """WITH toks AS (
        | SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |wt AS (SELECT list_transform(range(0, 64),
        |  b -> (CAST((b*37) % 13 AS DOUBLE) - CAST(6.0 AS DOUBLE))
        |    / CAST(8.0 AS DOUBLE)) AS w),
        |f AS (SELECT doc_id, list_concat(tok,
        |   list_transform(range(1, len(tok)),
        |     i -> tok[i] || ' ' || tok[i+1])) AS feats
        | FROM toks),
        |s AS (SELECT doc_id, len(feats) AS n,
        |  COALESCE(list_sum(list_transform(feats,
        |    g -> CAST(w[CAST(CAST(CONCAT('0x', substring(md5(g), 1, 4))
        |      AS INTEGER) % 64 AS INTEGER) + 1] AS DECIMAL(30,15)))),
        |   CAST(0 AS DECIMAL(30,15))) AS sm
        | FROM f CROSS JOIN wt),
        |sc AS (SELECT doc_id, n,
        |  CASE WHEN n > 0
        |   THEN CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)
        |     + CAST(-0.25 AS DOUBLE)
        |   ELSE CAST(-0.25 AS DOUBLE) END AS score
        | FROM s)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_feats,
        | ROUND(score, 9) AS score,
        | CASE WHEN score >= 0 THEN 'keep' ELSE 'drop' END AS label
        |FROM sc ORDER BY doc_id""".stripMargin),

    // Context-window chunking: 64-token chunks with stride 48 (16-token
    // overlap), exploded to rows. The lambda runs per CHUNK; slice +
    // array_join do the token work natively.
    BoardQuery("x_chunk", ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        inline(TF.chunkTokens(col("text"), chunkLen = 64, stride = 48)))
        .orderBy("doc_id", "chunk_idx")),
      """WITH toks AS (
        | SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |c AS (
        | SELECT doc_id, tok,
        |  CASE WHEN len(tok) = 0 THEN 0
        |       ELSE GREATEST(CAST(CEIL(CAST(len(tok) - 64 AS DOUBLE) / 48)
        |              AS BIGINT), 0) + 1 END AS n_chunks
        | FROM toks)
        |SELECT doc_id, CAST(u AS INTEGER) AS chunk_idx,
        | CAST(u * 48 AS BIGINT) AS token_start,
        | array_to_string(tok[(u * 48 + 1):(u * 48 + 64)], ' ') AS chunk_text
        |FROM (SELECT doc_id, tok, unnest(range(0, n_chunks)) AS u FROM c)
        |ORDER BY doc_id, chunk_idx""".stripMargin),

    // Sequence-packing offsets: exclusive cumsum of token counts in
    // doc_id order via the two-level bucket scan (no single-reducer
    // global window), plus the 2048-token chunk each doc starts in.
    BoardQuery("x_pack", ((s, dir) =>
      Corpus.packOffsets(t(s, dir, "documents"), "doc_id", "text",
        seqLen = 2048L, bucketWidth = 64L)
        .orderBy("doc_id")),
      // The oracle's single global window IS the naive plan the operator
      // avoids — same arithmetic, different execution shape.
      """WITH d AS (
        | SELECT doc_id,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(TRIM(text), '\s+')) END AS nt
        | FROM documents),
        |o AS (
        | SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(SUM(nt) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS start_offset
        | FROM d)
        |SELECT doc_id, n_tokens, start_offset,
        | CAST((start_offset - start_offset % 2048) / 2048 AS BIGINT) AS chunk_id
        |FROM o ORDER BY doc_id""".stripMargin),

    // Full sequence-packing spans: every doc explodes into the spans it
    // contributes to each 128-token training sequence it crosses —
    // packOffsets' two-level cumsum plus a bounded map-only explode.
    BoardQuery("x_pack_spans", ((s, dir) =>
      Corpus.packSpans(t(s, dir, "documents"), "doc_id", "text",
        seqLen = 128L, bucketWidth = 64L)
        .orderBy("doc_id", "seq_id")),
      // Oracle runs the plain global cumsum + per-doc span arithmetic; the
      // engine's bucket-decomposed offsets and bounded explode must match
      // it bit-for-bit.
      """WITH d AS (
        | SELECT doc_id,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(TRIM(text), '\s+')) END AS nt
        | FROM documents),
        |o AS (
        | SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(SUM(nt) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS start_offset
        | FROM d),
        |spans AS (
        | SELECT doc_id, n_tokens, start_offset,
        |  CAST(unnest(range(start_offset // 128,
        |    (start_offset + n_tokens - 1) // 128 + 1)) AS BIGINT) AS seq_id
        | FROM o WHERE n_tokens > 0)
        |SELECT doc_id, n_tokens, seq_id,
        | CAST(GREATEST(start_offset, seq_id * 128) - seq_id * 128 AS BIGINT) AS seq_start,
        | CAST(GREATEST(start_offset, seq_id * 128) - start_offset AS BIGINT) AS doc_start,
        | CAST(LEAST(start_offset + n_tokens, (seq_id + 1) * 128)
        |   - GREATEST(start_offset, seq_id * 128) AS BIGINT) AS span_len
        |FROM spans ORDER BY doc_id, seq_id""".stripMargin),

    // C4 rule-based cleaning gate over line structure derived in-query
    // (the fixture is single-line): tokens chunk into 10-token lines,
    // every third line left WITHOUT terminal punctuation — the gate must
    // keep exactly the punctuated ≥3-token lines and flag docs on the
    // published heuristics (≥3 surviving lines, no braces, no lorem
    // ipsum). Map-only: the whole derivation + gate runs inside the scan
    // projection, zero exchanges before the presentation sort.
    BoardQuery("x_c4_gate", ((s, dir) => {
      val derived = t(s, dir, "documents")
        .select(col("doc_id"), plantedLines.as("ltext"))
      Corpus.c4Gate(derived, "doc_id", "ltext").orderBy("doc_id")
    }),
      // Derives the same 10-token lines (every third unpunctuated) and
      // applies the same substring/size gate rules — list lambdas with
      // 1-based indices, so (i-1) mirrors Spark's 0-based transform.
      """WITH toks AS (
        | SELECT doc_id,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |lined AS (
        | SELECT doc_id,
        |  list_transform(range((len(tok) + 9) // 10), i ->
        |    array_to_string(tok[i * 10 + 1 : i * 10 + 10], ' ') ||
        |    CASE WHEN i % 3 = 2 THEN '' ELSE '.' END) AS lines
        | FROM toks),
        |gated AS (
        | SELECT doc_id, lines,
        |  list_filter(lines, l ->
        |    right(TRIM(l), 1) IN ('.', '!', '?', '"') AND
        |    len(regexp_split_to_array(TRIM(l), '\s+')) >= 3) AS kept_lines,
        |  array_to_string(lines, chr(10)) AS ltext
        | FROM lined)
        |SELECT doc_id,
        | array_to_string(list_transform(kept_lines, l -> TRIM(l)), chr(10)) AS clean_text,
        | CAST(len(kept_lines) AS BIGINT) AS n_lines_kept,
        | (len(kept_lines) >= 3 AND NOT contains(ltext, '{')
        |   AND NOT contains(lower(ltext), 'lorem ipsum')) AS kept
        |FROM gated ORDER BY doc_id""".stripMargin),

    // Stage-by-stage curation funnel over the planted line structure:
    // input → C4 survivors → Gopher survivors, each stage reporting
    // docs + token volume — the retention table a 100 TB curation run
    // publishes ("which gate costs how much corpus"). Three 1-row
    // map-only aggregates unioned.
    BoardQuery("x_curation_funnel", ((s, dir) => {
      val derived = t(s, dir, "documents")
        .select(col("doc_id"), plantedLines.as("ltext"))
      Corpus.curationFunnel(derived, "doc_id", "ltext",
        minWords = 30, minStop = 1).orderBy("stage")
    }),
      // The funnel composes the two gate oracles end-to-end: planted
      // lines → C4 survivors (clean_text) → Gopher(30,1) survivors, each
      // stage one (docs, tokens) row; token sums CAST to BIGINT.
      """WITH toks AS (
        | SELECT doc_id,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |lined AS (
        | SELECT doc_id,
        |  list_transform(range((len(tok) + 9) // 10), i ->
        |    array_to_string(tok[i * 10 + 1 : i * 10 + 10], ' ') ||
        |    CASE WHEN i % 3 = 2 THEN '' ELSE '.' END) AS lines
        | FROM toks),
        |gated AS (
        | SELECT doc_id, lines,
        |  list_filter(lines, l ->
        |    right(TRIM(l), 1) IN ('.', '!', '?', '"') AND
        |    len(regexp_split_to_array(TRIM(l), '\s+')) >= 3) AS kept_lines,
        |  array_to_string(lines, chr(10)) AS ltext
        | FROM lined),
        |c4 AS (
        | SELECT doc_id,
        |  array_to_string(list_transform(kept_lines, l -> TRIM(l)), chr(10)) AS ct,
        |  (len(kept_lines) >= 3 AND NOT contains(ltext, '{')
        |    AND NOT contains(lower(ltext), 'lorem ipsum')) AS kept
        | FROM gated),
        |s1d AS (SELECT doc_id, ct,
        |  CASE WHEN LENGTH(TRIM(ct)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(ct), '\s+') END AS tok
        | FROM c4 WHERE kept),
        |gm AS (
        | SELECT doc_id, tok, CAST(len(tok) AS BIGINT) AS n_words,
        |  COALESCE(list_aggregate(list_transform(tok, w -> LENGTH(w)), 'sum'), 0) AS char_sum,
        |  len(list_filter(tok, w -> lower(w) <> upper(w))) AS n_alpha,
        |  LENGTH(ct) - LENGTH(replace(ct, '#', '')) AS n_hash,
        |  (LENGTH(ct) - LENGTH(replace(ct, '...', ''))) / 3 AS n_ell,
        |  (CASE WHEN list_contains(tok, 'the') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'be') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'to') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'of') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'and') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'that') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'have') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'with') THEN 1 ELSE 0 END) AS n_stop
        | FROM s1d),
        |g2 AS (SELECT doc_id, tok, n_words,
        |  CASE WHEN n_words = 0 THEN 0.0
        |    ELSE ROUND(CAST(char_sum AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END AS mwl,
        |  CASE WHEN n_words = 0 THEN 0.0
        |    ELSE ROUND(CAST(n_hash + n_ell AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END AS sym,
        |  CASE WHEN n_words = 0 THEN 0.0
        |    ELSE ROUND(CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END AS af,
        |  n_stop
        | FROM gm),
        |s2d AS (SELECT doc_id, tok FROM g2
        | WHERE n_words >= 30 AND n_words <= 100000 AND mwl >= 3.0
        |   AND mwl <= 10.0 AND sym < 0.1 AND af > 0.8 AND n_stop >= 1),
        |r0 AS (SELECT CAST(0 AS BIGINT) AS stage, 'input' AS gate,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COALESCE(SUM(len(tok)), 0) AS BIGINT) AS n_tokens FROM toks),
        |r1 AS (SELECT CAST(1 AS BIGINT) AS stage, 'c4_gate' AS gate,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COALESCE(SUM(len(tok)), 0) AS BIGINT) AS n_tokens FROM s1d),
        |r2 AS (SELECT CAST(2 AS BIGINT) AS stage, 'gopher_gate' AS gate,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COALESCE(SUM(len(tok)), 0) AS BIGINT) AS n_tokens FROM s2d)
        |SELECT * FROM r0 UNION ALL SELECT * FROM r1 UNION ALL
        |SELECT * FROM r2 ORDER BY stage""".stripMargin),

    // Gopher document-quality gate (Rae et al. 2021 App. A): word-count
    // band, mean word length, symbol ratio, alphabetic-word fraction,
    // stop-word presence — document statistics complementing x_c4_gate's
    // line rules. Map-only; every metric from substring/size primitives
    // ("has a letter" = lower(w) != upper(w), locale-free).
    BoardQuery("x_gopher_gate", ((s, dir) =>
      Corpus.gopherGate(t(s, dir, "documents"), "doc_id", "text",
          minWords = 30L,
          // the synthetic vocabulary carries only "the" of the 8 canonical
          // stop words — minStop=1 keeps the flag informative here (the
          // operator default stays at the published 2)
          minStop = 1)
        .orderBy("doc_id")),
      """WITH toks AS (
        | SELECT doc_id, text,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |m AS (
        | SELECT doc_id,
        |  CAST(len(tok) AS BIGINT) AS n_words,
        |  COALESCE(list_aggregate(list_transform(tok, w -> LENGTH(w)), 'sum'), 0) AS char_sum,
        |  len(list_filter(tok, w -> lower(w) <> upper(w))) AS n_alpha,
        |  LENGTH(text) - LENGTH(replace(text, '#', '')) AS n_hash,
        |  (LENGTH(text) - LENGTH(replace(text, '...', ''))) / 3 AS n_ell,
        |  (CASE WHEN list_contains(tok, 'the') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'be') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'to') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'of') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'and') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'that') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'have') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'with') THEN 1 ELSE 0 END) AS n_stop
        | FROM toks),
        |g AS (
        | SELECT doc_id, n_words,
        |  CASE WHEN n_words = 0 THEN 0.0
        |    ELSE ROUND(CAST(char_sum AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END AS mean_word_len,
        |  CASE WHEN n_words = 0 THEN 0.0
        |    ELSE ROUND(CAST(n_hash + n_ell AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END AS symbol_ratio,
        |  CASE WHEN n_words = 0 THEN 0.0
        |    ELSE ROUND(CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END AS alpha_frac,
        |  CAST(n_stop AS BIGINT) AS n_stop
        | FROM m)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, n_stop,
        | (n_words >= 30 AND n_words <= 100000 AND
        |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND
        |  symbol_ratio < 0.1 AND alpha_frac > 0.8 AND n_stop >= 1) AS kept
        |FROM g ORDER BY doc_id""".stripMargin),

    // Per-language curation funnel report: doc/token volume, decimal-
    // exact mean quality, gopher-kept counts — one map-only gate pass +
    // one group aggregation, the observability a curation run publishes.
    BoardQuery("x_curation_report", ((s, dir) =>
      Corpus.curationReport(t(s, dir, "documents"), "doc_id", "lang",
          "text", minWords = 30L, minStop = 1)
        .orderBy("lang")),
      """WITH toks AS (
        | SELECT doc_id, lang, text,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |m AS (
        | SELECT doc_id, lang,
        |  CAST(len(tok) AS BIGINT) AS n_words,
        |  COALESCE(list_aggregate(list_transform(tok, w -> LENGTH(w)), 'sum'), 0) AS char_sum,
        |  len(list_filter(tok, w -> lower(w) <> upper(w))) AS n_alpha,
        |  LENGTH(text) - LENGTH(replace(text, '#', '')) AS n_hash,
        |  (LENGTH(text) - LENGTH(replace(text, '...', ''))) / 3 AS n_ell,
        |  CASE WHEN list_contains(tok, 'the') THEN 1 ELSE 0 END +
        |  CASE WHEN list_contains(tok, 'be') THEN 1 ELSE 0 END +
        |  CASE WHEN list_contains(tok, 'to') THEN 1 ELSE 0 END +
        |  CASE WHEN list_contains(tok, 'of') THEN 1 ELSE 0 END +
        |  CASE WHEN list_contains(tok, 'and') THEN 1 ELSE 0 END +
        |  CASE WHEN list_contains(tok, 'that') THEN 1 ELSE 0 END +
        |  CASE WHEN list_contains(tok, 'have') THEN 1 ELSE 0 END +
        |  CASE WHEN list_contains(tok, 'with') THEN 1 ELSE 0 END AS n_stop,
        |  LEAST(1.0, CAST(len(tok) AS DOUBLE) / 100.0) *
        |   (1.0 - CASE WHEN LENGTH(text) = 0 THEN 0.0
        |     ELSE CAST(LENGTH(regexp_replace(text, '[^.,!?;:''"()-]', '', 'g')) AS DOUBLE)
        |          / CAST(LENGTH(text) AS DOUBLE) END) AS quality
        | FROM toks),
        |g AS (
        | SELECT doc_id, lang, n_words, quality,
        |  (n_words >= 30 AND n_words <= 100000 AND
        |   (CASE WHEN n_words = 0 THEN 0.0
        |     ELSE ROUND(CAST(char_sum AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END) >= 3.0 AND
        |   (CASE WHEN n_words = 0 THEN 0.0
        |     ELSE ROUND(CAST(char_sum AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END) <= 10.0 AND
        |   (CASE WHEN n_words = 0 THEN 0.0
        |     ELSE ROUND(CAST(n_hash + n_ell AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END) < 0.1 AND
        |   (CASE WHEN n_words = 0 THEN 0.0
        |     ELSE ROUND(CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END) > 0.8 AND
        |   n_stop >= 1) AS kept
        | FROM m)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(SUM(n_words) AS BIGINT) AS n_tokens,
        | ROUND(CAST(SUM(CAST(quality AS DECIMAL(28,12))) AS DOUBLE)
        |   / CAST(COUNT(*) AS DOUBLE), 9) AS mean_quality,
        | CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM g GROUP BY lang ORDER BY lang""".stripMargin),

    // Weighted sampling WITHOUT replacement + unbiased subset-sum
    // estimators — priority sampling (Duffield–Lund–Thorup, JACM '07)
    // with weights = n_chars: top-k by the fixed-point integer priority
    // ⌊w·10^12/u⌋ (u = 48-bit md5 draw, ties → doc_id), τ = (k+1)-th
    // priority, estimator max(w, τ) in the same 10^-12 units. Selection
    // runs as per-partition heaps merged on the driver; no corpus-wide
    // sort and no float anywhere in the decision path.
    BoardQuery("x_weighted_sample", ((s, dir) =>
      Corpus.prioritySample(t(s, dir, "documents"), "doc_id",
          col("n_chars"), k = 50, seed = "ps")
        .orderBy("doc_id")),
      // Priority sampling mirrored exactly: the 20-bit uniform draw is the
      // first 5 md5 hex chars folded to an integer (strpos-over-the-hex-
      // alphabet — DuckDB's conv), the priority is the same 2^-20 BIGINT
      // floor-division (numerator factor 2^40 = draw range × estimator
      // scale), τ the 51st priority, estimators greatest(w·2^20, τ).
      """WITH p AS (
        | SELECT doc_id, n_chars AS w,
        |  (n_chars * 1099511627776) // (1 + list_reduce(
        |    list_transform(range(1, 6), i -> CAST(strpos('0123456789abcdef',
        |      substr(md5('ps:' || CAST(doc_id AS VARCHAR)),
        |        CAST(i AS INTEGER), 1)) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b)) AS priority
        | FROM documents),
        |r AS (SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id)
        |      AS rn FROM p),
        |t AS (SELECT max(CASE WHEN rn = 51 THEN priority END) AS tau FROM r)
        |SELECT doc_id, w, priority,
        | greatest(w * 1048576, COALESCE(tau, 0)) AS est_fp
        |FROM r, t WHERE rn <= 50 ORDER BY doc_id""".stripMargin),

    // Stratified priority sampling: an independent weighted top-20 per
    // language, each with its own τ and unbiased estimators — ONE
    // group-keyed exchange, WindowGroupLimit heap-truncated before the
    // shuffle. Same fixed-point discipline as x_weighted_sample.
    BoardQuery("x_weighted_sample_lang", ((s, dir) =>
      Corpus.prioritySampleByGroup(t(s, dir, "documents"), "doc_id",
          col("n_chars"), "lang", k = 20, seed = "ps")
        .orderBy("lang", "doc_id")),
      // Per-language priority sampling: identical draw/scale math, rank
      // and τ partitioned by lang (τ = each group's 21st priority).
      """WITH p AS (
        | SELECT lang, doc_id, n_chars AS w,
        |  (n_chars * 1099511627776) // (1 + list_reduce(
        |    list_transform(range(1, 6), i -> CAST(strpos('0123456789abcdef',
        |      substr(md5('ps:' || CAST(doc_id AS VARCHAR)),
        |        CAST(i AS INTEGER), 1)) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b)) AS priority
        | FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |      ORDER BY priority DESC, doc_id) AS rn FROM p),
        |t AS (SELECT lang, max(CASE WHEN rn = 21 THEN priority END) AS tau
        |      FROM r GROUP BY lang)
        |SELECT r.lang, doc_id, w, priority,
        | greatest(w * 1048576, COALESCE(tau, 0)) AS est_fp
        |FROM r JOIN t ON r.lang = t.lang
        |WHERE rn <= 20 ORDER BY r.lang, doc_id""".stripMargin),

    // Purged temporal split: train before 2024-01-20, per-user 12 h
    // embargo anchored at each user's last training row, exact µs.
    BoardQuery("x_temporal_split", ((s, dir) =>
      Corpus.temporalSplit(
          t(s, dir, "events").select(
            col("event_id"), col("user_id"), col("ts")),
          "user_id", "ts",
          cutoffUs = 1705708800000000L, embargoUs = 43200000000L)
        .orderBy("event_id")),
      // Same per-key last-train anchor and strict embargo bound.
      """WITH lt AS (
        | SELECT user_id AS k, MAX(epoch_us(ts)) AS last_train FROM events
        | WHERE ts IS NOT NULL AND epoch_us(ts) < 1705708800000000
        | GROUP BY user_id)
        |SELECT e.event_id, e.user_id, e.ts,
        | CASE WHEN e.ts IS NULL THEN NULL
        |      WHEN epoch_us(e.ts) < 1705708800000000 THEN 'train'
        |      WHEN lt.last_train IS NOT NULL
        |       AND epoch_us(e.ts) < lt.last_train + 43200000000
        |      THEN 'embargoed'
        |      ELSE 'eval' END AS split
        |FROM events e LEFT JOIN lt ON e.user_id = lt.k
        |ORDER BY event_id""".stripMargin),

    // CDC merge: apply a deterministic change batch (two update waves,
    // deletes, inserts — all derived from the corpus itself, so the
    // last-writer-wins, delete-beats-stale-update and insert paths are
    // all exercised) onto the documents snapshot. One batch-sized
    // window + one id-keyed full-outer join — the maintenance
    // counterpart of x_snapshot_diff.
    BoardQuery("x_merge_apply", ((s, dir) => {
      val d = t(s, dir, "documents")
      val nul = lit(null).cast("string")
      val upd1 = d.where(pmod(col("doc_id"), lit(7)) === 0).select(
        col("doc_id"), lit(1L).as("seq"), lit("upsert").as("op"),
        concat(lit("u1:"), substring(col("text"), 1, 40)).as("text"),
        lit("xx").as("lang"), col("source"),
        (col("n_chars") + 3).as("n_chars"))
      val upd2 = d.where(pmod(col("doc_id"), lit(14)) === 0).select(
        col("doc_id"), lit(2L).as("seq"), lit("upsert").as("op"),
        concat(lit("u2:"), substring(col("text"), 1, 20)).as("text"),
        lit("yy").as("lang"), col("source"),
        (col("n_chars") + 5).as("n_chars"))
      val dels = d.where(pmod(col("doc_id"), lit(11)) === 3).select(
        col("doc_id"), lit(3L).as("seq"), lit("delete").as("op"),
        nul.as("text"), nul.as("lang"), nul.as("source"),
        lit(null).cast("long").as("n_chars"))
      val ins = d.where(pmod(col("doc_id"), lit(13)) === 1).select(
        (col("doc_id") + 1000000L).as("doc_id"), lit(1L).as("seq"),
        lit("upsert").as("op"),
        concat(lit("ins:"), substring(col("text"), 1, 10)).as("text"),
        lit("zz").as("lang"), lit("synthetic").as("source"),
        lit(14L).as("n_chars"))
      Corpus.applyChanges(d,
          upd1.unionByName(upd2).unionByName(dels).unionByName(ins),
          "doc_id", "seq", "op")
        .orderBy("doc_id")
    }),
      // The same deterministic change batch, last-writer-wins window and
      // merge semantics: winning delete drops the id, winning upsert
      // replaces/inserts the payload, untouched base rows pass through.
      """WITH changes AS (
        | SELECT doc_id, 1 AS seq, 'upsert' AS op,
        |   'u1:' || substr(text, 1, 40) AS text, 'xx' AS lang, source,
        |   n_chars + 3 AS n_chars
        | FROM documents WHERE doc_id % 7 = 0
        | UNION ALL
        | SELECT doc_id, 2, 'upsert', 'u2:' || substr(text, 1, 20), 'yy',
        |   source, n_chars + 5
        | FROM documents WHERE doc_id % 14 = 0
        | UNION ALL
        | SELECT doc_id, 3, 'delete', NULL, NULL, NULL, NULL
        | FROM documents WHERE doc_id % 11 = 3
        | UNION ALL
        | SELECT doc_id + 1000000, 1, 'upsert',
        |   'ins:' || substr(text, 1, 10), 'zz', 'synthetic', 14
        | FROM documents WHERE doc_id % 13 = 1),
        |latest AS (SELECT * FROM (
        |  SELECT c.*, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY seq DESC, op) AS rn FROM changes c) WHERE rn = 1)
        |SELECT COALESCE(b.doc_id, l.doc_id) AS doc_id,
        | CASE WHEN l.op IS NOT NULL THEN l.text ELSE b.text END AS text,
        | CASE WHEN l.op IS NOT NULL THEN l.lang ELSE b.lang END AS lang,
        | CASE WHEN l.op IS NOT NULL THEN l.source ELSE b.source END AS source,
        | CASE WHEN l.op IS NOT NULL THEN l.n_chars ELSE b.n_chars END AS n_chars
        |FROM documents b FULL OUTER JOIN latest l ON b.doc_id = l.doc_id
        |WHERE l.op IS NULL OR l.op <> 'delete'
        |ORDER BY doc_id""".stripMargin),

    // Blocklist census: one Aho–Corasick pass per doc (native
    // MultiMatchCounts, codegen'd) + a phrase-keyed rollup whose
    // exchange carries ≤ #partitions × #phrases rows. replace()-count
    // semantics, so the oracle needs nothing but string builtins.
    BoardQuery("x_blocklist", ((s, dir) =>
      Corpus.blocklistCensus(t(s, dir, "documents"), "text",
          Seq("table scan", "hash join", "scan merge", "merge part", "slow"))
        .orderBy("phrase")),
      // Aho–Corasick counts ≡ replace()-count per phrase (leftmost greedy
      // non-overlapping, each phrase independent) — the semantics were
      // CHOSEN so the oracle needs only string builtins.
      """WITH p(phrase) AS (VALUES ('table scan'), ('hash join'),
        |  ('scan merge'), ('merge part'), ('slow')),
        |h AS (SELECT d.doc_id, p.phrase,
        |   (length(d.text) - length(replace(d.text, p.phrase, '')))
        |     // length(p.phrase) AS cnt
        | FROM documents d CROSS JOIN p WHERE d.text IS NOT NULL)
        |SELECT phrase, count(*) AS n_docs, CAST(sum(cnt) AS BIGINT) AS n_hits
        |FROM h WHERE cnt > 0 GROUP BY phrase ORDER BY phrase""".stripMargin),

    // Blocklist gate: keep docs with ≤ 2 total hits, roll up survivors
    // per language — the C4-badwords-style destructive filter, sized
    // first by x_blocklist's census. Map-only filter + tiny agg.
    BoardQuery("x_blocklist_gate", ((s, dir) =>
      Corpus.blocklistFilter(t(s, dir, "documents"), "text",
          Seq("table scan", "hash join", "scan merge", "merge part", "slow"),
          maxHits = 2L)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")),
      // Same phrase counts, summed per doc, gate at ≤ 2 total hits,
      // survivors rolled up per language. Null text has no hits (COALESCE
      // mirrors the engine's coalesce(text, '')).
      """WITH p(phrase) AS (VALUES ('table scan'), ('hash join'),
        |  ('scan merge'), ('merge part'), ('slow')),
        |h AS (SELECT d.doc_id, d.lang,
        |   CAST(COALESCE(SUM((length(d.text) - length(replace(d.text,
        |     p.phrase, ''))) // length(p.phrase)), 0) AS BIGINT) AS hits
        | FROM documents d CROSS JOIN p GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_docs FROM h WHERE hits <= 2
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // Deterministic epoch shuffle: md5(shuf:epoch:id) permutation via
    // the two-level bucket decomposition (one bucket-keyed exchange, no
    // global sort, offsets from a 64-row cumsum). Emitted positions are
    // the permutation inverse-mapped onto doc order; epoch 2 ≠ epoch 1
    // by construction. Spot-check shape: every position in [0, n) once.
    BoardQuery("x_epoch_shuffle", ((s, dir) =>
      Corpus.epochShuffle(t(s, dir, "documents"), "doc_id", epoch = 1,
          nBuckets = 64)
        .select(col("doc_id"), col("epoch_pos"))
        .orderBy("doc_id")),
      // Epoch-1 shuffle: position = rank in the (h mod 64, h, id) order,
      // h = first-12-hex md5 fold of 'shuf:1:'||doc_id — the bucketed
      // two-level engine plan concatenates to exactly this global order.
      """WITH k AS (SELECT doc_id,
        |  list_reduce(list_transform(range(1, 13), i ->
        |    CAST(strpos('0123456789abcdef', substr(
        |      md5('shuf:1:' || CAST(doc_id AS VARCHAR)),
        |      CAST(i AS INTEGER), 1)) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b) AS h
        | FROM documents)
        |SELECT doc_id,
        | row_number() OVER (ORDER BY h % 64, h, doc_id) - 1 AS epoch_pos
        |FROM k ORDER BY doc_id""".stripMargin),

    // Unicode NFC normalization (native codegen'd expression): the
    // fixture text is ASCII, so the query MANUFACTURES the decomposed
    // form (every 'e' → 'e' + combining acute U+0301), normalizes it,
    // and pins (a) the combining pairs composed away (length math) and
    // (b) bytewise equality with the precomposed é replacement — the
    // exact property that makes hash-dedup safe on mixed-encoder crawls.
    // NFC is frozen by Unicode's stability policy, so the JDK and
    // DuckDB's utf8proc agree on every assigned character.
    BoardQuery("x_nfc", ((s, dir) => {
      val dec = replace(col("text"), lit("e"), lit("e\u0301"))
      val nfc = graft.functions.TextFunctions.unicodeNormalize(dec, "NFC")
      t(s, dir, "documents")
        .select(col("doc_id"),
          // long, not Spark length()'s INT: DuckDB length() is BIGINT
          length(dec).cast("long").as("n_dec"),
          length(nfc).cast("long").as("n_nfc"),
          (nfc === replace(col("text"), lit("e"), lit("\u00e9")))
            .as("composed_ok"))
        .orderBy("doc_id")
    }),
      // The same manufactured decomposition through utf8proc's NFC:
      // chr(769) = U+0301 combining acute, chr(233) = precomposed é.
      """SELECT doc_id,
        | length(replace(text, 'e', 'e' || chr(769))) AS n_dec,
        | length(nfc_normalize(replace(text, 'e', 'e' || chr(769)))) AS n_nfc,
        | nfc_normalize(replace(text, 'e', 'e' || chr(769)))
        |   = replace(text, 'e', chr(233)) AS composed_ok
        |FROM documents ORDER BY doc_id""".stripMargin),

    // HTML → text extraction (curation rung 0): fixture text planted
    // inside a deterministic page — script/style/comment machinery,
    // a link-saturated nav and footer (die by link density), a
    // too-short block, and an entity-bearing prose div. Map-only; the
    // extraction rules mirror in DuckDB replace/regexp primitives.
    BoardQuery("x_html_extract", ((s, dir) => {
      val html = concat(
        lit("<html><head><title>t</title><style>p{color:red}</style>" +
          "<script type=\"text/javascript\">var x = \"</p>\";</script>" +
          "</head><body><div class=\"nav\"><a href=\"/\">Home</a> " +
          "<a href=\"/a\">A</a> <a href=\"/b\">B</a></div>" +
          "<!-- boilerplate --><p>"),
        col("text"),
        lit("</p><p>Too short.</p><div>Read the fine &amp; friendly " +
          "manual &lt;here&gt; with <a href=\"/more\">one link</a> and " +
          "plenty of surrounding prose to stay under the density rule." +
          "</div><footer><a href=\"/x\">x</a><a href=\"/y\">y</a>" +
          "</footer></body></html>"))
      Corpus.htmlExtract(
          t(s, dir, "documents").select(col("doc_id"), html.as("html")),
          "doc_id", "html")
        .orderBy("doc_id")
    }),
      // Same planted page, same three-stage extraction: the regexes use
      // only the shared Java/RE2 subset, the density rule is an integer
      // cross-multiplication, entities unescape in the same fixed order
      // (&amp; last) — so clean_text matches byte-for-byte.
      """WITH h AS (SELECT doc_id,
        |  '<html><head><title>t</title><style>p{color:red}</style>' ||
        |  '<script type="text/javascript">var x = "</p>";</script>' ||
        |  '</head><body><div class="nav"><a href="/">Home</a> ' ||
        |  '<a href="/a">A</a> <a href="/b">B</a></div>' ||
        |  '<!-- boilerplate --><p>' || text ||
        |  '</p><p>Too short.</p><div>Read the fine &amp; friendly ' ||
        |  'manual &lt;here&gt; with <a href="/more">one link</a> and ' ||
        |  'plenty of surrounding prose to stay under the density rule.' ||
        |  '</div><footer><a href="/x">x</a><a href="/y">y</a>' ||
        |  '</footer></body></html>' AS html
        | FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(html,
        |  '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(t,
        |  '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(t,
        |  '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
        |b AS (SELECT doc_id, string_split(regexp_replace(t,
        |  '(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|section|article|header|footer|nav|blockquote|pre)[^>]*>',
        |  chr(10), 'g'), chr(10)) AS blocks FROM s3),
        |c AS (SELECT doc_id, list_transform(blocks, x -> {
        |  'txt': trim(regexp_replace(regexp_replace(x, '<[^>]*>', ' ', 'g'),
        |    '[ \t\r\n]+', ' ', 'g')),
        |  'lc': len(x) - len(replace(x, '<a ', ''))}) AS cb FROM b),
        |k AS (SELECT doc_id,
        |  list_filter(cb, s -> len(s['txt']) >= 30
        |    AND s['lc'] * 10 <= len(s['txt']) * 3) AS kb,
        |  len(list_filter(cb, s -> len(s['txt']) > 0)) AS n_blocks
        | FROM c)
        |SELECT doc_id,
        | replace(replace(replace(replace(replace(replace(
        |   array_to_string(list_transform(kb, s -> s['txt']), chr(10)),
        |   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |   '&nbsp;', ' '), '&amp;', '&') AS clean_text,
        | CAST(n_blocks AS BIGINT) AS n_blocks,
        | CAST(len(kb) AS BIGINT) AS n_blocks_kept,
        | len(kb) >= 1 AS kept
        |FROM k ORDER BY doc_id""".stripMargin),

    // Crawl-URL canonicalization: five planted URL shapes per doc
    // exercise every rule — case folding, default-port strip, fragment
    // drop, tracking-param removal, param sorting, bare-root path,
    // non-default port retained, co.uk registered-domain heuristic.
    // Map-only; every stage mirrors in DuckDB regex/list primitives.
    BoardQuery("x_url_canon", ((s, dir) =>
      // urlCanonicalize pins internally (round-12 lesson made
      // structural in round 13): the orderBy reads plain attributes
      Corpus.urlCanonicalize(
          t(s, dir, "documents").select(col("doc_id"),
            plantedUrl.as("url")),
          "doc_id", "url")
        .orderBy("doc_id")),
      (urlCanonOracleChain("doc_id,") +
        """SELECT doc_id,
          | CASE WHEN hs THEN scheme || '://' || host || path ||
          |   CASE WHEN len(kp) > 0 THEN '?' || array_to_string(kp, '&')
          |        ELSE '' END
          | END AS url_canon,
          | CASE WHEN hs THEN host END AS host,
          | CASE WHEN hs THEN
          |   CASE WHEN len(lbl) <= 2 THEN bare
          |        WHEN length(lbl[-1]) = 2 AND lbl[-2] IN
          |          ('co','com','net','org','gov','ac','edu')
          |          THEN lbl[-3] || '.' || lbl[-2] || '.' || lbl[-1]
          |        ELSE lbl[-2] || '.' || lbl[-1] END
          | END AS registered_domain,
          | CASE WHEN hs THEN CAST(len(ap) - len(kp) AS BIGINT)
          | END AS n_params_stripped
          |FROM p8 ORDER BY doc_id""".stripMargin)),

    // Crawl-frontier URL features over the five planted URL shapes:
    // default-port strip vs kept 8080, depth/params/ext extraction,
    // the no-path host, schemeless never occurs here (all five carry
    // schemes — the null branch is spec territory). Map-only.
    BoardQuery("x_url_features", ((s, dir) =>
      Corpus.urlFeatures(
          t(s, dir, "documents").select(col("doc_id"),
            plantedUrl.as("url")),
          "doc_id", "url")
        .orderBy("doc_id")),
      // Same planted URLs, same staged canonicalization (regex subset
      // shared by Java and RE2, list sort/filter for params) — canonical
      // strings match byte-for-byte.
      // Same planted URLs and authority extraction (the canon chain's
      // p1–p5), same regex translation of the wildcard rules (escape the
      // RE2/Java-shared metacharacters, * → .*, trailing $ → \z), same
      // longest/allow/pattern window order — precedence decided
      // identically on both engines.
      // URL features: the canon chain to p5, then the feature algebra
      // (path/query split at the first ?, port-stripped host labels,
      // non-empty-segment counts, the 1-5-alnum extension).
      (urlCanonOracleChain("doc_id,") +
        """,f0 AS (SELECT doc_id, u, hs, host,
          |  CASE WHEN strpos(pathq, '?') > 0
          |    THEN substring(pathq, 1, strpos(pathq, '?') - 1)
          |    ELSE pathq END AS pth,
          |  CASE WHEN strpos(pathq, '?') > 0
          |    THEN substring(pathq, strpos(pathq, '?') + 1)
          |    ELSE '' END AS qry,
          |  regexp_replace(host, ':[0-9]+$', '') AS hnp
          | FROM p5)
          |SELECT doc_id, u AS url,
          | CASE WHEN hs THEN host END AS host,
          | CASE WHEN hs THEN CAST(len(list_filter(str_split(pth, '/'),
          |   s -> s <> '')) AS BIGINT) END AS path_depth,
          | CASE WHEN hs THEN CAST(length(pth) AS BIGINT) END
          |   AS path_chars,
          | CASE WHEN hs THEN CAST(len(list_filter(str_split(qry, '&'),
          |   s -> s <> '')) AS BIGINT) END AS n_params,
          | CASE WHEN hs THEN CAST(len(str_split(hnp, '.')) AS BIGINT)
          |   END AS host_labels,
          | CASE WHEN hs THEN regexp_matches(hnp, '[0-9]') END
          |   AS host_digits,
          | CASE WHEN hs THEN regexp_matches(hnp, '(^|\.)xn--') END
          |   AS is_idn,
          | CASE WHEN hs THEN
          |   lower(regexp_extract(pth, '\.([A-Za-z0-9]{1,5})$', 1)) END
          |   AS ext
          |FROM f0 ORDER BY doc_id""".stripMargin)),

    // RFC 9309 robots gate over the planted crawl URLs: per-host rule
    // table (broadcast), wildcard patterns compiled to anchored
    // regexes over the shared Java/RE2 subset, longest-pattern wins
    // with allow on ties. The five URL shapes cover longest-allow
    // beats shorter-disallow, wildcard-through-query, a $-anchor that
    // must NOT fire plus a mid-wildcard that does, a no-rules host,
    // and allow-"/$" losing to disallow-"/" off the root. The three
    // added sub.domain rules exercise percent normalization against
    // the /x%20y/ path: %78 decodes to the unreserved x and matches
    // with the NORMALIZED octet length ranking it above the literal
    // spelling, %20 (reserved: space) stays encoded and matches
    // literally, %2F stays distinct from / and never matches
    // (hex-case normalization is spec-pinned — no planted path
    // carries a lettered reserved triplet to witness it here).
    BoardQuery("x_robots_gate", ((s, dir) => {
      import s.implicits._
      val rules = Seq(
        ("www.example.com", "disallow", "/Path/*"),
        ("www.example.com", "allow", "/Path/Page"),
        ("news.example.co.uk", "disallow", "/a/*?id=*"),
        ("cdn.static.example.org:8080", "disallow", "*.js$"),
        ("cdn.static.example.org:8080", "disallow", "*fbclid*"),
        ("sub.domain.example.com", "allow", "/$"),
        ("sub.domain.example.com", "disallow", "/"),
        ("sub.domain.example.com", "allow", "/x%20y/*"),
        ("sub.domain.example.com", "disallow", "/%78%20y/e*"),
        ("sub.domain.example.com", "disallow", "/x%2Fy/*"))
        .toDF("host", "directive", "pattern")
      Corpus.robotsGate(
          t(s, dir, "documents").select(col("doc_id"),
            plantedUrl.as("url")),
          "doc_id", "url", rules)
        .orderBy("doc_id")
    }),
      (urlCanonOracleChain("doc_id,") +
        raw""",tg0 AS (SELECT doc_id, u AS url,
          |  CASE WHEN hs THEN host END AS host,
          |  CASE WHEN hs THEN
          |    CASE WHEN pathq = '' THEN '/'
          |         WHEN starts_with(pathq, '?') THEN '/' || pathq
          |         ELSE pathq END
          |  END AS tgt0
          | FROM p5),
          |tgt AS (SELECT doc_id, url, host,
          |  CASE WHEN tgt0 IS NOT NULL THEN ${pctNormSql("tgt0")} END
          |    AS target
          | FROM tg0),
          |rr(rhost, directive, pattern) AS (VALUES
          |  ('www.example.com', 'disallow', '/Path/*'),
          |  ('www.example.com', 'allow', '/Path/Page'),
          |  ('news.example.co.uk', 'disallow', '/a/*?id=*'),
          |  ('cdn.static.example.org:8080', 'disallow', '*.js$$'),
          |  ('cdn.static.example.org:8080', 'disallow', '*fbclid*'),
          |  ('sub.domain.example.com', 'allow', '/$$'),
          |  ('sub.domain.example.com', 'disallow', '/'),
          |  ('sub.domain.example.com', 'allow', '/x%20y/*'),
          |  ('sub.domain.example.com', 'disallow', '/%78%20y/e*'),
          |  ('sub.domain.example.com', 'disallow', '/x%2Fy/*')),
          |rn0 AS (SELECT rhost, directive, pattern,
          |  ${pctNormSql("pattern")} AS pn
          | FROM rr WHERE pattern <> ''),
          |rx AS (SELECT lower(rhost) AS rhost, directive, pattern,
          |  '^' || replace(
          |     regexp_replace(
          |       CASE WHEN pn LIKE '%$$' THEN
          |         substring(pn, 1, length(pn) - 1)
          |       ELSE pn END,
          |       '([\.\^\$$\+\?\(\)\[\]\{\}\|\\])', '\\\1', 'g'),
          |     '*', '.*')
          |  || CASE WHEN pn LIKE '%$$' THEN '\z' ELSE '' END AS rxp,
          |  strlen(pn) AS plen
          | FROM rn0),
          |j AS (SELECT t.doc_id, t.url, t.host, t.target,
          |   r.directive, r.pattern, r.plen,
          |   COALESCE(regexp_matches(t.target, r.rxp), FALSE) AS m
          |  FROM tgt t LEFT JOIN rx r ON t.host = r.rhost),
          |pk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
          |   ORDER BY m DESC, plen DESC, (directive = 'allow') DESC,
          |            pattern ASC) AS rn FROM j)
          |SELECT doc_id, url, host, target AS pathq,
          |  (NOT m) OR directive = 'allow' AS allowed,
          |  CASE WHEN m THEN pattern END AS matched_pattern,
          |  CASE WHEN m THEN directive END AS matched_directive
          |FROM pk WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // Sitemap document parsing — the robotsSitemaps → frontier chain's
    // second half: three planted body shapes per doc cover a
    // pretty-printed urlset (multi-line <loc> with surrounding
    // whitespace, &amp; in the URL, enum-case changefreq, numeric
    // priority, a minimal second entry), a sitemapindex (child
    // sitemap URLs + partial lastmod), and a compact urlset with two
    // entities in loc and a malformed priority (→ null). chr(10)
    // builds the newlines on BOTH engines (DuckDB string literals
    // don't process backslash escapes; Spark's do — chr(10) is the
    // one spelling with a single meaning). Map-only parse, mirrored
    // regex-for-regex in the oracle.
    BoardQuery("x_sitemap", ((s, dir) =>
      Corpus.sitemapParse(
          t(s, dir, "documents").select(col("doc_id"),
            plantedSitemap.as("xml")),
          "doc_id", "xml")
        .orderBy("doc_id", "entry_idx")),
      // Same planted bodies (chr(10) newlines — identical spelling on
      // both engines), same root detection, same block extraction and
      // per-field regexes over the shared Java/RE2 subset, same
      // fixed-order entity chain with &amp; LAST, same lenient priority
      // cast. range(1,3) explodes block indexes (≤ 2 entries per planted
      // body); blocks[i] + i-1 mirror posexplode.
      """WITH d AS (SELECT doc_id,
        | CASE CAST(doc_id % 3 AS INT)
        |  WHEN 0 THEN
        |   '<?xml version="1.0" encoding="UTF-8"?>' || chr(10) ||
        |   '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        |   || chr(10) || '  <url>' || chr(10) ||
        |   '    <loc> https://www.example.com/p?id=' || doc_id ||
        |   '&amp;ref=home </loc>' || chr(10) ||
        |   '    <lastmod>2026-0' || (1 + doc_id % 9) || '-15</lastmod>' ||
        |   chr(10) ||
        |   '    <changefreq>Daily</changefreq>' || chr(10) ||
        |   '    <priority>0.' || (doc_id % 10) || '</priority>' || chr(10) ||
        |   '  </url>' || chr(10) ||
        |   '  <url><loc>https://www.example.com/' || doc_id ||
        |   '</loc></url>' || chr(10) || '</urlset>'
        |  WHEN 1 THEN
        |   '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        |   || '<sitemap><loc>https://maps.example.org/s' || (doc_id % 50) ||
        |   '.xml.gz</loc><lastmod>2026-07-0' || (1 + doc_id % 9) ||
        |   '</lastmod></sitemap>' ||
        |   '<sitemap><loc>https://maps.example.org/news.xml</loc></sitemap>'
        |   || '</sitemapindex>'
        |  ELSE '<urlset><url><loc>http://h' || (doc_id % 7) ||
        |   '.example.net/a&amp;b&apos;c</loc>' ||
        |   '<changefreq>WEEKLY</changefreq>' ||
        |   '<priority>high</priority></url></urlset>'
        | END AS xml FROM documents),
        |r AS (SELECT doc_id, xml,
        |  lower(regexp_extract(xml,
        |    '(?is)<\s*(urlset|sitemapindex)[\s>]', 1)) AS root FROM d),
        |b AS (SELECT doc_id, root,
        |  CASE WHEN root = 'urlset' THEN
        |    regexp_extract_all(xml, '(?is)<url\s*>.*?</url\s*>')
        |  WHEN root = 'sitemapindex' THEN
        |    regexp_extract_all(xml, '(?is)<sitemap\s*>.*?</sitemap\s*>')
        |  ELSE [] END AS blocks FROM r),
        |e AS (SELECT doc_id, root, i - 1 AS entry_idx, blocks[i] AS blk
        |  FROM b, (SELECT unnest(range(1, 3)) AS i) ii
        |  WHERE i <= len(blocks)),
        |f AS (SELECT doc_id, entry_idx,
        |  CASE WHEN root = 'urlset' THEN 'url' ELSE 'sitemap' END AS kind,
        |  NULLIF(regexp_extract(blk,
        |    '(?is)<loc\s*>\s*(.*?)\s*</loc\s*>', 1), '') AS loc0,
        |  NULLIF(regexp_extract(blk,
        |    '(?is)<lastmod\s*>\s*(.*?)\s*</lastmod\s*>', 1), '') AS lastmod,
        |  lower(NULLIF(regexp_extract(blk,
        |    '(?is)<changefreq\s*>\s*(.*?)\s*</changefreq\s*>', 1), ''))
        |    AS changefreq,
        |  TRY_CAST(regexp_extract(blk,
        |    '(?is)<priority\s*>\s*(.*?)\s*</priority\s*>', 1) AS DOUBLE)
        |    AS priority
        | FROM e)
        |SELECT doc_id, CAST(entry_idx AS BIGINT) AS entry_idx, kind,
        |  replace(replace(replace(replace(replace(loc0,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&apos;', ''''), '&amp;', '&') AS loc,
        |  lastmod, changefreq, priority
        |FROM f WHERE loc0 IS NOT NULL
        |ORDER BY doc_id, entry_idx""".stripMargin),

    // Crawl → links → canonical domains → edge census: hrefs extracted
    // from planted pages (both quote styles + a relative link that
    // canonicalizes to nothing), destinations canonicalized, sources =
    // each doc's own planted URL domain — the domain link graph
    // pageRank/HITS run on, built entirely from this library's rungs.
    BoardQuery("x_link_graph", ((s, dir) => {
      // planted page now includes the RELATIVE / protocol-relative /
      // `..` links a real crawl is mostly made of — resolved against
      // each doc's own canonical URL before canonicalization, they
      // become self-domain (intra-site) edges instead of being dropped
      val page = concat(lit("<p>"), col("text"), lit("</p>" +
          "<a href=\"https://www.example.com/a?utm_source=z&x=1\">one</a>" +
          "<a href='http://news.example.co.uk:80/b'>two</a>" +
          "<a href=\"/relative/path\">rel</a>" +
          "<a href=\"../up/one\">up</a>" +
          "<a href=\"//proto.example.io/p\">pr</a>"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("<a href=\"https://other.site.io/c\">x</a>"))
          .otherwise(lit("")))
      val docs = t(s, dir, "documents")
      // both canonicalize projections pin internally, so the
      // null-filters and the final aggregate read plain attributes
      val src = Corpus.urlCanonicalize(
          docs.select(col("doc_id"), col("lang"), plantedUrl.as("url")),
          "doc_id", "url",
          outputs = Seq("url_canon", "registered_domain"))
        .select(col("doc_id"), col("url_canon"),
          col("registered_domain").as("src_domain"))
        // a null src (unparseable base URL) has no place in the edge
        // list, and NULL ordering differs between engines (Spark
        // NULLS FIRST vs DuckDB NULLS LAST)
        .where(col("src_domain").isNotNull)
      val links = Corpus.htmlLinks(
        docs.select(col("doc_id"), page.as("html")), "doc_id", "html")
      // one doc_id equi-join hands every link its base URL; resolution
      // + canonicalization stay map-only after it
      val dst = Corpus.urlCanonicalize(
          Corpus.resolveLinks(links.join(src, "doc_id"),
              "href", "url_canon")
            .select(col("doc_id"), col("src_domain"), col("href_resolved")),
          "doc_id", "href_resolved", carryCols = Seq("src_domain"),
          outputs = Seq("registered_domain"))
        .select(col("src_domain"), col("registered_domain").as("dst_domain"))
        .where(col("dst_domain").isNotNull)
      dst.groupBy(col("src_domain"), col("dst_domain"))
        .agg(count(lit(1)).as("n_links"))
        .orderBy("src_domain", "dst_domain")
    }),
      // Same planted pages and hrefs; the domain of an absolute URL
      // reduces to hostport → strip-any-port → strip-www → label rule
      // (equivalent to the engine's strip-default-then-strip-all since
      // the domain key never keeps a port); relative hrefs canonicalize
      // to nothing on both sides.
      // Domain-level mirror of resolution: an absolute href carries its
      // own host, a protocol-relative one its own host + base validity,
      // an opaque scheme dies in canonicalization, and EVERY relative /
      // rooted href lands on the base authority — so its registered
      // domain IS the src domain. The full path algebra is pinned
      // separately by x_resolve_links' recursive-CTE oracle.
      """WITH d AS (SELECT doc_id,
        |  '<p>' || text || '</p>' ||
        |  '<a href="https://www.example.com/a?utm_source=z&x=1">one</a>' ||
        |  '<a href=''http://news.example.co.uk:80/b''>two</a>' ||
        |  '<a href="/relative/path">rel</a>' ||
        |  '<a href="../up/one">up</a>' ||
        |  '<a href="//proto.example.io/p">pr</a>' ||
        |  CASE WHEN doc_id % 3 = 0
        |       THEN '<a href="https://other.site.io/c">x</a>'
        |       ELSE '' END AS html,
        |  CASE CAST(doc_id % 5 AS INT)
        |   WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Path/Page?utm_source=x&b=2&a=1#frag'
        |   WHEN 1 THEN 'https://news.example.co.uk/a/' || doc_id ||
        |     '?id=' || doc_id || '&utm_campaign=z'
        |   WHEN 2 THEN 'https://cdn.static.example.org:8080/lib.js?v=' ||
        |     (doc_id % 7) || '&utm_medium=y&fbclid=f'
        |   WHEN 3 THEN 'http://example.net'
        |   ELSE 'https://Sub.Domain.Example.com/x%20y/' || lang || '?gclid=abc'
        |  END AS src_url
        | FROM documents),
        |l AS (SELECT doc_id, src_url, unnest(regexp_extract_all(html,
        |  '(?is)<a\s[^>]*href\s*=\s*["'']([^"'']*)["'']', 1)) AS href
        | FROM d),
        |sp AS (SELECT doc_id, href,
        |  lower(regexp_extract(
        |     regexp_replace(regexp_replace(TRIM(src_url), '#.*$', ''),
        |       '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
        |     '^([^/?]+)', 1)) AS shp
        | FROM l),
        |hp AS (SELECT doc_id, shp,
        |  CASE WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*://')
        |   THEN lower(regexp_extract(
        |     regexp_replace(href, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
        |     '^([^/?]+)', 1))
        |  WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*:')
        |   THEN NULL
        |  WHEN starts_with(href, '//')
        |   THEN lower(regexp_extract(href, '^//([^/?]+)', 1))
        |  WHEN shp IS NOT NULL AND shp <> '' THEN shp
        |  END AS dhp
        | FROM sp),
        |bd AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(dhp, ':[0-9]+$', ''),
        |    '^www\.', '') AS dbare,
        |  regexp_replace(regexp_replace(shp, ':[0-9]+$', ''),
        |    '^www\.', '') AS sbare
        | FROM hp WHERE dhp IS NOT NULL AND dhp <> ''),
        |dd AS (SELECT doc_id, dbare, sbare,
        |  string_split(dbare, '.') AS dl, string_split(sbare, '.') AS sl
        | FROM bd),
        |edges AS (SELECT
        |  CASE WHEN len(sl) <= 2 THEN sbare
        |       WHEN length(sl[-1]) = 2 AND sl[-2] IN
        |         ('co','com','net','org','gov','ac','edu')
        |         THEN sl[-3] || '.' || sl[-2] || '.' || sl[-1]
        |       ELSE sl[-2] || '.' || sl[-1] END AS src_domain,
        |  CASE WHEN len(dl) <= 2 THEN dbare
        |       WHEN length(dl[-1]) = 2 AND dl[-2] IN
        |         ('co','com','net','org','gov','ac','edu')
        |         THEN dl[-3] || '.' || dl[-2] || '.' || dl[-1]
        |       ELSE dl[-2] || '.' || dl[-1] END AS dst_domain
        | FROM dd)
        |SELECT src_domain, dst_domain, COUNT(*) AS n_links
        |FROM edges WHERE src_domain IS NOT NULL AND src_domain <> ''
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // RFC 3986 §5 reference resolution pinned end-to-end: ten href
    // shapes (relative, ./, ../ chains, rooted, protocol-relative,
    // absolute-with-dots, query-only, fragment-only, opaque scheme)
    // against each doc's planted base URL; the DuckDB oracle runs the
    // SAME six-rule dot-segment fixpoint via a recursive CTE — one
    // algorithm, two engines, bit-for-bit.
    BoardQuery("x_resolve_links", ((s, dir) => {
      val hrefs = Seq("g", "./g?y#s", "../../x", "/rooted/../x",
        "//proto.example.io/a/./b",
        "https://abs.example.com/a/b/../c?z",
        "?q=2", "#frag", "g/../h/./", "mailto:x@example.com",
        // the fuzz-found pop-rule regressions, pinned CROSS-ENGINE: a
        // `..` never consumes an uncleared dot segment, `..` never
        // pops `..`, and empty segments pop like any stack entry
        "cc/./././..", "cc/a/../../..", "x//../y")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), plantedUrl.as("base"))
      val links = docs.select(col("doc_id"), col("base"),
        posexplode(array(hrefs.map(lit): _*)).as(Seq("link_idx", "href")))
      Corpus.resolveLinks(links, "href", "base")
        .select(col("doc_id"), col("link_idx").cast("long").as("link_idx"),
          col("href"), col("href_resolved"))
        .orderBy("doc_id", "link_idx")
    }),
      // The SAME six-rule dot-segment fixpoint as the engine, iterated
      // by a recursive CTE; branch selection and base/href parsing
      // mirror Corpus.resolveLinks op-for-op.
      ("""WITH RECURSIVE d AS (SELECT doc_id,
        |  CASE CAST(doc_id % 5 AS INT)
        |   WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Path/Page?utm_source=x&b=2&a=1#frag'
        |   WHEN 1 THEN 'https://news.example.co.uk/a/' || doc_id ||
        |     '?id=' || doc_id || '&utm_campaign=z'
        |   WHEN 2 THEN 'https://cdn.static.example.org:8080/lib.js?v=' ||
        |     (doc_id % 7) || '&utm_medium=y&fbclid=f'
        |   WHEN 3 THEN 'http://example.net'
        |   ELSE 'https://Sub.Domain.Example.com/x%20y/' || lang || '?gclid=abc'
        |  END AS base
        | FROM documents),
        |l AS (SELECT doc_id, base, CAST(x.link_idx AS BIGINT) AS link_idx,
        |   x.href
        | FROM d CROSS JOIN (VALUES
        |   (0, 'g'), (1, './g?y#s'), (2, '../../x'), (3, '/rooted/../x'),
        |   (4, '//proto.example.io/a/./b'),
        |   (5, 'https://abs.example.com/a/b/../c?z'),
        |   (6, '?q=2'), (7, '#frag'), (8, 'g/../h/./'),
        |   (9, 'mailto:x@example.com'),
        |   (10, 'cc/./././..'), (11, 'cc/a/../../..'),
        |   (12, 'x//../y')) AS x(link_idx, href)),
        |s1 AS (SELECT doc_id, link_idx, href,
        |  regexp_replace(href, '#.*$', '') AS h,
        |  regexp_replace(TRIM(base), '#.*$', '') AS b FROM l),
        |s2 AS (SELECT *,
        |  regexp_matches(b, '^[A-Za-z][A-Za-z0-9+.-]*://') AS bok,
        |  regexp_extract(b, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS bscheme,
        |  regexp_replace(b, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS brest,
        |  regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*://') AS habs,
        |  regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*:') AS hopq
        | FROM s1),
        |s3 AS (SELECT *,
        |  regexp_extract(brest, '^([^/?]+)', 1) AS bhost,
        |  regexp_replace(brest, '^[^/?]*', '') AS bpathq,
        |  regexp_extract(h, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS ascheme,
        |  regexp_replace(h, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS arest,
        |  regexp_extract(h, '^//([^/?]+)', 1) AS phost,
        |  regexp_replace(h, '^//[^/?]*', '') AS ppathq
        | FROM s2),
        |s4 AS (SELECT *,
        |  regexp_extract(bpathq, '^([^?]*)', 1) AS bpath,
        |  regexp_extract(bpathq, '(\?.*)$', 1) AS bquery,
        |  bscheme || '://' || bhost AS bpre,
        |  regexp_extract(h, '^([^?]*)', 1) AS hpath,
        |  regexp_extract(h, '(\?.*)$', 1) AS hquery,
        |  regexp_extract(arest, '^([^/?]+)', 1) AS ahost,
        |  regexp_replace(arest, '^[^/?]*', '') AS apathq,
        |  regexp_extract(ppathq, '^([^?]*)', 1) AS ppath,
        |  regexp_extract(ppathq, '(\?.*)$', 1) AS pquery
        | FROM s3),
        |s5 AS (SELECT *,
        |  regexp_extract(apathq, '^([^?]*)', 1) AS apath,
        |  regexp_extract(apathq, '(\?.*)$', 1) AS aquery,
        |  CASE WHEN regexp_extract(bpath, '^(.*/)', 1) = '' THEN '/'
        |       ELSE regexp_extract(bpath, '^(.*/)', 1) END AS bdir
        | FROM s4),
        |tri AS (SELECT doc_id, link_idx, href,
        |  CASE WHEN h IS NOT NULL AND hopq AND NOT habs THEN h
        |   END AS verbatim,
        |  CASE WHEN h IS NULL THEN NULL
        |       WHEN habs THEN ascheme || '://' || ahost
        |       WHEN hopq THEN NULL
        |       WHEN NOT bok THEN NULL
        |       WHEN starts_with(h, '//') THEN bscheme || '://' || phost
        |       ELSE bpre END AS pre,
        |  CASE WHEN habs THEN apath
        |       WHEN hopq OR NOT bok THEN NULL
        |       WHEN starts_with(h, '//') THEN ppath
        |       WHEN starts_with(h, '/') THEN hpath
        |       WHEN h = '' THEN bpath
        |       WHEN starts_with(h, '?') THEN bpath
        |       ELSE bdir || hpath END AS p0,
        |  CASE WHEN habs THEN aquery
        |       WHEN hopq OR NOT bok THEN NULL
        |       WHEN starts_with(h, '//') THEN pquery
        |       WHEN starts_with(h, '/') THEN hquery
        |       WHEN h = '' THEN bquery
        |       WHEN starts_with(h, '?') THEN h
        |       ELSE hquery END AS suf
        | FROM s5),
        |rec AS (
        | SELECT doc_id, link_idx, p0 AS p, """.stripMargin +
        dotStepSql("p0") + """ AS np
        | FROM tri WHERE pre IS NOT NULL
        | UNION ALL
        | SELECT doc_id, link_idx, np, """.stripMargin +
        dotStepSql("np") + """
        | FROM rec WHERE np <> p),
        |fix AS (SELECT doc_id, link_idx, p FROM rec WHERE np = p)
        |SELECT t.doc_id, t.link_idx, t.href,
        |  CASE WHEN t.verbatim IS NOT NULL THEN t.verbatim
        |       WHEN t.pre IS NOT NULL THEN t.pre || f.p || t.suf
        |  END AS href_resolved
        |FROM tri t LEFT JOIN fix f
        |  ON f.doc_id = t.doc_id AND f.link_idx = t.link_idx
        |ORDER BY t.doc_id, t.link_idx""".stripMargin)),

    // Per-domain curation rollup over the canonical key: dup pressure
    // (n_docs − n_urls), volume, stripped-tracker census — one
    // domain-keyed aggregation after the map-only canonicalizer.
    BoardQuery("x_domain_stats", ((s, dir) =>
      Corpus.domainStats(
          Corpus.urlCanonicalize(
            t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
              plantedUrl.as("url")),
            "doc_id", "url", carryCols = Seq("n_chars"),
            outputs = Seq("url_canon", "registered_domain",
              "n_params_stripped")),
          "n_chars")
        .orderBy("registered_domain")),
      // The rollup over the same chain; SUMs cast to BIGINT (DuckDB
      // SUM(BIGINT) is HUGEINT — the §2.7 convention).
      (urlCanonOracleChain("doc_id, n_chars,") +
        """,fin AS (SELECT n_chars,
          | CASE WHEN hs THEN scheme || '://' || host || path ||
          |   CASE WHEN len(kp) > 0 THEN '?' || array_to_string(kp, '&')
          |        ELSE '' END
          | END AS url_canon,
          | CASE WHEN hs THEN
          |   CASE WHEN len(lbl) <= 2 THEN bare
          |        WHEN length(lbl[-1]) = 2 AND lbl[-2] IN
          |          ('co','com','net','org','gov','ac','edu')
          |          THEN lbl[-3] || '.' || lbl[-2] || '.' || lbl[-1]
          |        ELSE lbl[-2] || '.' || lbl[-1] END
          | END AS registered_domain,
          | CASE WHEN hs THEN CAST(len(ap) - len(kp) AS BIGINT)
          | END AS n_params_stripped
          | FROM p8)
          |SELECT registered_domain,
          | CAST(COUNT(*) AS BIGINT) AS n_docs,
          | CAST(COUNT(DISTINCT url_canon) AS BIGINT) AS n_urls,
          | CAST(SUM(n_chars) AS BIGINT) AS n_chars,
          | CAST(SUM(n_params_stripped) AS BIGINT) AS n_params_stripped
          |FROM fin WHERE registered_domain IS NOT NULL
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // PSL-backed registered domains: longest-match against a real
    // Public-Suffix-List grammar (plain/wildcard/exception rules,
    // default rule fallback) over a planted host mix — the distinct-
    // host mapping join the heuristic's github.io-class failures
    // upgrade through.
    BoardQuery("x_psl_domains", ((s, dir) => {
      import s.implicits._
      val psl = Seq("com", "net", "org", "uk", "co.uk", "io",
        "github.io", "au", "com.au", "*.play", "!www.play").toDF("suffix")
      val hosts = t(s, dir, "documents").select(col("doc_id"),
        expr("""CASE CAST(doc_id % 7 AS INT)
          | WHEN 0 THEN 'www.example.com'
          | WHEN 1 THEN 'news.example.co.uk'
          | WHEN 2 THEN 'a.b.github.io'
          | WHEN 3 THEN 'Foo.Bar.PLAY'
          | WHEN 4 THEN 'x.www.play'
          | WHEN 5 THEN 'shop.com.au'
          | ELSE 'cdn.static.example.org:8080'
          |END""".stripMargin).as("host"))
      hosts.select(col("doc_id"), lower(col("host")).as("host"))
        .join(Corpus.pslRegisteredDomains(hosts, "host", psl),
          Seq("host"), "left")
        .select(col("doc_id"), col("host"), col("public_suffix"),
          col("registered_domain_psl"))
        .orderBy("doc_id")
    }),
      // The PSL algorithm mirrored: candidate label-suffixes unnested,
      // plain/exception rules joined on the candidate, wildcard rules on
      // its after-first-label tail; exception wins, else longest, else
      // the default rule (bare TLD).
      """WITH d AS (SELECT doc_id,
        |  CASE CAST(doc_id % 7 AS INT)
        |   WHEN 0 THEN 'www.example.com'
        |   WHEN 1 THEN 'news.example.co.uk'
        |   WHEN 2 THEN 'a.b.github.io'
        |   WHEN 3 THEN 'Foo.Bar.PLAY'
        |   WHEN 4 THEN 'x.www.play'
        |   WHEN 5 THEN 'shop.com.au'
        |   ELSE 'cdn.static.example.org:8080'
        |  END AS host
        | FROM documents),
        |hh AS (SELECT doc_id, lower(host) AS host,
        |  string_split(regexp_replace(regexp_replace(lower(host),
        |    ':[0-9]+$', ''), '\.$', ''), '.') AS labels
        | FROM d),
        |hn AS (SELECT doc_id, host, labels, len(labels) AS n FROM hh),
        |c AS (SELECT doc_id, labels, n,
        |   unnest(range(1, n + 1)) AS i FROM hn),
        |cc AS (SELECT doc_id, n, n - i + 1 AS clen,
        |   array_to_string(labels[CAST(i AS INT):], '.') AS cand FROM c),
        |rules AS (SELECT * FROM (VALUES
        |  ('plain','com'),('plain','net'),('plain','org'),('plain','uk'),
        |  ('plain','co.uk'),('plain','io'),('plain','github.io'),
        |  ('plain','au'),('plain','com.au'),
        |  ('wild','play'),('exc','www.play')) r(kind, base)),
        |m AS (
        | SELECT cc.doc_id,
        |   CASE WHEN r.kind = 'exc' THEN cc.clen - 1 ELSE cc.clen END
        |     AS ps_len,
        |   r.kind = 'exc' AS is_exc
        | FROM cc JOIN rules r
        |   ON r.kind IN ('plain','exc') AND r.base = cc.cand
        | UNION ALL
        | SELECT cc.doc_id, cc.clen, FALSE
        | FROM cc JOIN rules r
        |   ON r.kind = 'wild' AND cc.cand LIKE '%.%'
        |  AND r.base = regexp_replace(cc.cand, '^[^.]+\.', '')),
        |agg AS (SELECT doc_id,
        |  MAX(CASE WHEN is_exc THEN ps_len END) AS exc_len,
        |  MAX(CASE WHEN NOT is_exc THEN ps_len END) AS norm_len
        | FROM m GROUP BY doc_id)
        |SELECT hn.doc_id, hn.host,
        | array_to_string(labels[CAST(n - COALESCE(exc_len, norm_len, 1)
        |   + 1 AS INT):], '.') AS public_suffix,
        | CASE WHEN n > COALESCE(exc_len, norm_len, 1)
        |  THEN array_to_string(labels[CAST(n - COALESCE(exc_len,
        |    norm_len, 1) AS INT):], '.') END AS registered_domain_psl
        |FROM hn LEFT JOIN agg ON agg.doc_id = hn.doc_id
        |ORDER BY hn.doc_id""".stripMargin),

    // Code-vs-prose routing census: indentation/brace/keyword/camel
    // features + verdict, map-only. Two code docs are PLANTED
    // (mirrored with chr(10) in the oracle) so both verdict branches
    // are witnessed — the fixture itself is all prose.
    BoardQuery("x_code_prose", ((s, dir) => {
      import s.implicits._
      val planted = Seq(
        (90000001L, "def main():\n    return compute(x);\n    let y = 1"),
        (90000002L, "public static void run() { camelCase = fooBar(1); }"))
        .toDF("doc_id", "text")
      Corpus.codeProseCensus(
        t(s, dir, "documents").select(col("doc_id"), col("text"))
          .unionByName(planted),
        "doc_id", "text")
        .orderBy("doc_id")
    }),
      // Code census mirrored: same five RE2-subset patterns, chr(10)
      // newlines in the planted docs (DuckDB literals keep backslashes).
      raw"""WITH docs AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL SELECT 90000001, 'def main():' || chr(10)
        |   || '    return compute(x);' || chr(10) || '    let y = 1'
        | UNION ALL SELECT 90000002,
        |   'public static void run() { camelCase = fooBar(1); }'),
        |f AS (SELECT doc_id, COALESCE(text, '') AS t FROM docs)
        |SELECT doc_id,
        | CASE WHEN LENGTH(t) = 0 THEN 0
        |   ELSE CAST(len(string_split(t, chr(10))) AS BIGINT) END AS n_lines,
        | CAST(len(regexp_extract_all(t, '(?m)^[ \t]{2,}\S'))
        |   AS BIGINT) AS n_indent,
        | CAST(len(regexp_extract_all(t, '[{}();=\[\]]'))
        |   AS BIGINT) AS n_braces,
        | CAST(len(regexp_extract_all(t,
        |   '\b(def|class|function|import|return|public|static|void|const|let)\b'))
        |   AS BIGINT) AS n_kw,
        | CAST(len(regexp_extract_all(t, '[a-z][A-Z]')) AS BIGINT) AS n_camel,
        | CAST(3 * len(regexp_extract_all(t,
        |    '\b(def|class|function|import|return|public|static|void|const|let)\b'))
        |  + 2 * len(regexp_extract_all(t, '(?m)^[ \t]{2,}\S'))
        |  + len(regexp_extract_all(t, '[{}();=\[\]]'))
        |  + len(regexp_extract_all(t, '[a-z][A-Z]')) AS BIGINT) AS code_score,
        | (3 * len(regexp_extract_all(t,
        |    '\b(def|class|function|import|return|public|static|void|const|let)\b'))
        |  + 2 * len(regexp_extract_all(t, '(?m)^[ \t]{2,}\S'))
        |  + len(regexp_extract_all(t, '[{}();=\[\]]'))
        |  + len(regexp_extract_all(t, '[a-z][A-Z]')) >= 8) AS is_codey
        |FROM f ORDER BY doc_id""".stripMargin),

    // Within-document repetition removal (MassiveText intra-doc dedup):
    // every repeat of a unit after its first occurrence in the SAME doc
    // is deleted, order preserved. Exercised at word granularity — the
    // fixture's docs repeat tokens heavily — entirely map-only.
    BoardQuery("x_dedup_within", ((s, dir) =>
      Corpus.dedupWithinDoc(t(s, dir, "documents"), "doc_id",
          graft.functions.TextFunctions.tokens(col("text")))
        .orderBy("doc_id")),
      """WITH toks AS (
        | SELECT doc_id,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |kept AS (
        | SELECT doc_id, tok,
        |  list_filter(tok, (u, i) -> list_position(tok, u) = i) AS k
        | FROM toks)
        |SELECT doc_id, array_to_string(k, ' ') AS clean_text,
        | CAST(len(tok) - len(k) AS BIGINT) AS n_units_removed
        |FROM kept ORDER BY doc_id""".stripMargin),

    // Exact-k deterministic stratified sample: 5 docs per language,
    // chosen by md5 rank — reproducible on any cluster size.
    BoardQuery("x_sample_k", ((s, dir) =>
      Corpus.exactKPerStratum(t(s, dir, "documents"), "lang", "doc_id", k = 5)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),
      """SELECT doc_id, lang FROM (
        | SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
        |   ORDER BY md5(lang || ':' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        | FROM documents)
        |WHERE rk <= 5 ORDER BY doc_id""".stripMargin),

    // Benchmark decontamination: distinct-trigram overlap between the
    // training split and a held-out benchmark split, joined on 8-byte
    // gram hashes (inverted index — never gram strings, never all-pairs).
    BoardQuery("x_decontam", ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.decontaminate(
        docs.where(pmod(col("doc_id"), lit(40)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(40)) === 0),
        "doc_id", "text", n = 3, minShared = 2)
        .orderBy("train_id", "bench_id")
    }),
      // Joins on gram STRINGS here vs xxhash64 on the Spark side —
      // identical pairs absent a 64-bit collision.
      """WITH toks AS (
        | SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |grams AS (
        | SELECT DISTINCT doc_id, gram FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tok) - 1),
        |    i -> tok[i] || ' ' || tok[i + 1] || ' ' || tok[i + 2])) AS gram
        |  FROM toks))
        |SELECT t.doc_id AS train_id, b.doc_id AS bench_id, COUNT(*) AS shared
        |FROM grams t JOIN grams b ON t.gram = b.gram
        |WHERE t.doc_id % 40 <> 0 AND b.doc_id % 40 = 0
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY train_id, bench_id""".stripMargin),

    // Text normalization + PII scrub over doc text with deterministic
    // synthetic contact info appended (the corpus itself is clean), so
    // the masking is actually exercised. Map-only, codegen'd regexes.
    BoardQuery("x_scrub", ((s, dir) => {
      val dirty = concat(col("text"),
        lit(" Contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-867-5309 ref 9400110200881234567890"))
      t(s, dir, "documents").select(
        col("doc_id"),
        TF.normalize(col("text")).as("norm"),
        TF.scrubPii(dirty).as("scrubbed"))
        .orderBy("doc_id")
    }),
      """WITH dirty AS (
        | SELECT doc_id, text,
        |  text || ' Contact user' || CAST(doc_id AS VARCHAR) ||
        |  '@example.com or 555-867-5309 ref 9400110200881234567890' AS d
        | FROM documents)
        |SELECT doc_id,
        | TRIM(regexp_replace(regexp_replace(LOWER(text), '[\x00-\x1f]', ' ', 'g'),
        |   '\s+', ' ', 'g')) AS norm,
        | regexp_replace(regexp_replace(regexp_replace(d,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '[0-9]{9,}', '<ID>', 'g'),
        |   '\+?[0-9][0-9() .-]{5,}[0-9]', '<PHONE>', 'g') AS scrubbed
        |FROM dirty ORDER BY doc_id""".stripMargin),

    // Typed PII census over doc text with deterministic synthetic PII
    // appended: an email, a dotted quad whose octet validity flips with
    // doc_id (doc_id % 300 crosses 255), a phone, and a card that is
    // Luhn-valid on even ids only — every precision gate (octet range,
    // size window, mod-10) exercises BOTH branches across the fixture.
    // Map-only; the oracle replays the shared-subset regexes and the
    // Luhn fold with DuckDB list lambdas.
    // Crawl-delay politeness extraction over 12 planted robots bodies
    // (one per host), agent graftbot: exact-agent group beats *, a
    // host whose exact group lacks the directive stays absent (the *
    // delay must NOT leak in), max-merge over repeated lines,
    // malformed and negative values drop, UA runs share the delay.
    BoardQuery("x_crawl_delay", ((s, dir) => {
      val bodies = t(s, dir, "documents").where(col("doc_id") < 12)
        .select(concat(lit("h"), col("doc_id").cast("string"),
            lit(".example.com")).as("host"),
          plantedRobotsBody.as("robots"))
      Corpus.robotsCrawlDelay(bodies, "host", "robots", "graftbot")
        .orderBy("host")
    }),
      // PII census: the same planted text, the same shared-subset shape
      // regexes, and the precision gates as list lambdas — octet filter
      // (no octet > 255), card size window on the separator-stripped
      // digits, and the Luhn fold (reversed digits, odd positions as-is,
      // even doubled minus 9 over 4) as list_sum over list_transform.
      // Crawl-delay: the group grammar replayed in SQL — positional line
      // zip (parallel unnest), lag/sum run detection in two window
      // stages, exact-else-star group choice, TRY_CAST gate, MAX merge.
      """WITH d AS (SELECT 'h' || CAST(doc_id AS VARCHAR) ||
        |   '.example.com' AS host,
        |  CASE CAST(doc_id % 4 AS INT)
        |   WHEN 0 THEN 'User-agent: *' || chr(10) ||
        |    'Crawl-delay: 10' || chr(10) || 'User-agent: graftbot' ||
        |    chr(10) || 'Disallow: /tmp' || chr(10) || 'Crawl-delay: 2.5'
        |   WHEN 1 THEN 'User-agent: *' || chr(10) ||
        |    'Crawl-delay: 1' || chr(10) || 'Crawl-delay: fast' ||
        |    chr(10) || 'Crawl-delay: 4'
        |   WHEN 2 THEN 'User-agent: graftbot' || chr(10) ||
        |    'Disallow: /a' || chr(10) || 'User-agent: *' || chr(10) ||
        |    'Crawl-delay: 7'
        |   ELSE 'User-agent: other' || chr(10) ||
        |    'User-agent: graftbot' || chr(10) || 'Crawl-delay: -3' ||
        |    chr(10) || 'Crawl-delay: 0.5'
        |  END AS body
        | FROM documents WHERE doc_id < 12),
        |ln AS (SELECT host, unnest(range(1, len(p) + 1)) AS i,
        |   unnest(p) AS l0
        | FROM (SELECT host, str_split(body, chr(10)) AS p FROM d)),
        |lt AS (SELECT host, i,
        |   trim(regexp_replace(l0, '#.*', '')) AS l FROM ln),
        |sig AS (SELECT host, i, l,
        |   starts_with(lower(l), 'user-agent:') AS ua,
        |   starts_with(lower(l), 'crawl-delay:') AS cd
        | FROM lt
        | WHERE starts_with(lower(l), 'user-agent:')
        |    OR starts_with(lower(l), 'allow:')
        |    OR starts_with(lower(l), 'disallow:')
        |    OR starts_with(lower(l), 'crawl-delay:')),
        |g0 AS (SELECT *, (ua AND NOT COALESCE(
        |   lag(ua) OVER (PARTITION BY host ORDER BY i), FALSE)) AS gs
        | FROM sig),
        |g AS (SELECT *, SUM(CASE WHEN gs THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY host ORDER BY i) AS grp FROM g0),
        |uav AS (SELECT host, grp,
        |   lower(trim(substring(l, strpos(l, ':') + 1))) AS agent
        | FROM g WHERE ua),
        |ex AS (SELECT DISTINCT host, grp FROM uav
        | WHERE agent = 'graftbot'),
        |st AS (SELECT DISTINCT host, grp FROM uav WHERE agent = '*'),
        |ch AS (SELECT host, grp FROM ex UNION
        |       SELECT host, grp FROM st
        |        WHERE host NOT IN (SELECT host FROM ex)),
        |dl AS (SELECT host, grp,
        |   TRY_CAST(trim(substring(l, strpos(l, ':') + 1)) AS DOUBLE)
        |     AS dsec
        | FROM g WHERE cd),
        |ok AS (SELECT dl.host, dsec FROM dl
        | JOIN ch ON dl.host = ch.host AND dl.grp = ch.grp
        | WHERE dsec IS NOT NULL AND dsec >= 0)
        |SELECT host, MAX(dsec) AS crawl_delay_sec
        |FROM ok GROUP BY 1 ORDER BY host""".stripMargin),

    // Mojibake census + repair over planted double-encoding damage:
    // two artifact suffixes (derived from clean text via the real
    // UTF-8→cp1252 mis-decode, never hand-typed) land on 2/3 of docs;
    // the deterministic replace chain repairs them and the length
    // arithmetic counts 3-char vs 2-char fixes. Map-only.
    BoardQuery("x_mojibake", ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 1, concat(col("text"), lit(mojiS1)))
          .when(col("doc_id") % 3 === 2, concat(col("text"), lit(mojiS2)))
          .otherwise(col("text")).as("text"))
      Corpus.mojibakeRepair(planted, "doc_id", "text")
        .orderBy("doc_id")
    }),
      // Mojibake: the identical planted suffixes and the replace chain
      // GENERATED from Corpus.mojibakePairs (3-char stage, then 2-char),
      // counts from the same length deltas.
      {
      val (three, two) = Corpus.mojibakePairs.partition(_._1.length == 3)
      s"""WITH p AS (SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 1 THEN text || '$mojiS1'
         |       WHEN doc_id % 3 = 2 THEN text || '$mojiS2'
         |       ELSE text END AS t FROM documents),
         |a AS (SELECT doc_id, t, ${mojiSqlChain("t", three)} AS t3 FROM p),
         |b AS (SELECT doc_id, t, t3, ${mojiSqlChain("t3", two)} AS t2
         |  FROM a)
         |SELECT doc_id, t2 AS repaired,
         | CAST((length(t) - length(t3)) // 2 AS BIGINT) AS n_fix3,
         | CAST(length(t3) - length(t2) AS BIGINT) AS n_fix2,
         | (length(t) - length(t3)) // 2 + (length(t3) - length(t2)) > 0
         |   AS mojibake
         |FROM b ORDER BY doc_id""".stripMargin
    }),

    BoardQuery("x_pii_census", ((s, dir) => {
      val planted = concat(coalesce(col("text"), lit("")),
        lit(" Contact: user"), col("doc_id").cast("string"),
        lit("@mail.example.com ip=10."),
        (col("doc_id") % 300).cast("string"),
        lit(".0.1 tel=+1 (555) 01"), (col("doc_id") % 10).cast("string"),
        lit("-2345 card="),
        when(col("doc_id") % 2 === 0, lit("4111 1111 1111 1111"))
          .otherwise(lit("4111 1111 1111 1112")))
      Corpus.piiCensus(
          t(s, dir, "documents").select(col("doc_id"), planted.as("text")),
          "doc_id", "text")
        .orderBy("doc_id")
    }),
      """WITH src AS (
        | SELECT doc_id, COALESCE(text, '') || ' Contact: user' ||
        |  CAST(doc_id AS VARCHAR) || '@mail.example.com ip=10.' ||
        |  CAST(doc_id % 300 AS VARCHAR) || '.0.1 tel=+1 (555) 01' ||
        |  CAST(doc_id % 10 AS VARCHAR) || '-2345 card=' ||
        |  CASE WHEN doc_id % 2 = 0 THEN '4111 1111 1111 1111'
        |       ELSE '4111 1111 1111 1112' END AS t
        | FROM documents),
        |c AS (
        | SELECT doc_id,
        |  regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS emails,
        |  regexp_extract_all(t,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b') AS ips,
        |  regexp_extract_all(t, '\+?[0-9][0-9() .-]{5,}[0-9]') AS phones,
        |  list_filter(list_transform(
        |    regexp_extract_all(t, '\b[0-9][0-9 -]{11,21}[0-9]\b'),
        |    x -> regexp_replace(x, '[^0-9]', '', 'g')),
        |   d -> len(d) >= 13 AND len(d) <= 19) AS sized
        | FROM src),
        |v AS (
        | SELECT doc_id, emails, ips, phones, sized,
        |  list_filter(sized, d -> list_sum(list_transform(
        |    range(1, len(d) + 1),
        |    i -> CASE WHEN i % 2 = 1
        |      THEN CAST(substring(reverse(d), CAST(i AS INTEGER), 1)
        |        AS INTEGER)
        |      ELSE CAST(substring(reverse(d), CAST(i AS INTEGER), 1)
        |          AS INTEGER) * 2
        |        - CASE WHEN CAST(substring(reverse(d), CAST(i AS INTEGER),
        |            1) AS INTEGER) > 4 THEN 9 ELSE 0 END
        |      END)) % 10 = 0) AS luhn_ok
        | FROM c)
        |SELECT doc_id,
        | CAST(len(emails) AS BIGINT) AS n_email,
        | CAST(len(list_filter(ips, x -> len(list_filter(
        |   string_split(x, '.'),
        |   o -> CAST(o AS INTEGER) > 255)) = 0)) AS BIGINT) AS n_ipv4,
        | CAST(len(phones) AS BIGINT) AS n_phone,
        | CAST(len(luhn_ok) AS BIGINT) AS n_card,
        | CAST(len(sized) - len(luhn_ok) AS BIGINT) AS n_card_like
        |FROM v ORDER BY doc_id""".stripMargin),

    // Readability census over the planted line structure (10-token
    // sentences, every 3rd unpunctuated — so the sentence count is a
    // real signal, not the clamp): Flesch ease + FK grade from
    // deterministic vowel-group syllables. Map-only.
    BoardQuery("x_readability", ((s, dir) =>
      Corpus.readabilityCensus(
          t(s, dir, "documents").select(col("doc_id"),
            plantedLines.as("text")),
          "doc_id", "text")
        .orderBy("doc_id")),
      // Readability: the same planted lines, sentence runs counted over
      // the joined text, the per-token vowel-group fold as list lambdas
      // (COALESCE(list_sum, 0) — DuckDB's empty-list sum is NULL), the
      // two score polynomials in identical association order.
      """WITH toks AS (
        | SELECT doc_id,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |lined AS (
        | SELECT doc_id,
        |  array_to_string(list_transform(range((len(tok) + 9) // 10), i ->
        |    array_to_string(tok[i * 10 + 1 : i * 10 + 10], ' ') ||
        |    CASE WHEN i % 3 = 2 THEN '' ELSE '.' END),
        |   chr(10)) AS t
        | FROM toks),
        |c AS (
        | SELECT doc_id,
        |  CASE WHEN LENGTH(TRIM(t)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(t), '\s+') END AS wtok,
        |  CAST(len(regexp_extract_all(t, '[.!?]+')) AS BIGINT) AS sraw
        | FROM lined),
        |m AS (
        | SELECT doc_id, CAST(len(wtok) AS BIGINT) AS w,
        |  GREATEST(sraw, 1) AS s,
        |  CAST(COALESCE(list_sum(list_transform(wtok, x ->
        |    GREATEST(len(regexp_extract_all(lower(x), '[aeiouy]+')), 1))),
        |    0) AS BIGINT) AS y
        | FROM c)
        |SELECT doc_id, w AS n_words,
        | CASE WHEN w = 0 THEN 0 ELSE s END AS n_sentences,
        | y AS n_syllables,
        | CASE WHEN w > 0 THEN ROUND(CAST(206.835 AS DOUBLE)
        |   - CAST(1.015 AS DOUBLE) * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |   - CAST(84.6 AS DOUBLE) * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE)),
        |   9) END AS reading_ease,
        | CASE WHEN w > 0 THEN ROUND(
        |   CAST(0.39 AS DOUBLE) * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |   + CAST(11.8 AS DOUBLE) * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE))
        |   - CAST(15.59 AS DOUBLE), 9) END AS fk_grade
        |FROM m ORDER BY doc_id""".stripMargin),

    // Crawl revisit scheduling over a planted frontier: changefreq
    // cycles through all seven sitemaps.org values plus an unknown and
    // a null (→ daily default), last_crawl is null on every 5th URL
    // (tier-0 never-fetched) — so tiering, the never rule, the daily
    // default, the due window and the per-host top-3 cutoff all
    // exercise both branches. One filter + one WindowGroupLimit rank.
    BoardQuery("x_revisit", ((s, dir) => {
      val cf = element_at(array(lit("always"), lit("hourly"), lit("daily"),
        lit("weekly"), lit("monthly"), lit("yearly"), lit("never"),
        lit("Sometimes")), (col("doc_id") % 8).cast("int") + 1)
      val frontier = t(s, dir, "documents").select(
        concat(lit("h"), (col("doc_id") % 37).cast("string")).as("host"),
        concat(lit("https://h"), (col("doc_id") % 37).cast("string"),
          lit(".example.com/p"), col("doc_id").cast("string")).as("url"),
        when(col("doc_id") % 11 === 0, lit(null).cast("string"))
          .otherwise(cf).as("changefreq"),
        when(col("doc_id") % 5 === 0, lit(null).cast("long"))
          .otherwise(lit(1700000000L) + (col("doc_id") * 7919) % 30000000L)
          .as("last_crawl"))
      Corpus.revisitSchedule(frontier, "host", "url", "changefreq",
          "last_crawl", nowSec = 1730000000L, perHostK = 3)
        .orderBy("host", "wave")
    }),
      // Revisit scheduling: the changefreq→interval CASE, the due
      // predicate (never-fetched OR non-never past its interval), and the
      // (tier, overdue desc, url) politeness rank replayed as one window.
      """WITH f AS (
        | SELECT 'h' || CAST(doc_id % 37 AS VARCHAR) AS host,
        |  'https://h' || CAST(doc_id % 37 AS VARCHAR) || '.example.com/p'
        |    || CAST(doc_id AS VARCHAR) AS url,
        |  CASE WHEN doc_id % 11 = 0 THEN NULL ELSE list_extract(
        |    ['always','hourly','daily','weekly','monthly','yearly',
        |     'never','Sometimes'], CAST(doc_id % 8 AS INTEGER) + 1)
        |   END AS changefreq,
        |  CASE WHEN doc_id % 5 = 0 THEN NULL
        |   ELSE 1700000000 + (doc_id * 7919) % 30000000 END AS last_crawl
        | FROM documents),
        |i AS (SELECT *, CASE lower(COALESCE(changefreq, ''))
        |   WHEN 'always' THEN 0 WHEN 'hourly' THEN 3600
        |   WHEN 'daily' THEN 86400 WHEN 'weekly' THEN 604800
        |   WHEN 'monthly' THEN 2592000 WHEN 'yearly' THEN 31536000
        |   WHEN 'never' THEN NULL ELSE 86400 END AS itv FROM f),
        |d AS (SELECT host, url, last_crawl,
        |   CASE WHEN last_crawl IS NOT NULL
        |    THEN 1730000000 - (last_crawl + itv) END AS overdue_sec
        |  FROM i
        |  WHERE last_crawl IS NULL OR (lower(COALESCE(changefreq, ''))
        |    <> 'never' AND last_crawl + itv <= 1730000000)),
        |r AS (SELECT host, url, overdue_sec,
        |   row_number() OVER (PARTITION BY host ORDER BY
        |     CASE WHEN last_crawl IS NULL THEN 0 ELSE 1 END ASC,
        |     COALESCE(overdue_sec, 9223372036854775807) DESC,
        |     url ASC) AS wave
        |  FROM d)
        |SELECT host, url, CAST(wave AS BIGINT) AS wave,
        | CAST(overdue_sec AS BIGINT) AS overdue_sec
        |FROM r WHERE wave <= 3 ORDER BY host, wave""".stripMargin),

    // Anchor-text aggregation over planted HTML: every doc links two
    // targets (entity + nested-tag anchors, single- and double-quoted
    // hrefs, an empty image-only anchor every 6th doc), then the
    // per-target top-2 terms roll up — what the web "calls" each URL.
    // Extraction is map-only; the rollup is one count aggregation and
    // a WindowGroupLimit rank.
    BoardQuery("x_anchor_text", ((s, dir) => {
      val html = concat(
        lit("<p>intro</p><a href=\"https://t"),
        (col("doc_id") % 23).cast("string"),
        lit(".example.com/\">Read &amp; learn <b>more</b></a> <a class='x' href='/local/p"),
        (col("doc_id") % 7).cast("string"), lit("'>page "),
        (col("doc_id") % 7).cast("string"), lit(" notes</a>"),
        when(col("doc_id") % 6 === 0,
          concat(lit("<a href=\"https://t"),
            (col("doc_id") % 23).cast("string"),
            lit(".example.com/\"><img src=\"i.png\"/></a>")))
          .otherwise(lit("")))
      val links = Corpus.htmlAnchorTexts(
        t(s, dir, "documents").select(col("doc_id"), html.as("html")),
        "doc_id", "html")
      Corpus.anchorTermsTopK(links, "href", "anchor", k = 2)
        .orderBy("target", "rank")
    }),
      // Anchor texts: href/inner pairs via list_zip of the two capture
      // groups (same RE2/Java-shared pattern), the tag-strip + fixed-order
      // entity chain + whitespace collapse replayed verbatim, then the
      // count + rank window.
      """WITH src AS (
        | SELECT doc_id, '<p>intro</p><a href="https://t' ||
        |  CAST(doc_id % 23 AS VARCHAR) ||
        |  '.example.com/">Read &amp; learn <b>more</b></a> <a class=''x'' href=''/local/p'
        |  || CAST(doc_id % 7 AS VARCHAR) || '''>page ' ||
        |  CAST(doc_id % 7 AS VARCHAR) || ' notes</a>' ||
        |  CASE WHEN doc_id % 6 = 0 THEN '<a href="https://t' ||
        |    CAST(doc_id % 23 AS VARCHAR) ||
        |    '.example.com/"><img src="i.png"/></a>' ELSE '' END AS h
        | FROM documents),
        |l AS (SELECT unnest(list_zip(
        |   regexp_extract_all(h,
        |    '(?is)<a\s[^>]*href\s*=\s*["'']([^"'']*)["''][^>]*>(.*?)</a\s*>',
        |    1),
        |   regexp_extract_all(h,
        |    '(?is)<a\s[^>]*href\s*=\s*["'']([^"'']*)["''][^>]*>(.*?)</a\s*>',
        |    2))) AS z
        |  FROM src),
        |a AS (SELECT z[1] AS target,
        |   TRIM(regexp_replace(
        |     replace(replace(replace(replace(replace(replace(
        |       regexp_replace(z[2], '(?s)<[^>]*>', ' ', 'g'),
        |       '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |       '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
        |     '\s+', ' ', 'g')) AS anchor
        |  FROM l),
        |t AS (SELECT target, unnest(
        |   CASE WHEN LENGTH(TRIM(lower(anchor))) = 0 THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(TRIM(lower(anchor)), '\s+')
        |   END) AS term FROM a),
        |c AS (SELECT target, term, COUNT(*) AS n FROM t GROUP BY 1, 2),
        |r AS (SELECT target, term, n, row_number() OVER (
        |   PARTITION BY target ORDER BY n DESC, term ASC) AS rank FROM c)
        |SELECT target, term, n, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 2 ORDER BY target, rank""".stripMargin),

    // Fingerprint dedup: the engine groups by the 8-byte xxhash64 of the
    // body (the 100 TB shuffle key), but the *output* keeps only the
    // surviving ids — which, collision-free, is exactly text-key dedup,
    // so DuckDB can oracle it without reproducing the hash.
    BoardQuery("x_fingerprint", ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(TF.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy("keep_id")),
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin),

    // Mixture / source reweighting: en upsampled 2.2× (2 copies + 20%
    // hash-decided third), zh downsampled to 0.3×, other langs 1× —
    // deterministic repeats, map-only, DuckDB-reproducible.
    BoardQuery("x_mixture", ((s, dir) =>
      Corpus.mixtureWeightedSample(t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 2.2, "zh" -> 0.3))
        .select(col("doc_id"), col("lang"), col("copy_id"))
        .orderBy("doc_id", "copy_id")),
      // copies = ⌊w⌋ + (first 8 md5 hex chars < frac(w) as hex cutoff):
      // 0.2 → 0x33333333, 0.3 → 0x4ccccccc, frac 0 → '00000000' (never).
      // Hash input mirrors the operator's length-prefixed encoding
      // v<len>:<stratum>|v<len>:<key> (unambiguous under ':' in values).
      """WITH w AS (
        | SELECT doc_id, lang,
        |  CASE WHEN lang = 'en' THEN 2 WHEN lang = 'zh' THEN 0 ELSE 1 END
        |  + CASE WHEN substring(md5(
        |        'v' || CAST(length(lang) AS VARCHAR) || ':' || lang
        |        || '|' ||
        |        'v' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
        |        || ':' || CAST(doc_id AS VARCHAR)), 1, 8)
        |         < CASE WHEN lang = 'en' THEN '33333333'
        |                WHEN lang = 'zh' THEN '4ccccccc'
        |                ELSE '00000000' END
        |    THEN 1 ELSE 0 END AS n
        | FROM documents)
        |SELECT doc_id, lang, unnest(range(0, n)) AS copy_id
        |FROM w ORDER BY doc_id, copy_id""".stripMargin),

    // Weight-proportional interleave order (the stage after mixture
    // weighting): reading by interleave_pos yields each lang at its
    // weighted rate, evenly spread — stride positions (r−0.5)/w with
    // md5-ranked in-source order, arithmetic reproduced in DuckDB.
    BoardQuery("x_interleave", ((s, dir) =>
      Corpus.interleaveByWeight(t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 2.0, "zh" -> 0.5))
        .select(col("doc_id"), col("lang"), col("interleave_pos"))
        .orderBy("interleave_pos", "doc_id")),
      """WITH r AS (
        | SELECT doc_id, lang,
        |  ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(lang || ':' || CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |  CASE WHEN lang = 'en' THEN CAST(2.0 AS DOUBLE)
        |       WHEN lang = 'zh' THEN CAST(0.5 AS DOUBLE)
        |       ELSE CAST(1.0 AS DOUBLE) END AS w
        | FROM documents)
        |SELECT doc_id, lang, (CAST(rk AS DOUBLE) - 0.5) / w AS interleave_pos
        |FROM r ORDER BY interleave_pos, doc_id""".stripMargin),
  )
}
