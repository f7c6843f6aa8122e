package graft
package board

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** What the board families share: the fixture reader, the scratch
  * directories, the exact-sum and int64-narrowing columns, the planted
  * fixture columns, and the oracle CTE chains several queries splice in.
  * References no family. Its vals are initialized in source order, so a
  * val may only interpolate a val declared above it.
  */
private[board] object Helpers {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.readTable(spark, dir, name)

  /** Scratch dir for the index/stat append rituals (x_tfidf_append,
    * x_ivf_probe, x_ivf_append, x_moments_append): the persisted
    * artifact must outlive the query's LAZY plan (the returned
    * DataFrame reads it at action time), so deletion can't be eager —
    * one JVM shutdown hook recursively removes every scratch root, so
    * repeated bench passes don't accrete parquet artifacts in /tmp.
    */
  private val scratchRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchRoots.forEach { root =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: java.io.IOException => () } // exit-path: best effort
      }))
  }
  def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchRoots.add(p)
    p.toString
  }

  /** Exact sum of a double column: decimal accumulation, double result. */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(28, scale))).cast("double")

  /** Driver-gate convention (round-10 verdict): NO int128-class type —
    * Spark DECIMAL(38,*) or DuckDB HUGEINT — may appear in an oracled
    * output; the gate's hasher can't canonicalize int128 values and
    * reads value-equal results as mismatched. Library functions keep
    * their overflow-safe DECIMAL(38,0) API; the oracled query narrows
    * at the edge with this guard: a non-null value outside int64 range
    * raises in-plan (visible) instead of the non-ANSI cast's silent
    * null. Every oracle mirrors with CAST(... AS BIGINT).
    */
  def big(c: Column, name: String): Column =
    when(c.isNotNull && c.cast("long").isNull,
      raise_error(concat(lit(s"int64 overflow narrowing '$name': "),
        c.cast("string"))).cast("long"))
      .otherwise(c.cast("long")).as(name)

  /** Deterministic per-doc URL for the x_url_canon / x_domain_stats
    * fixtures: five shapes exercising every canonicalization rule
    * (mirrored verbatim in both oracles).
    */
  def plantedUrl: Column = expr(
    """CASE CAST(doc_id % 5 AS INT)
      | WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Path/Page?utm_source=x&b=2&a=1#frag'
      | WHEN 1 THEN concat('https://news.example.co.uk/a/', doc_id,
      |   '?id=', doc_id, '&utm_campaign=z')
      | WHEN 2 THEN concat('https://cdn.static.example.org:8080/lib.js?v=',
      |   doc_id % 7, '&utm_medium=y&fbclid=f')
      | WHEN 3 THEN 'http://example.net'
      | ELSE concat('https://Sub.Domain.Example.com/x%20y/', lang,
      |   '?gclid=abc')
      |END""".stripMargin)

  /** Four planted robots-body shapes for x_crawl_delay (chr(10)
    * newlines — the one spelling both engines agree on): exact-beats-
    * star, star-only with max-merge + malformed, exact group WITHOUT
    * the directive (star must not leak in), negative dropped + UA-run
    * sharing.
    */
  def plantedRobotsBody: Column = expr(
    """CASE CAST(doc_id % 4 AS INT)
      | WHEN 0 THEN concat('User-agent: *', chr(10),
      |   'Crawl-delay: 10', chr(10),
      |   'User-agent: graftbot', chr(10),
      |   'Disallow: /tmp', chr(10),
      |   'Crawl-delay: 2.5')
      | WHEN 1 THEN concat('User-agent: *', chr(10),
      |   'Crawl-delay: 1', chr(10),
      |   'Crawl-delay: fast', chr(10),
      |   'Crawl-delay: 4')
      | WHEN 2 THEN concat('User-agent: graftbot', chr(10),
      |   'Disallow: /a', chr(10),
      |   'User-agent: *', chr(10),
      |   'Crawl-delay: 7')
      | ELSE concat('User-agent: other', chr(10),
      |   'User-agent: graftbot', chr(10),
      |   'Crawl-delay: -3', chr(10),
      |   'Crawl-delay: 0.5')
      |END""".stripMargin)

  /** Deterministic per-doc sitemap body for x_sitemap: three shapes
    * (pretty-printed urlset, sitemapindex, compact urlset with entity
    * soup and a malformed priority), mirrored verbatim in the oracle.
    * chr(10), never '\n' — DuckDB string literals don't process
    * backslash escapes while Spark's do, so a literal newline spelled
    * '\n' would build DIFFERENT documents on the two engines.
    */
  def plantedSitemap: Column = expr(
    """CASE CAST(doc_id % 3 AS INT)
      | WHEN 0 THEN concat(
      |  '<?xml version="1.0" encoding="UTF-8"?>', chr(10),
      |  '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">',
      |  chr(10), '  <url>', chr(10),
      |  '    <loc> https://www.example.com/p?id=', doc_id,
      |  '&amp;ref=home </loc>', chr(10),
      |  '    <lastmod>2026-0', 1 + doc_id % 9, '-15</lastmod>', chr(10),
      |  '    <changefreq>Daily</changefreq>', chr(10),
      |  '    <priority>0.', doc_id % 10, '</priority>', chr(10),
      |  '  </url>', chr(10),
      |  '  <url><loc>https://www.example.com/', doc_id, '</loc></url>',
      |  chr(10), '</urlset>')
      | WHEN 1 THEN concat(
      |  '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">',
      |  '<sitemap><loc>https://maps.example.org/s', doc_id % 50,
      |  '.xml.gz</loc><lastmod>2026-07-0', 1 + doc_id % 9,
      |  '</lastmod></sitemap>',
      |  '<sitemap><loc>https://maps.example.org/news.xml</loc></sitemap>',
      |  '</sitemapindex>')
      | ELSE concat('<urlset><url><loc>http://h', doc_id % 7,
      |  '.example.net/a&amp;b&apos;c</loc>',
      |  '<changefreq>WEEKLY</changefreq>',
      |  '<priority>high</priority></url></urlset>')
      |END""".stripMargin)

  /** Deterministic line structure planted over the single-line fixture
    * text (10-token lines, every 3rd line unpunctuated) — the
    * x_c4_gate / x_curation_funnel input, mirrored in both oracles.
    */
  def plantedLines: Column = {
    val toks = when(length(trim(col("text"))) === 0,
        array().cast("array<string>"))
      .otherwise(split(trim(col("text")), "\\s+"))
    val nChunks = ((size(toks) + 9) / 10).cast("int")
    val lines = when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1), i =>
        concat(array_join(slice(toks, i * 10 + 1, lit(10)), " "),
          when(i % 3 === 2, "").otherwise("."))))
    array_join(lines, "\n")
  }

  /** Quadratic mutual-kNN graph oracle chain (k = 5, exact decimal
    * cosines, the x_knn_graph contract) ending with `mutual`
    * (id_a < id_b, cos). Shared by the graph-analytics oracles. */
  val mutualKnnCte: String =
    """z AS (
      | SELECT q.vec_id AS qid, c.vec_id AS nid,
      |  CAST(unnest(c.embedding) AS DOUBLE) AS x,
      |  CAST(unnest(q.embedding) AS DOUBLE) AS y
      | FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id),
      |d AS (
      | SELECT qid, nid,
      |  SUM(CAST(x * y AS DECIMAL(30,15))) AS dot,
      |  SUM(CAST(x * x AS DECIMAL(30,15))) AS nc,
      |  SUM(CAST(y * y AS DECIMAL(30,15))) AS nq
      | FROM z GROUP BY 1, 2),
      |r AS (
      | SELECT qid, nid,
      |  ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(nc AS DOUBLE) * CAST(nq AS DOUBLE)), 9) AS cos,
      |  ROW_NUMBER() OVER (PARTITION BY qid
      |    ORDER BY ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(nc AS DOUBLE) * CAST(nq AS DOUBLE)), 9) DESC,
      |      nid) AS rank
      | FROM d),
      |topk AS (SELECT qid, nid, cos FROM r WHERE rank <= 5),
      |mutual AS (
      | SELECT a.qid AS id_a, a.nid AS id_b, a.cos
      | FROM topk a JOIN topk b ON a.qid = b.nid AND a.nid = b.qid
      | WHERE a.qid < a.nid)""".stripMargin

  /** Shared base CTEs for the TF-IDF retrieval oracles: whitespace
    * tokens (the engine's `TextFunctions.tokens` contract) + corpus doc
    * count. */
  val tfidfBaseCte: String =
    """toks AS (
      | SELECT doc_id, CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
      |   ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
      | FROM documents),
      |nd AS (SELECT COUNT(*) AS n FROM documents)""".stripMargin

  /** TF-IDF top-k retrieval oracle chain for one shingle width `n`,
    * CTE-prefixed with `p` so several widths can coexist in one query
    * (the RRF fusion oracle). Groups by the gram STRING where the engine
    * groups by the 8-byte hash — identical tf/df absent a collision; the
    * arithmetic mirrors `Corpus.tfidfTopK` op-for-op. Ends with `<p>rk`:
    * (query_id, doc_id, cos, rank). */
  def tfidfRkCte(n: Int, p: String, maxDfRatio: Double = 0.5,
                         qmod: Int = 101): String = {
    val gramExpr = (0 until n).map(j => s"list_extract(tok, i + $j)")
      .mkString(" || ' ' || ")
    val hi = if (n == 2) "len(tok)" else s"len(tok) - ${n - 2}"
    s"""${p}grams AS (
       | SELECT doc_id, unnest(list_transform(range(1, $hi),
       |   i -> $gramExpr)) AS gram
       | FROM toks),
       |${p}tf AS (SELECT doc_id, gram, COUNT(*) AS tf FROM ${p}grams GROUP BY 1, 2),
       |${p}keptf AS (
       | SELECT gram, df, n
       | FROM (SELECT gram, COUNT(*) AS df FROM ${p}tf GROUP BY 1) CROSS JOIN nd
       | WHERE CAST(df AS DOUBLE) <= $maxDfRatio * CAST(n AS DOUBLE)),
       |${p}posting AS (
       | SELECT doc_id, gram,
       |  CAST(tf AS DOUBLE) * (LN(CAST(n AS DOUBLE)) - LN(CAST(df AS DOUBLE))) AS w
       | FROM ${p}tf JOIN ${p}keptf USING (gram)),
       |${p}norms AS (
       | SELECT doc_id, SQRT(CAST(SUM(CAST(w * w AS DECIMAL(30,15))) AS DOUBLE)) AS nrm
       | FROM ${p}posting GROUP BY 1),
       |${p}dots AS (
       | SELECT q.doc_id AS query_id, p.doc_id AS doc_id,
       |  CAST(SUM(CAST(q.w * p.w AS DECIMAL(30,15))) AS DOUBLE) AS dot
       | FROM ${p}posting p JOIN ${p}posting q USING (gram)
       | WHERE q.doc_id % $qmod = 0 AND p.doc_id <> q.doc_id
       | GROUP BY 1, 2),
       |${p}rk AS (
       | SELECT query_id, doc_id, cos,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, doc_id) AS BIGINT) AS rank
       | FROM (SELECT query_id, d.doc_id, ROUND(dot / (qn.nrm * dn.nrm), 9) AS cos
       |       FROM ${p}dots d
       |       JOIN ${p}norms qn ON qn.doc_id = d.query_id
       |       JOIN ${p}norms dn ON dn.doc_id = d.doc_id))""".stripMargin
  }

  /** Exact 5-gram Jaccard pairs as a DuckDB CTE chain ending in
    * `jpairs(id_a, id_b, jaccard)` — the shared ground truth for
    * x_ngram_jaccard, x_minhash_neardup's recall flag, and x_dedup_drop's
    * transitive-closure oracle. Mirrors [[Dedup.ngramJaccardPairs]]
    * (whitespace tokens; docs shorter than one gram collapse to a single
    * whole-text gram).
    */
  def ngramPairsCte(minJaccard: Double,
                            from: String = "documents"): String =
    raw"""toks AS (
       | SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS tok
       | FROM $from),
       |g0 AS (
       | SELECT doc_id, unnest(CASE WHEN len(tok) < 5 THEN [array_to_string(tok, ' ')]
       |   ELSE list_transform(range(1, len(tok) - 3),
       |     i -> list_extract(tok, i) || ' ' || list_extract(tok, i + 1) || ' ' || list_extract(tok, i + 2) || ' ' || list_extract(tok, i + 3) || ' ' || list_extract(tok, i + 4)) END) AS gram
       | FROM toks),
       |grams AS (SELECT DISTINCT doc_id, gram FROM g0),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
       |inter AS (
       | SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       | FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
       | GROUP BY 1, 2),
       |jpairs AS (
       | SELECT id_a, id_b,
       |  CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
       | FROM inter
       | JOIN sizes sa ON sa.doc_id = id_a
       | JOIN sizes sb ON sb.doc_id = id_b
       | WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= $minJaccard)""".stripMargin

  /** One unrolled Lloyd round for the k-means oracle: assignment by
    * exact-decimal dot against the previous round's centroids `prev`,
    * decimal-exact normalized-mean recenter (empty clusters keep their
    * centroid via the grid LEFT JOIN), exact-norm re-unitization, round 9
    * — each step the mirror of [[graft.functions.Similarity.kmeansTrain]].
    *
    * @param members CTE naming the TRAINING membership (vec_id set) the
    *   round aggregates over — "vv" for train-on-everything; a filtered
    *   subset for the incremental-index oracle (train on the old
    *   snapshot, assign everything).
    */
  def kmeansRoundCte(r: Int, prev: String,
                             members: String = "vv"): String =
    s"""d$r AS (
       | SELECT e.vec_id, c.c,
       |  CAST(SUM(CAST(e.x * c.w AS DECIMAL(30,15))) AS DOUBLE) AS dot
       | FROM e JOIN $members USING (vec_id) JOIN $prev c ON c.pos = e.pos
       | GROUP BY 1, 2),
       |a$r AS (
       | SELECT vec_id, c FROM (
       |  SELECT vec_id, c,
       |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, c) AS rk
       |  FROM d$r) WHERE rk = 1),
       |m$r AS (
       | SELECT a.c, e.pos,
       |  ROUND(CAST(SUM(CAST(e.x / SQRT(n.n2) AS DECIMAL(30,15))) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 9) AS m
       | FROM e JOIN n USING (vec_id) JOIN a$r a USING (vec_id)
       | GROUP BY 1, 2),
       |g$r AS (
       | SELECT p.c, p.pos, COALESCE(m$r.m, p.w) AS m
       | FROM $prev p LEFT JOIN m$r ON m$r.c = p.c AND m$r.pos = p.pos),
       |u$r AS (
       | SELECT c, CAST(SUM(CAST(m * m AS DECIMAL(30,15))) AS DOUBLE) AS n2c
       | FROM g$r GROUP BY 1),
       |c$r AS (
       | SELECT g.c, g.pos, ROUND(g.m / SQRT(u.n2c), 9) AS w
       | FROM g$r g JOIN u$r u USING (c))""".stripMargin

  /** The full k-means chain (k=8, rounds=2, id-ordered seeds) ending in
    * `kassign(vec_id, cluster, cos_to_centroid)` — shared by x_kmeans and
    * x_cluster_sample. Every arithmetic step decimal-exact or a single
    * IEEE double op, so cluster ids and cosines hash-match bit-for-bit.
    */
  val kmeansCte: String =
    s"""v AS (SELECT vec_id, embedding FROM embeddings
       |      WHERE embedding IS NOT NULL),
       |e0 AS (
       | SELECT vec_id,
       |  unnest(list_transform(range(1, len(embedding) + 1),
       |    i -> {'pos': i - 1, 'x': CAST(embedding[i] AS DOUBLE)})) AS u
       | FROM v),
       |e AS (SELECT vec_id, CAST(u.pos AS INT) AS pos, u.x AS x FROM e0),
       |n AS (
       | SELECT vec_id,
       |  CAST(SUM(CAST(x * x AS DECIMAL(30,15))) AS DOUBLE) AS n2
       | FROM e GROUP BY 1),
       |vv AS (SELECT vec_id FROM n WHERE n2 > 0),
       |sid AS (
       | SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) - 1 AS c
       | FROM vv ORDER BY vec_id LIMIT 8),
       |c0 AS (
       | SELECT s.c, e.pos, ROUND(e.x / SQRT(n.n2), 9) AS w
       | FROM sid s JOIN e ON e.vec_id = s.vec_id JOIN n ON n.vec_id = s.vec_id),
       |${kmeansRoundCte(1, "c0")},
       |${kmeansRoundCte(2, "c1")},
       |dfin AS (
       | SELECT e.vec_id, c.c,
       |  CAST(SUM(CAST(e.x * c.w AS DECIMAL(30,15))) AS DOUBLE) AS dot
       | FROM e JOIN vv USING (vec_id) JOIN c2 c ON c.pos = e.pos
       | GROUP BY 1, 2),
       |afin AS (
       | SELECT vec_id, c, dot FROM (
       |  SELECT vec_id, c, dot,
       |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, c) AS rk
       |  FROM dfin) WHERE rk = 1),
       |cn AS (
       | SELECT c, CAST(SUM(CAST(w * w AS DECIMAL(30,15))) AS DOUBLE) AS n2c
       | FROM c2 GROUP BY 1),
       |kassign AS (
       | SELECT afin.vec_id, afin.c AS cluster,
       |  ROUND(afin.dot / SQRT(n.n2 * cn.n2c), 9) AS cos_to_centroid
       | FROM afin JOIN n ON n.vec_id = afin.vec_id JOIN cn ON cn.c = afin.c)""".stripMargin
}
