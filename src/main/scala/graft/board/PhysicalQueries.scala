package graft
package board

import org.apache.spark.sql.functions._

import Helpers._

/** Physical design: storage layout, compaction and file skipping
  * ([[graft.functions.Layout]], [[graft.sources]]), the WARC sink, and
  * the bloom, skew and range join operators of [[graft.operators]].
  */
private[graft] object PhysicalQueries {

  val queries: Seq[BoardQuery] = Seq(

    // Runtime Bloom-filter join pruning: sketch the filtered dim keys,
    // drop non-matching fact rows inside the scan stage BEFORE the join
    // shuffle. False positives die in the exact join ⇒ bit-identical to
    // the plain join the oracle runs.
    BoardQuery("x_bloom_join", ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val hot = t(s, dir, "orders").where(col("o_totalprice") > 400000)
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.operators.Bloom.prunedJoin(l, hot, "l_orderkey", "o_orderkey",
          expectedKeys = 100000, fpp = 0.01)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("o_totalprice"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
      // Bloom prefilter is invisible in the result: FPs die in the exact
      // join, so the oracle is the plain filtered join.
      """SELECT l_orderkey, l_linenumber, l_partkey, o_totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 400000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Salted join under known key skew: fact side scattered across
    // saltN sub-keys, small side replicated saltN× — identical output to
    // the plain join (the oracle), hot keys spread over saltN reducers.
    BoardQuery("x_skew_join", ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey").as("p_partkey"), col("l_quantity"))
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      graft.operators.Skew.saltedJoin(l, p, "p_partkey",
          scatterBy = col("l_orderkey") * lit(7L) + col("l_linenumber"), saltN = 4)
        .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
          col("l_quantity"), col("p_brand"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
      // Salting is invisible in the result: same rows as the plain join.
      """SELECT l_orderkey, l_linenumber, l_partkey AS p_partkey,
        |       l_quantity, p_brand
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Z-order (Morton) codes — the clustering key behind
    // Sinks.zorderedParquet's multi-dimensional data skipping.
    BoardQuery("x_zorder", ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        graft.functions.Layout.zValue16(col("user_id"), col("event_id")).as("z"))
        .orderBy("event_id")),
      // Bit-exact Morton interleave: sums of disjoint-bit terms == OR.
      """SELECT event_id, user_id,
        | CAST(list_sum(list_transform(range(0, 16),
        |   i -> ((((user_id & 65535) >> i) & 1) << (2 * i)) |
        |        ((((event_id & 65535) >> i) & 1) << ((2 * i) + 1))))
        |   AS BIGINT) AS z
        |FROM events ORDER BY event_id""".stripMargin),

    // Compaction planning: pack (lang/source, total chars) segments
    // into 10k-char bins by cumulative-quota packing — (size desc,
    // name) order, bin = exclusive-prefix div target; the two-level
    // band decomposition keeps the prefix sum single-reducer-free.
    // (The file-listing path over _metadata is CompactionSpec's.)
    BoardQuery("x_compaction", ((s, dir) => {
      val seg = t(s, dir, "documents")
        .groupBy(concat_ws("/", col("lang"), col("source")).as("seg"))
        .agg(sum(col("n_chars")).as("sz"))
      graft.sources.Compaction.plan(seg, "seg", "sz", targetBytes = 10000L)
        .orderBy("name")
    }),
      // The plan's two-level prefix decomposition collapses to one plain
      // exclusive cumsum over the identical (size DESC, name) total order.
      """WITH seg AS (SELECT lang || '/' || source AS name,
        |  CAST(SUM(n_chars) AS BIGINT) AS size
        | FROM documents GROUP BY 1),
        |c AS (SELECT name, size,
        |  CAST(COALESCE(SUM(size) OVER (ORDER BY size DESC, name
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS bin_start
        | FROM seg)
        |SELECT name, size, bin_start // 10000 AS bin, bin_start
        |FROM c ORDER BY name""".stripMargin),

    // Index-accelerated batch lookup: build the per-file min/max + Bloom
    // skipping index over the documents files, probe three ids (one
    // absent), read only candidate files — the scan-avoidance tier for
    // point lookups on an 800k-file table. At fixture scale the table is
    // one file; multi-file pruning itself is pinned by FileSkipIndexSpec.
    BoardQuery("x_file_skip", ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.sources.FileSkipIndex.build(d, "doc_id")
      graft.sources.FileSkipIndex.probe(s, idx, d, "doc_id",
          Seq(3L, 77L, 123456789L))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),
      // The index is an access path, not a transformation: the contract is
      // that probing through it returns exactly the plain filter's rows.
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (3, 77, 123456789) ORDER BY doc_id""".stripMargin),

    // Oracle witness for the WARC source (Sources.warc): a bounded
    // document slice (doc_id % 97 — ≤ N/97+1 rows, the documented
    // fixture bound) serializes to a deterministic two-shard archive
    // ON THE EXECUTORS (foreachPartition — the fixture writer runs
    // where the docs are; a production archiver would target the
    // cluster DFS through the same per-partition shape), then reads
    // BACK through the real Content-Length-framed parser. The oracle
    // never sees WARC bytes: it replays the framing formulas straight
    // off documents — shard = doc_id % 2, per-shard record index,
    // octet (not char) Content-Length, byte-exact payload roundtrip —
    // so a framing bug on either the write or the read side breaks
    // the hash.
    BoardQuery("x_warc", ((s, dir) => {
      import s.implicits._
      val tmp = scratchDir("graft-warcfix")
      val slice = t(s, dir, "documents")
        .where(col("doc_id") % 97 === 0)
        .select(pmod(col("doc_id"), lit(2)).cast("int").as("shard"),
          col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      // shard rows sort contiguously inside each task, so the writer
      // emits one whole file per shard run regardless of how the
      // hash placement packs the two shards into tasks
      slice.repartition(2, col("shard"))
        .sortWithinPartitions("shard", "doc_id")
        .as[(Int, Long, String)]
        .foreachPartition { (it: Iterator[(Int, Long, String)]) =>
          val crlf = "\r\n"
          var out: java.io.OutputStream = null
          var cur = -1
          for ((shard, docId, text) <- it) {
            if (shard != cur) {
              if (out != null) out.close()
              out = new java.io.BufferedOutputStream(
                new java.io.FileOutputStream(
                  s"$tmp/part-$shard.warc"))
              cur = shard
            }
            val payload = text.getBytes(
              java.nio.charset.StandardCharsets.UTF_8)
            out.write((s"WARC/1.0${crlf}WARC-Type: response$crlf" +
              s"WARC-Target-URI: https://ex.com/$docId$crlf" +
              s"WARC-Date: 2026-08-16T00:00:00Z$crlf" +
              s"Content-Type: text/plain$crlf" +
              s"Content-Length: ${payload.length}$crlf$crlf")
              .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
            out.write(payload)
            out.write((crlf + crlf).getBytes(
              java.nio.charset.StandardCharsets.ISO_8859_1))
          }
          if (out != null) out.close()
        }
      graft.sources.Sources.warc(s, tmp).df
        .select(
          regexp_extract(col("target_uri"), "/(\\d+)\\z", 1)
            .cast("long").as("doc_id"),
          regexp_extract(col("path"), "part-(\\d+)\\.warc\\z", 1)
            .cast("int").as("shard"),
          col("record_idx"), col("warc_type"), col("target_uri"),
          col("warc_date"), col("content_type"), col("content_length"),
          decode(col("payload"), "UTF-8").as("payload_text"))
        .orderBy("doc_id")
    }),
      // The oracle replays the FRAMING FORMULAS, not the bytes: shard by
      // doc_id parity, record index by per-shard doc_id order,
      // Content-Length as the OCTET length of the UTF-8 payload
      // (octet_length(encode(..)) — char count would diverge on any
      // multibyte text), payload roundtripped verbatim. Constant headers
      // mirror the writer's constants.
      """SELECT doc_id,
        |  CAST(doc_id % 2 AS INT) AS shard,
        |  row_number() OVER (PARTITION BY doc_id % 2 ORDER BY doc_id)
        |    - 1 AS record_idx,
        |  'response' AS warc_type,
        |  'https://ex.com/' || doc_id AS target_uri,
        |  '2026-08-16T00:00:00Z' AS warc_date,
        |  'text/plain' AS content_type,
        |  octet_length(encode(COALESCE(text, ''))) AS content_length,
        |  COALESCE(text, '') AS payload_text
        |FROM documents WHERE doc_id % 97 = 0
        |ORDER BY doc_id""".stripMargin),

    // Binned range join: tag each lineitem shipment with how many sampled
    // 14-day order windows cover it. The bin equi-join replaces the
    // BroadcastNestedLoopJoin Spark would otherwise plan for a pure
    // BETWEEN predicate — linear, shuffle-parallel, AQE-eligible.
    BoardQuery("x_range_join", ((s, dir) => {
      val epoch = lit("1970-01-01").cast("date")
      val windows = t(s, dir, "orders")
        .where(pmod(col("o_orderkey"), lit(97)) === 0)
        .select(col("o_orderkey").as("w_id"),
          datediff(col("o_orderdate"), epoch).cast("long").as("w_start"))
        .withColumn("w_end", col("w_start") + 14)
      val points = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        datediff(col("l_shipdate"), epoch).cast("long").as("p_day"))
      graft.operators.RangeJoin
        .pointInInterval(points, windows, "p_day", "w_start", "w_end",
          Seq("w_id"), binWidth = 16L)
        .groupBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("n_windows"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    }),
      """WITH w AS (
        | SELECT o_orderkey AS w_id,
        |  date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS ws
        | FROM orders WHERE o_orderkey % 97 = 0),
        |p AS (
        | SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS pd
        | FROM lineitem)
        |SELECT p.l_orderkey, p.l_linenumber, p.l_partkey, p.l_suppkey,
        | COUNT(*) AS n_windows
        |FROM p JOIN w ON p.pd BETWEEN w.ws AND w.ws + 14
        |GROUP BY 1, 2, 3, 4
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin),

    // Partition-scoped compaction planning over a planted inventory
    // (the dir-isolated complement of x_compaction's global packer):
    // five partition dirs, file sizes sweeping 1 KB..1.4 MB so both
    // actions and multi-file bins occur; first-fit-with-overflow cumsum
    // bins, never across dirs. Metadata-sized; one dir-keyed window.
    BoardQuery("x_compaction_dirs", ((s, dir) => {
      val files = t(s, dir, "documents").select(
        concat(lit("dt="), (col("doc_id") % 5).cast("string")).as("dir"),
        concat(lit("part-"), lpad(col("doc_id").cast("string"), 8, "0"))
          .as("path"),
        ((col("doc_id") * 37) % 1400000 + 1000).as("bytes"))
      graft.functions.Layout.compactionPlan(files, "dir", "path", "bytes",
          targetBytes = 1000000L)
        .orderBy("dir", "path")
    }),
      // Dir-scoped compaction plan: the dir-keyed running-size window with
      // explicit ROWS framing, the same floor((cum − bytes)/target) bins.
      """WITH f AS (SELECT 'dt=' || CAST(doc_id % 5 AS VARCHAR) AS dir,
        |  'part-' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS path,
        |  (doc_id * 37) % 1400000 + 1000 AS bytes FROM documents),
        |c AS (SELECT dir, path, CAST(bytes AS BIGINT) AS bytes,
        |  CASE WHEN bytes < 1000000 THEN 'compact' ELSE 'keep' END
        |    AS action,
        |  SUM(CASE WHEN bytes < 1000000 THEN bytes ELSE 0 END) OVER (
        |    PARTITION BY dir ORDER BY path
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM f)
        |SELECT dir, path, bytes, action,
        | CASE WHEN bytes < 1000000 THEN CAST(FLOOR(
        |   CAST(cum - bytes AS DOUBLE) / 1000000.0) AS BIGINT)
        | END AS group_id
        |FROM c ORDER BY dir, path""".stripMargin),
  )
}
