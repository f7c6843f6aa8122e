package graft
package board

import org.apache.spark.sql.functions._

import graft.functions.Similarity
import Helpers._

/** Graph analytics over [[graft.functions.Graph]]: PageRank, PPR, SSSP,
  * HITS, label propagation and the mutual-kNN graph statistics.
  */
private[graft] object GraphQueries {

  val queries: Seq[BoardQuery] = Seq(

    // PageRank authority over the customer->supplier purchase graph
    // (ids disambiguated into one space: cust*2, supp*2+1). 5 damped
    // rounds, decimal-summed contributions — bit-reproducible, so the
    // unrolled-SQL oracle hash-matches.
    BoardQuery("x_pagerank", ((s, dir) => {
      val e = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      graft.functions.Graph.pageRank(e, iterations = 5)
        .select(col("id"), round(col("rank"), 9).as("rank"))
        .orderBy("id")
    }),
      {
      def step(i: Int) =
        s"""r$i AS (
           | SELECT n.id, n.deg,
           |  (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) +
           |  CAST(0.85 AS DOUBLE) * COALESCE(s.in_sum, CAST(0.0 AS DOUBLE)) AS rank
           | FROM nodes n LEFT JOIN (
           |  SELECT e.dst AS dst,
           |   CAST(SUM(CAST(r.rank / CAST(r.deg AS DOUBLE) AS DECIMAL(30,15)))
           |     AS DOUBLE) AS in_sum
           |  FROM e JOIN r${i - 1} r ON e.src = r.id GROUP BY e.dst) s
           | ON n.id = s.dst)""".stripMargin
      s"""WITH e AS (
         | SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
         |nodes AS (
         | SELECT n.id, COALESCE(d.deg, 0) AS deg
         | FROM (SELECT DISTINCT id FROM
         |   (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)) n
         | LEFT JOIN deg d ON n.id = d.src),
         |r0 AS (SELECT id, deg, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
         |${(1 to 5).map(step).mkString(",\n")}
         |SELECT id, ROUND(rank, 9) AS rank FROM r5 ORDER BY id""".stripMargin
    }),

    // Weighted shortest paths from the anchor customers (custkey % 50
    // == 0) over the undirected purchase graph, edge weight = cheapest
    // line quantity ever shipped between the pair: Bellman–Ford with
    // delta-set relaxation, 4 bounded rounds, exact integers end-to-end
    // — the unrolled oracle hash-matches, converged flag in-plan.
    BoardQuery("x_sssp", ((s, dir) => {
      val base = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"),
          col("l_quantity").cast("long").as("w"))
      val und = base.union(
        base.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      graft.functions.Graph
        .shortestPathsInt(und, col("id") % 100 === 0, rounds = 4)
        .orderBy("id")
    }),
      // Unrolled Bellman–Ford: each round re-relaxes from the FULL dist
      // table (provably equal to the engine's delta-set relaxation after
      // the same round count — old candidates can't beat applied minima);
      // converged ⇔ round 4 changed nothing ⇔ d3 ≡ d4 as (id, dist) sets.
      {
      def step(i: Int) =
        s"""d$i AS MATERIALIZED (
           | SELECT id, MIN(dist) AS dist FROM (
           |  SELECT id, dist FROM d${i - 1}
           |  UNION ALL
           |  SELECT e.dst AS id, d.dist + e.w AS dist
           |  FROM d${i - 1} d JOIN eu e ON e.src = d.id)
           | GROUP BY id)""".stripMargin
      s"""WITH e0 AS (
         | SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
         |  CAST(l_quantity AS BIGINT) AS w
         | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |eu AS MATERIALIZED (
         | SELECT src, dst, MIN(w) AS w FROM (
         |  SELECT src, dst, w FROM e0
         |  UNION ALL SELECT dst AS src, src AS dst, w FROM e0)
         | GROUP BY src, dst),
         |d0 AS (
         | SELECT id, CAST(0 AS BIGINT) AS dist FROM (
         |  SELECT DISTINCT id FROM
         |   (SELECT src AS id FROM eu UNION ALL SELECT dst AS id FROM eu))
         | WHERE id % 100 = 0),
         |${(1 to 4).map(step).mkString(",\n")}
         |SELECT d4.id, d4.dist,
         | (SELECT COUNT(*) FROM d4) =
         | (SELECT COUNT(*) FROM d3 JOIN d4
         |   ON d3.id = d4.id AND d3.dist = d4.dist) AS converged
         |FROM d4 ORDER BY id""".stripMargin
    }),

    // HITS hubs/authorities over the same purchase graph — the other
    // classic link fixpoint (customers = hubs, suppliers = authorities):
    // 2 mutual-reinforcement rounds, DECIMAL contribution sums, L2
    // normalizers as 1-row broadcasts, round-9 scores between
    // half-rounds so the unrolled oracle matches bit-for-bit.
    BoardQuery("x_hits", ((s, dir) => {
      val e = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      graft.functions.Graph.hits(e, rounds = 2).orderBy("id")
    }),
      // Recursive CTEs can't aggregate over the recursive table, so the 5
      // fixed rounds unroll into 5 identical step CTEs. All float ops are
      // written double-explicit ((1.0 - 0.85) stays a double SUB — DuckDB
      // would otherwise fold it in exact DECIMAL, a different constant).
      // Two HITS rounds unrolled: per half-round a DECIMAL contribution
      // sum over the edge join, an exact-decimal L2 normalizer, and a
      // round-9 normalized score consumed by the next half-round — every
      // value a short decimal literal, so hubs AND authorities hash-match.
      // CTEs MATERIALIZED (each h/a table feeds two consumers).
      {
      def round(i: Int) =
        s"""araw$i AS MATERIALIZED (
           | SELECT n.id, COALESCE(s.ar, CAST(0.0 AS DOUBLE)) AS ar
           | FROM nodes n LEFT JOIN (
           |  SELECT e.dst AS dst,
           |   CAST(SUM(CAST(h.h AS DECIMAL(30,15))) AS DOUBLE) AS ar
           |  FROM e JOIN h${i - 1} h ON e.src = h.id GROUP BY e.dst) s
           | ON n.id = s.dst),
           |an$i AS MATERIALIZED (
           | SELECT CAST(SUM(CAST(ar * ar AS DECIMAL(30,15))) AS DOUBLE) AS s2
           | FROM araw$i),
           |a$i AS MATERIALIZED (
           | SELECT id, CASE WHEN s2 > 0 THEN ROUND(ar / SQRT(s2), 9)
           |   ELSE CAST(0.0 AS DOUBLE) END AS a
           | FROM araw$i, an$i),
           |hraw$i AS MATERIALIZED (
           | SELECT n.id, COALESCE(s.hr, CAST(0.0 AS DOUBLE)) AS hr
           | FROM nodes n LEFT JOIN (
           |  SELECT e.src AS src,
           |   CAST(SUM(CAST(a.a AS DECIMAL(30,15))) AS DOUBLE) AS hr
           |  FROM e JOIN a$i a ON e.dst = a.id GROUP BY e.src) s
           | ON n.id = s.src),
           |hn$i AS MATERIALIZED (
           | SELECT CAST(SUM(CAST(hr * hr AS DECIMAL(30,15))) AS DOUBLE) AS s2
           | FROM hraw$i),
           |h$i AS MATERIALIZED (
           | SELECT id, CASE WHEN s2 > 0 THEN ROUND(hr / SQRT(s2), 9)
           |   ELSE CAST(0.0 AS DOUBLE) END AS h
           | FROM hraw$i, hn$i)""".stripMargin
      s"""WITH e AS MATERIALIZED (
         | SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |nodes AS MATERIALIZED (
         | SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
         |h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS h FROM nodes),
         |${(1 to 2).map(round).mkString(",\n")}
         |SELECT h2.id, h2.h AS hub, a2.a AS authority
         |FROM h2 JOIN a2 ON a2.id = h2.id ORDER BY h2.id""".stripMargin
    }),

    // k-core of the mutual-kNN graph (k = 3, 4 peels): dense cluster
    // cores; the in-plan converged flag makes an unconverged run visible
    // in the result rather than silently wrong.
    BoardQuery("x_kcore", ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val edges = Similarity.mutualKnnEdges(e, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 16, kmeansIters = 1,
        margin = 40, saltBuckets = 2)
      graft.functions.Graph.kCore(edges, "id_a", "id_b", k = 3, rounds = 4)
        .orderBy("id")
    }),
      // Four peeling rounds unrolled; converged = |kp4| = |kp3| (peeling
      // is monotone, so count equality is set equality). Round CTEs are
      // MATERIALIZED — each is referenced several times and DuckDB would
      // otherwise replay the quadratic mutual-graph chain per reference
      // (the x_bpe_train lesson; un-materialized this OOMs).
      {
      def peel(r: Int) =
        s"""d$r AS MATERIALIZED (SELECT id, COUNT(*) AS dg FROM (
           |  SELECT u AS id FROM e${r - 1} UNION ALL SELECT v FROM e${r - 1})
           | GROUP BY 1),
           |kp$r AS MATERIALIZED (SELECT id FROM d$r WHERE dg >= 3),
           |e$r AS MATERIALIZED (SELECT u, v FROM e${r - 1}
           | WHERE u IN (SELECT id FROM kp$r) AND v IN (SELECT id FROM kp$r))""".stripMargin
      s"""WITH $mutualKnnCte,
         |e0 AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM mutual),
         |nodes AS (SELECT DISTINCT id FROM (
         |  SELECT u AS id FROM e0 UNION ALL SELECT v FROM e0)),
         |${(1 to 4).map(peel).mkString(",\n")},
         |flag AS (SELECT (SELECT COUNT(*) FROM kp4) = (SELECT COUNT(*) FROM kp3)
         |  AS converged)
         |SELECT n.id, (kp.id IS NOT NULL) AS in_core, f.converged
         |FROM nodes n LEFT JOIN kp4 kp USING (id) CROSS JOIN flag f
         |ORDER BY n.id""".stripMargin
    }),

    // Personalized PageRank: teleport restricted to a trusted seed set
    // (customers with custkey % 25 = 0 → node id % 50 = 0) — proximity-
    // weighted trust through the same bipartite purchase graph.
    BoardQuery("x_ppr", ((s, dir) => {
      val e = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      graft.functions.Graph.personalizedPageRank(e,
          col("id") % 50 === 0, iterations = 5)
        .select(col("id"), round(col("rank"), 9).as("rank"))
        .orderBy("id")
    }),
      // Same unrolled recurrence as x_pagerank with the teleport term
      // (1−d)·p — p uniform over in-graph seeds, r0 = p; double ops
      // mirrored (1.0−0.85 as a DOUBLE subtraction, 1.0/ns DOUBLE divide).
      {
      def step(i: Int) =
        s"""r$i AS (
           | SELECT n.id, n.deg, n.p,
           |  (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * n.p +
           |  CAST(0.85 AS DOUBLE) * COALESCE(s.in_sum, CAST(0.0 AS DOUBLE)) AS rank
           | FROM nodes n LEFT JOIN (
           |  SELECT e.dst AS dst,
           |   CAST(SUM(CAST(r.rank / CAST(r.deg AS DOUBLE) AS DECIMAL(30,15)))
           |     AS DOUBLE) AS in_sum
           |  FROM e JOIN r${i - 1} r ON e.src = r.id GROUP BY e.dst) s
           | ON n.id = s.dst)""".stripMargin
      s"""WITH e AS (
         | SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
         |nb AS (
         | SELECT n.id, COALESCE(d.deg, 0) AS deg
         | FROM (SELECT DISTINCT id FROM
         |   (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)) n
         | LEFT JOIN deg d ON n.id = d.src),
         |ns AS (SELECT COUNT(*) AS ns FROM nb WHERE id % 50 = 0),
         |nodes AS (
         | SELECT id, deg,
         |  CASE WHEN id % 50 = 0
         |   THEN CAST(1.0 AS DOUBLE) / CAST(ns AS DOUBLE)
         |   ELSE CAST(0.0 AS DOUBLE) END AS p
         | FROM nb CROSS JOIN ns),
         |r0 AS (SELECT id, deg, p, p AS rank FROM nodes),
         |${(1 to 5).map(step).mkString(",\n")}
         |SELECT id, ROUND(rank, 9) AS rank FROM r5 ORDER BY id""".stripMargin
    }),

    // Per-node triangle counts on the mutual-kNN graph — the local-
    // clustering signal; degree-ordered wedge generation keeps the
    // self-join O(m^1.5) even with hubs, closure is a plain equi-join.
    BoardQuery("x_triangles", ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val edges = Similarity.mutualKnnEdges(e, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 16, kmeansIters = 1,
        margin = 40, saltBuckets = 2)
      graft.functions.Graph.triangleCount(edges, "id_a", "id_b")
        .orderBy("id")
    }),
      // Exact triangle enumeration over the same mutual graph: x < y < z
      // with all three canonical edges present; per-node membership count.
      s"""WITH $mutualKnnCte,
        |e AS (SELECT id_a AS u, id_b AS v FROM mutual),
        |tri AS (SELECT xy.u AS x, xy.v AS y, xz.v AS z
        |        FROM e xy JOIN e xz ON xz.u = xy.u AND xz.v > xy.v
        |        JOIN e yz ON yz.u = xy.v AND yz.v = xz.v),
        |pernode AS (SELECT id, COUNT(*) AS triangles FROM (
        |  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri) GROUP BY 1),
        |nodes AS (SELECT DISTINCT id FROM (
        |  SELECT id_a AS id FROM mutual UNION ALL SELECT id_b FROM mutual))
        |SELECT n.id, COALESCE(p.triangles, CAST(0 AS BIGINT)) AS triangles
        |FROM nodes n LEFT JOIN pernode p USING (id)
        |ORDER BY id""".stripMargin),

    // Local clustering coefficient: 2T/(deg·(deg−1)) per node over the
    // same mutual graph — community-density signal; nothing new shuffles
    // beyond the triangle pipeline.
    BoardQuery("x_clustering_coef", ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val edges = Similarity.mutualKnnEdges(e, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 16, kmeansIters = 1,
        margin = 40, saltBuckets = 2)
      graft.functions.Graph.clusteringCoefficient(edges, "id_a", "id_b")
        .orderBy("id")
    }),
      // Triangles + degree + the same double arithmetic: 2T/(d(d−1)),
      // round 9; degree-1 nodes null.
      s"""WITH $mutualKnnCte,
        |e AS (SELECT id_a AS u, id_b AS v FROM mutual),
        |tri AS (SELECT xy.u AS x, xy.v AS y, xz.v AS z
        |        FROM e xy JOIN e xz ON xz.u = xy.u AND xz.v > xy.v
        |        JOIN e yz ON yz.u = xy.v AND yz.v = xz.v),
        |pernode AS (SELECT id, COUNT(*) AS triangles FROM (
        |  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri) GROUP BY 1),
        |deg AS (SELECT id, COUNT(*) AS deg FROM (
        |  SELECT id_a AS id FROM mutual UNION ALL SELECT id_b FROM mutual)
        | GROUP BY 1)
        |SELECT d.id, d.deg,
        | COALESCE(p.triangles, CAST(0 AS BIGINT)) AS triangles,
        | CASE WHEN d.deg >= 2 THEN
        |  ROUND(2.0 * CAST(COALESCE(p.triangles, 0) AS DOUBLE) /
        |    (CAST(d.deg AS DOUBLE) * (CAST(d.deg AS DOUBLE) - 1.0)), 9)
        | ELSE NULL END AS coef
        |FROM deg d LEFT JOIN pernode p USING (id)
        |ORDER BY id""".stripMargin),

    // Newman-Girvan modularity of the embeddings' label partition over
    // the mutual-kNN graph: Q as the exact integer rational
    // sum(4 m e_c - d_c^2) / 4m^2 — "do the labels explain the graph
    // beyond degree-preserving chance?"
    BoardQuery("x_modularity", ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val edges = Similarity.mutualKnnEdges(e, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 16, kmeansIters = 1,
        margin = 40, saltBuckets = 2)
      graft.functions.Graph.modularity(edges, "id_a", "id_b",
        e.select(col("vec_id"), col("label")), "vec_id", "label")
    }),
      // Modularity mirrored on the shared mutual-kNN CTE: labeled
      // subgraph inner joins, cluster rollup, HUGEINT sum narrowed.
      s"""WITH $mutualKnnCte,
        |lab AS (SELECT vec_id AS id, label AS l FROM embeddings),
        |e AS (SELECT DISTINCT LEAST(id_a, id_b) AS u,
        |   GREATEST(id_a, id_b) AS v
        |  FROM mutual WHERE id_a <> id_b),
        |el AS (SELECT e.u, e.v, la.l AS lu, lb.l AS lv FROM e
        |  JOIN lab la ON la.id = e.u JOIN lab lb ON lb.id = e.v),
        |deg AS (SELECT id, l, COUNT(*) AS d FROM (
        |  SELECT u AS id, lu AS l FROM el
        |  UNION ALL SELECT v, lv FROM el) GROUP BY 1, 2),
        |dc AS (SELECT l, CAST(SUM(d) AS BIGINT) AS d_c FROM deg GROUP BY 1),
        |ec AS (SELECT lu AS l, COUNT(*) AS e_c FROM el
        |  WHERE lu = lv GROUP BY 1),
        |m AS (SELECT COUNT(*) AS m FROM el),
        |nn AS (SELECT COUNT(*) AS n_nodes FROM deg),
        |s AS (SELECT COUNT(*) AS n_clusters,
        |  CAST(SUM(4 * m.m * COALESCE(ec.e_c, 0) - dc.d_c * dc.d_c)
        |    AS BIGINT) AS q_num
        | FROM dc LEFT JOIN ec USING (l), m)
        |SELECT nn.n_nodes, m.m AS n_edges, s.n_clusters, s.q_num,
        | 4 * m.m * m.m AS q_den,
        | ROUND(CAST(s.q_num AS DOUBLE)
        |   / nullif(CAST(4 * m.m * m.m AS DOUBLE), 0.0), 9) AS modularity
        |FROM s, m, nn""".stripMargin),

    // Newman degree assortativity of the same mutual-kNN graph: the
    // degree-degree Pearson over both edge orientations as exact
    // integer sums (no sqrt — symmetric marginals), DECIMAL(38,0)
    // close, one double divide. kNN graphs read disassortative.
    BoardQuery("x_assortativity", ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val edges = Similarity.mutualKnnEdges(e, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 16, kmeansIters = 1,
        margin = 40, saltBuckets = 2)
      graft.functions.Graph.degreeAssortativity(edges, "id_a", "id_b")
    }),
      // Assortativity mirrored on the shared mutual-kNN CTE: canonical
      // dedup, both orientations, HUGEINT close cast to double.
      s"""WITH $mutualKnnCte,
        |e AS (SELECT DISTINCT LEAST(id_a, id_b) AS u,
        |   GREATEST(id_a, id_b) AS v
        |  FROM mutual WHERE id_a <> id_b),
        |deg AS (SELECT id, COUNT(*) AS d FROM (
        |  SELECT u AS id FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |op AS (SELECT u AS a, v AS b FROM e
        |  UNION ALL SELECT v, u FROM e),
        |j AS (SELECT da.d AS x, db.d AS y FROM op
        |  JOIN deg da ON da.id = op.a JOIN deg db ON db.id = op.b),
        |s AS (SELECT COUNT(*) AS m, CAST(SUM(x) AS BIGINT) AS sx,
        |  CAST(SUM(x * y) AS BIGINT) AS sxy,
        |  CAST(SUM(x * x) AS BIGINT) AS sxx FROM j)
        |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
        | (SELECT COUNT(*) FROM e) AS n_edges,
        | m AS m_pairs, sx AS sum_d, sxy AS sum_dd, sxx AS sum_d2,
        | ROUND(CAST(CAST(m AS HUGEINT) * sxy
        |     - CAST(sx AS HUGEINT) * sx AS DOUBLE)
        |   / nullif(CAST(CAST(m AS HUGEINT) * sxx
        |     - CAST(sx AS HUGEINT) * sx AS DOUBLE), 0.0), 9)
        |   AS assortativity
        |FROM s""".stripMargin),

    // Semi-supervised label propagation: every 5th vector keeps its
    // label as a seed, labels spread 3 hops along the mutual-kNN graph
    // (same exhaustive-probe graph as x_knn_graph), majority vote per
    // hop with smallest-label tiebreak, labels clamp once assigned.
    // The oracle unrolls the 3 rounds over the quadratic graph chain.
    BoardQuery("x_label_prop", ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val edges = Similarity.mutualKnnEdges(e, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 16, kmeansIters = 1,
        margin = 40, saltBuckets = 2)
      val seeds = e.where(col("vec_id") % 5 === 0)
        .select(col("vec_id"), col("label"))
      graft.functions.Graph.propagateLabels(edges, "id_a", "id_b",
          seeds, "vec_id", "label", rounds = 3)
        .join(e.select(col("vec_id")), col("id") === col("vec_id"), "right")
        .select(col("vec_id"), col("label"), col("since"))
        .orderBy("vec_id")
    }),
      // Full quadratic per-query rank window; mutual = both directions
      // rank ≤ 5. cos is direction-independent (decimal accumulation),
      // so either side's value matches Spark's min-under-group.
      // The x_knn_graph quadratic chain builds the mutual graph; three
      // unrolled vote rounds (count majority, smallest-label tiebreak,
      // clamped labels) replicate the engine's propagation exactly.
      """WITH z AS (
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
        |  ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(nc AS DOUBLE) * CAST(nq AS DOUBLE)), 9) DESC,
        |      nid) AS rank
        | FROM d),
        |topk AS (SELECT qid, nid FROM r WHERE rank <= 5),
        |mut AS (
        | SELECT a.qid AS id_a, a.nid AS id_b
        | FROM topk a JOIN topk b ON a.qid = b.nid AND a.nid = b.qid
        | WHERE a.qid < a.nid),
        |und AS (
        | SELECT id_a AS src, id_b AS dst FROM mut
        | UNION ALL SELECT id_b, id_a FROM mut),
        |l0 AS (
        | SELECT vec_id AS id, label, 0 AS since FROM embeddings
        | WHERE vec_id % 5 = 0),
        |v1 AS (
        | SELECT e.dst AS id, l.label, COUNT(*) AS nv
        | FROM und e JOIN l0 l ON e.src = l.id
        | WHERE e.dst NOT IN (SELECT id FROM l0) GROUP BY 1, 2),
        |p1 AS (SELECT id, label FROM (
        |  SELECT id, label, ROW_NUMBER() OVER (PARTITION BY id
        |    ORDER BY nv DESC, label) AS rk FROM v1) x WHERE rk = 1),
        |l1 AS (SELECT * FROM l0 UNION ALL SELECT id, label, 1 FROM p1),
        |v2 AS (
        | SELECT e.dst AS id, l.label, COUNT(*) AS nv
        | FROM und e JOIN l1 l ON e.src = l.id
        | WHERE e.dst NOT IN (SELECT id FROM l1) GROUP BY 1, 2),
        |p2 AS (SELECT id, label FROM (
        |  SELECT id, label, ROW_NUMBER() OVER (PARTITION BY id
        |    ORDER BY nv DESC, label) AS rk FROM v2) x WHERE rk = 1),
        |l2 AS (SELECT * FROM l1 UNION ALL SELECT id, label, 2 FROM p2),
        |v3 AS (
        | SELECT e.dst AS id, l.label, COUNT(*) AS nv
        | FROM und e JOIN l2 l ON e.src = l.id
        | WHERE e.dst NOT IN (SELECT id FROM l2) GROUP BY 1, 2),
        |p3 AS (SELECT id, label FROM (
        |  SELECT id, label, ROW_NUMBER() OVER (PARTITION BY id
        |    ORDER BY nv DESC, label) AS rk FROM v3) x WHERE rk = 1),
        |l3 AS (SELECT * FROM l2 UNION ALL SELECT id, label, 3 FROM p3)
        |SELECT e.vec_id, l.label, CAST(l.since AS INT) AS since
        |FROM embeddings e LEFT JOIN l3 l ON e.vec_id = l.id
        |ORDER BY e.vec_id""".stripMargin),
  )
}
