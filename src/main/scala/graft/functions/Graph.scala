package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative graph scoring over edge DataFrames — the authority/quality
  * weighting pass of a curation pipeline (rank sources, weight documents
  * by their source's score). Complements the connectivity algorithms in
  * [[Dedup.connectedComponents]] with numeric fixpoints: same round
  * loop ([[RoundLoop]]), different convergence math.
  */
object Graph {

  /** PageRank with a fixed iteration budget.
    *
    * `edges(src, dst)` is a directed multigraph (parallel edges weight
    * the link). Returns (id, rank) for every node. Standard damped
    * update, uniform teleport:
    * `rank'(v) = (1 - d) + d * Σ_{u→v} rank(u) / outDeg(u)`
    * (the "sum to N" normalization — ranks average 1). Sink nodes (no
    * out-edges) leak their damped mass, the common large-scale
    * simplification. Runs [[personalizedPageRank]]'s loop with teleport
    * term 1.0 on every node (`(1 - d) * 1.0` is exact in IEEE 754).
    *
    * Scale shape per round: ONE shuffle — the contributions join on
    * `src` then aggregate by `dst` with map-side partials; out-degrees
    * are computed once and co-shuffled with the rank table. Every
    * [[RoundLoop.RankCutEvery]]-th round (and the last) is a lineage
    * cut ([[RoundLoop]]).
    *
    * Determinism: per-node contribution sums accumulate in
    * DECIMAL(30,15) (order-free) and each `rank/outDeg` division is a
    * single double op, so ranks are bit-reproducible across runs,
    * partitionings, and engines.
    */
  def pageRank(edges: DataFrame, iterations: Int = 10,
               damping: Double = 0.85): DataFrame =
    rankLoop(edges, iterations, damping)(_.withColumn("p", lit(1.0)))

  /** Personalized PageRank: teleport mass restricted to a seed set — the
    * curation query "which nodes sit close to this TRUSTED set through
    * the graph" (seed = vetted domains/docs, edges = similarity/links;
    * rank = proximity-weighted trust). `isSeed` is a predicate over the
    * node id column `id`. Teleport vector p is uniform over the seeds
    * present in the graph; r0 = p and each round applies
    * `r = (1−d)·p + d·Σ in-contribs` — the [[pageRank]] recurrence,
    * lineage cuts and DECIMAL contribution sums (dangling mass leaks
    * identically; the oracle unrolls the identical recurrence).
    */
  def personalizedPageRank(edges: DataFrame, isSeed: Column,
                           iterations: Int = 10,
                           damping: Double = 0.85): DataFrame =
    rankLoop(edges, iterations, damping) { nodes =>
      val seedCnt = nodes.where(isSeed).agg(count(lit(1)).as("__ns"))
      nodes.crossJoin(broadcast(seedCnt))
        .select(col("id"), col("deg"),
          when(isSeed, lit(1.0) / col("__ns").cast("double"))
            .otherwise(lit(0.0)).as("p"))
    }

  /** The PageRank loop: `teleport` adds the teleport column `p` to the
    * (id, deg) node table; r0 = p. Both join inputs are pinned (edges
    * on src, ranks on id), so every round's contributions merge-join
    * reads both snapshots with zero exchange and zero edge-side sort.
    */
  private def rankLoop(edges: DataFrame, iterations: Int, damping: Double)(
      teleport: DataFrame => DataFrame): DataFrame = {
    require(iterations >= 0 && damping >= 0.0 && damping <= 1.0)
    val e = RoundLoop.pin(edges.select(
      col("src").cast("long").as("src"), col("dst").cast("long").as("dst")), "src")
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // ONE setup materialization: the initial ranks carry (id, deg, p,
    // rank); `nodes` is a projection over the same snapshot
    val setup = RoundLoop.pin(teleport(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()
        .join(outDeg.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg")))
      .withColumn("rank", col("p")), "id")
    val nodes = setup.select(col("id"), col("deg"), col("p"))
    RoundLoop.run(setup, iterations, setup, staticPlans = true,
        cutEvery = RoundLoop.RankCutEvery) { (round, ranks) =>
      val contribs = e.join(ranks, e("src") === ranks("id"))
        .select(col("dst"), (col("rank") / col("deg").cast("double")).as("c"))
      val sums = contribs.groupBy(col("dst"))
        .agg(sum(col("c").cast(DecimalType(30, 15))).cast("double").as("in_sum"))
      // ranks-sized merge join: nodes rides its pinned snapshot, sums is
      // already hash(dst)-partitioned by its aggregation — the round's
      // ONE data-sized exchange is the contribution aggregation itself.
      // The result keeps the id partitioning/ordering for the next round.
      round.cut(nodes.join(sums, nodes("id") === sums("dst"), "left")
        .select(col("id"), col("deg"), col("p"),
          (lit(1.0 - damping) * col("p") +
            lit(damping) * coalesce(col("in_sum"), lit(0.0))).as("rank")))
    }.select(col("id"), col("rank"))
  }

  /** HITS hubs and authorities (Kleinberg 1999) over a directed edge
    * list — the OTHER classic link-analysis fixpoint next to
    * [[pageRank]], and the one curation reaches for on bipartite
    * reference graphs (doc→cited-source: authorities = trusted sources,
    * hubs = well-referenced survey docs; customer→supplier purchase
    * graphs read the same way). Per round: `a(v) = Σ_{u→v} h(u)` then
    * L2-normalize, `h(u) = Σ_{u→v} a(v)` then L2-normalize — mutual
    * reinforcement, scores in [0, 1].
    *
    * Determinism (the [[pageRank]]/kmeans discipline): contribution
    * sums accumulate in DECIMAL (order-free), the normalizer is one
    * exact-decimal sum of double squares, each normalized score is two
    * IEEE ops (divide, sqrt) rounded to 9 decimals BETWEEN half-rounds —
    * so every round's inputs are short decimal literals any engine
    * reproduces and the unrolled oracle hash-matches bit-for-bit.
    *
    * Scale shape: the edge table snapshots in TWO pinned layouts — one
    * hash(src)+sorted for the authority half-round's merge join, one
    * hash(dst)+sorted for the hub half-round — so neither half-round
    * ever re-shuffles edges; the data-sized exchange per half-round is
    * the contribution aggregation; normalizers are 1-row broadcasts;
    * AQE is scoped off for the loop jobs ([[RoundLoop.aqeOff]]).
    *
    * @return (id, hub, authority) for every node, round-9 doubles;
    *         an empty-normalizer round (edgeless graph) pins scores 0
    */
  def hits(edges: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be positive: $rounds")
    // the second layout derives from the FIRST snapshot — the caller's
    // upstream (often a join pipeline) materializes once, not per layout
    val eSrc = RoundLoop.pin(edges.select(
      col("src").cast("long").as("src"), col("dst").cast("long").as("dst")), "src")
    val eDst = RoundLoop.pin(eSrc, "dst")
    // needed only for the FINAL zero-fill: in-loop score tables stay
    // SPARSE (nodes with no in-/out-edges score 0, and zeros change
    // neither the Σx² normalizer nor any contribution sum — so the
    // per-half-round all-nodes left join + re-pin the earlier shape
    // paid bought nothing; each half-round's aggregation already
    // leaves its output hash-partitioned on the next join's key)
    val nodes = RoundLoop.pin(
      eSrc.select(col("src").as("id")).union(eSrc.select(col("dst").as("id")))
        .distinct(), "id")
    val dec = DecimalType(30, 15)
    // the raw-score table is CACHED (lazy persist) before the
    // normalizer reads it: the 1-row Σx² aggregate and the normalized
    // projection both consume the cache, so the data-sized contribution
    // join+agg runs once per half-round — WITHOUT an eager
    // materialization job per half-round (a checkpoint here cost
    // 2 driver-coordinated jobs per round; the caches materialize
    // inside the single output job instead, from a per-round bounded
    // plan since InMemoryRelation truncates downstream planning). Every
    // cache stays live until the output snapshot has materialized — an
    // in-loop release would cascade recomputation of BOTH consumers
    // through every earlier round.
    val live = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = { val p = df.persist(); live += p; p }
    def normalized(sparse: DataFrame, rawCol: String, outCol: String): DataFrame = {
      val s2 = sparse.agg(
        sum((col(rawCol) * col(rawCol)).cast(dec)).cast("double").as("__s2"))
      sparse.crossJoin(broadcast(s2))
        .select(col("id"),
          when(col("__s2") > 0.0,
            round(col(rawCol) / sqrt(col("__s2")), 9))
            .otherwise(lit(0.0)).as(outCol))
    }
    // initial hub score 1.0: src-side rows suffice — a node with no
    // out-edges contributes to no authority sum
    var hubs: DataFrame =
      eSrc.select(col("src").as("id")).distinct().withColumn("h", lit(1.0))
    var auth: DataFrame = null
    RoundLoop.aqeOff(edges.sparkSession) {
      for (_ <- 1 to rounds) {
        val aRaw = cache(eSrc.join(hubs, eSrc("src") === hubs("id"))
          .groupBy(eSrc("dst"))
          .agg(sum(col("h").cast(dec)).cast("double").as("__ar"))
          .select(col("dst").as("id"), col("__ar")))
        auth = normalized(aRaw, "__ar", "a")
        val hRaw = cache(eDst.join(auth, eDst("dst") === auth("id"))
          .groupBy(eDst("src"))
          .agg(sum(col("a").cast(dec)).cast("double").as("__hr"))
          .select(col("src").as("id"), col("__hr")))
        hubs = normalized(hRaw, "__hr", "h")
      }
    }
    // the ONE eager job of the whole fixpoint: materializes every
    // half-round cache inline, zero-fills the nodes the sparse loop
    // never scored, then cuts lineage for the caller
    val out = Snapshots.snapshot(nodes
      .join(hubs, Seq("id"), "left").join(auth, Seq("id"), "left")
      .select(col("id"), coalesce(col("h"), lit(0.0)).as("hub"),
        coalesce(col("a"), lit(0.0)).as("authority")))
    live.foreach(_.unpersist(blocking = false))
    out
  }

  /** k-core membership after `rounds` peeling passes: repeatedly remove
    * nodes whose CURRENT degree is below `k` (with their edges) — the
    * dense-core extractor (spam/community cores in link graphs, cluster
    * cores in near-dup graphs). Peeling is monotone, so the kept set
    * only shrinks; `converged` reports whether the last pass removed
    * nothing (the fixpoint = the true k-core) — computed IN the plan, so
    * an unconverged run is visible in the result, not silently wrong.
    *
    * Shuffle profile per round: one degree aggregation + two semi-joins
    * keyed on 8-byte ids, each round a lineage cut (bounded `rounds`,
    * flat lineage — the [[RoundLoop]] discipline).
    *
    * @return (id, in_core, converged) over every node of the input graph
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(rounds >= 1, s"rounds must be positive: $rounds")
    val e0 = RoundLoop.pin(edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("u"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("v"))
      .where(col("u") =!= col("v")).distinct(), "u")
    val allNodes = Snapshots.snapshot(
      e0.select(col("u").as("id")).union(e0.select(col("v").as("id"))).distinct())
    // small loop: AQE broadcasts the kept list into the edge scan (e
    // never shuffles at all); pinned loop: static plans, and the peeled
    // edge set re-pins on u each round, so both semi-joins start from a
    // known partitioning (the kept set arrives hash(id)-partitioned from
    // its aggregation) instead of cascading unknowns
    val (_, kept, keptPrev) = RoundLoop.run(e0, rounds, (e0, allNodes, allNodes)) {
      case (round, (e, kept, _)) =>
        val deg = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
          .groupBy("id").agg(count(lit(1)).as("__dg"))
        val keptNext = round.cut(deg.where(col("__dg") >= k).select(col("id")))
        val peeled = e
          .join(keptNext.withColumnRenamed("id", "u"), Seq("u"), "left_semi")
          .join(keptNext.withColumnRenamed("id", "v"), Seq("v"), "left_semi")
          .select(col("u"), col("v"))
        (round.cut(peeled, "u"), keptNext, kept)
    }
    // kept ⊆ keptPrev (peeling is monotone), so count equality ⇔ set
    // equality — the convergence flag costs two 1-row aggregates
    val flag = kept.agg(count(lit(1)).as("__a"))
      .crossJoin(keptPrev.agg(count(lit(1)).as("__b")))
      .select((col("__a") === col("__b")).as("converged"))
    allNodes
      .join(kept.withColumn("__in", lit(true)), Seq("id"), "left")
      .crossJoin(broadcast(flag))
      .select(col("id"), coalesce(col("__in"), lit(false)).as("in_core"),
        col("converged"))
  }

  /** Per-node triangle counts over an undirected simple graph — the
    * local-clustering signal (dense near-dup neighborhoods, community
    * cores) over e.g. the mutual-kNN graph. Degree-ordered orientation:
    * every undirected edge points from its lower-(degree, id) endpoint
    * to the higher, so each triangle is generated exactly once as a
    * wedge at its lowest apex, and the wedge self-join fans out by the
    * ORIENTED out-degree — the classic O(m^1.5) bound that survives
    * power-law hubs (a degree-d hub contributes wedges only among its
    * higher-degree neighbors, not C(d,2)).
    *
    * Shuffle profile: canonical edge dedup (one distinct), one
    * degree aggregation, the wedge self-join keyed on the apex, and the
    * closure check as a plain (u, v) equi-join back to the canonical
    * edge set — every stage an equi-join/aggregation on 8-byte ids;
    * found triangles explode to 3 membership rows before the final
    * per-node count. Nodes with no triangles report 0.
    *
    * @return (id, triangles) for every node with ≥ 1 edge
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    Snapshots.snapshot(
      triangleImpl(edges, srcCol, dstCol).select(col("id"), col("triangles")))

  /** Shared triangle pipeline over a SNAPPED canonical edge set — the
    * edge table is consumed four times (degree, orientation, wedge
    * self-join, closure), and without the snapshot each replay would
    * recompute the caller's entire upstream (e.g. the exhaustive-probe
    * mutual-kNN graph: measured 6.1 s → 2.9 s at sf0.1). Returns the
    * per-node (id, deg, triangles) plan.
    */
  private def triangleImpl(edges: DataFrame, srcCol: String,
                           dstCol: String): DataFrame = {
    val e = Snapshots.snapshot(
      edges.select(
          least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("u"),
          greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("v"))
        .where(col("u") =!= col("v")).distinct())
    val deg = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val lower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = e
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .select(when(lower, col("u")).otherwise(col("v")).as("a"),
        when(lower, col("v")).otherwise(col("u")).as("b"))
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.a") === col("y.a") && col("x.b") < col("y.b"))
      .select(col("x.a").as("a"),
        least(col("x.b"), col("y.b")).as("u"),
        greatest(col("x.b"), col("y.b")).as("v"))
    val tri = wedges.join(e, Seq("u", "v")) // closing edge exists
    val members = tri.select(col("a").as("id"))
      .union(tri.select(col("u").as("id")))
      .union(tri.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("__t"))
    deg.join(members, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("__t"), lit(0L)).as("triangles"))
  }

  /** Local clustering coefficient per node: `2·T / (deg·(deg−1))` over
    * [[triangleCount]]'s triangles and the simple-graph degree —
    * how close each node's neighborhood is to a clique (the
    * community-density signal; degree-1 nodes have no defined
    * coefficient and report null). One double divide per node on top of
    * the triangle pipeline; nothing new shuffles.
    *
    * @return (id, deg, triangles, coef)
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
                            dstCol: String): DataFrame =
    Snapshots.snapshot(triangleImpl(edges, srcCol, dstCol)
      .select(col("id"), col("deg"), col("triangles"),
        when(col("deg") >= 2,
          round(lit(2.0) * col("triangles").cast("double") /
            (col("deg").cast("double") * (col("deg").cast("double") - lit(1.0))),
            9))
          .otherwise(lit(null).cast("double")).as("coef")))

  /** Degree assortativity (Newman, PRL 89 2002): the Pearson
    * correlation of endpoint degrees over every ORDERED edge
    * orientation — positive on social-style graphs (hubs link hubs),
    * negative on web/kNN-style graphs (hubs link leaves). The
    * one-number structure check that tells you whether degree-based
    * sampling or hub-pruning will bias a graph-derived signal.
    *
    * Both orientations of each undirected edge enter the sum, so the
    * x and y marginals coincide and the correlation needs no square
    * root: `r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²)` with every Σ an
    * exact integer over the 2|E| ordered pairs. The close widens to
    * DECIMAL(38,0) (no silent long wrap at web-graph scale) and ends
    * in ONE double division — bit-identical anywhere. A regular graph
    * (every degree equal) has zero variance on both marginals: r is
    * NULL by the nullif convention, not a crash.
    *
    * Shuffle profile: canonical-dedup of the edge list, one node-keyed
    * degree count, ONE degree equi-join pair over the |E| canonical
    * edges, one scalar rollup. The 2|E| orientation table never
    * materializes: over the ordered pairs every sum but Σxy is a
    * node-local moment of the degree table — each node is the first
    * endpoint of exactly d ordered pairs, so M = Σd, Σx = Σd²,
    * Σx² = Σd³ — and Σxy = 2·Σ_edges d_u·d_v needs only the canonical
    * edges (each undirected edge contributes d_u·d_v twice). Same
    * integer sums, half the join input, two joins and a union fewer
    * (r16: 2.84 → measured below; the 2|E| join was the query's last
    * data-sized exchange pair).
    *
    * @return one row: (n_nodes, n_edges, m_pairs, sum_d, sum_dd,
    *         sum_d2, assortativity)
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    // snapshot the canonical edge table (the triangleImpl discipline):
    // it is consumed four times below, and without the lineage cut the
    // caller's whole upstream (e.g. the mutual-kNN chain) would inline
    // once per consumer — recompute x4 AND a plan-size blowup
    val e = Snapshots.snapshot(edges.select(
        least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") =!= col("v")).distinct())
    val deg = e.select(col("u").as("id"))
      .unionAll(e.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    // degree moments = the ordered-pair marginal sums (empty graph:
    // m_pairs coalesces to the count the old orientation-table rollup
    // reported; the moment sums stay NULL exactly as before)
    val moments = deg.agg(
      count(lit(1)).as("n_nodes"),
      coalesce(sum(col("d")), lit(0L)).as("m_pairs"),
      sum(col("d") * col("d")).as("sum_d"),
      sum(col("d") * col("d") * col("d")).as("sum_d2"))
    val dd = e
      .join(deg.withColumnRenamed("id", "u").withColumnRenamed("d", "x"),
        Seq("u"))
      .join(deg.withColumnRenamed("id", "v").withColumnRenamed("d", "y"),
        Seq("v"))
      .agg((lit(2L) * sum(col("x") * col("y"))).as("sum_dd"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    moments.crossJoin(broadcast(dd)).crossJoin(broadcast(nEdges))
      .select(col("n_nodes"), col("n_edges"), col("m_pairs"),
        col("sum_d"), col("sum_dd"), col("sum_d2"),
        round(
          (col("m_pairs").cast(d38) * col("sum_dd").cast(d38) -
            col("sum_d").cast(d38) * col("sum_d").cast(d38)).cast("double") /
          nullif((col("m_pairs").cast(d38) * col("sum_d2").cast(d38) -
            col("sum_d").cast(d38) * col("sum_d").cast(d38)).cast("double"),
            lit(0.0)),
          9).as("assortativity"))
  }

  /** Newman–Girvan modularity of a node partition (Newman 2004):
    * `Q = Σ_c [e_c/m − (d_c/2m)²]` — how many intra-cluster edges the
    * partition captures beyond degree-preserving chance. THE quality
    * score for any clustering consumed as communities
    * ([[propagateLabels]] output, k-means cluster ids, dedup
    * components): Q ≈ 0 means the "communities" are no better than
    * random, and a falling Q across snapshots means the partition key
    * is rotting. Computed as the exact integer rational
    *
    *   Q = Σ_c (4·m·e_c − d_c²) / (4·m²)
    *
    * (e_c intra-cluster edges, d_c total degree of cluster c, m edges)
    * with one double division at the close, nullif-guarded for the
    * empty graph. Evaluated over the LABELED subgraph: endpoints
    * without a label row drop with the inner join (a node that can't
    * name its community can't score it), and m/degrees follow.
    *
    * Shuffle profile: canonical edge dedup, two label equi-joins, a
    * cluster-keyed rollup (cluster-space sized), a scalar close.
    * Documented bound: exact while 4·m·max(e_c) < 2⁶³.
    *
    * @return one row: (n_nodes, n_edges, n_clusters, q_num, q_den,
    *         modularity)
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame, idCol: String,
                 labelCol: String): DataFrame = {
    val lab = labels.select(col(idCol).as("__id"), col(labelCol).as("__l"))
    // snapshot the labeled canonical edge table — consumed three times
    // (degrees, intra-cluster count, m); see degreeAssortativity
    val e = Snapshots.snapshot(edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .join(lab.withColumnRenamed("__id", "u")
        .withColumnRenamed("__l", "__lu"), Seq("u"))
      .join(lab.withColumnRenamed("__id", "v")
        .withColumnRenamed("__l", "__lv"), Seq("v")))
    val deg = e.select(col("u").as("id"), col("__lu").as("l"))
      .unionAll(e.select(col("v").as("id"), col("__lv").as("l")))
      .groupBy(col("id"), col("l")).agg(count(lit(1)).as("d"))
    val dc = deg.groupBy(col("l")).agg(sum(col("d")).as("d_c"))
    val ec = e.where(col("__lu") === col("__lv"))
      .groupBy(col("__lu").as("l")).agg(count(lit(1)).as("e_c"))
    val m = e.agg(count(lit(1)).as("m"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val sums = dc.join(ec, Seq("l"), "left")
      .withColumn("__ec", coalesce(col("e_c"), lit(0L)))
      .crossJoin(broadcast(m))
      .agg(count(lit(1)).as("n_clusters"),
        sum(lit(4L) * col("m") * col("__ec") - col("d_c") * col("d_c"))
          .as("q_num"))
    sums.crossJoin(broadcast(m)).crossJoin(broadcast(nn))
      .select(col("n_nodes"), col("m").as("n_edges"), col("n_clusters"),
        col("q_num"), (lit(4L) * col("m") * col("m")).as("q_den"),
        round(col("q_num").cast("double") /
          nullif((lit(4L) * col("m") * col("m")).cast("double"), lit(0.0)),
          9).as("modularity"))
  }

  /** Bounded-round multi-source shortest paths over integer edge
    * weights — Bellman–Ford with delta-set relaxation (the Pregel SSSP
    * shape; reference analogue: the iterative fixpoints its users build
    * on repeated reduce rounds, e.g. sif operations/reduce.go:12). The
    * curation read: "how far is every node from a trusted seed set"
    * (weighted trust radius, supply-chain distance, citation hops with
    * per-link costs) — [[propagateLabels]]' `since` column already
    * answers the UNWEIGHTED hop-count question, so this exists for the
    * case where links carry costs and a 2-hop cheap path must beat a
    * 1-hop expensive one.
    *
    * Semantics (exact, integer): `dist(v)` = minimum total weight over
    * walks from any source node to `v` using at most `rounds` edges.
    * With non-negative weights and `rounds` ≥ the graph's shortest-path
    * hop diameter this IS the shortest-path distance; `converged`
    * (computed IN the plan, kCore-style) reports whether the last round
    * improved nothing — i.e. whether the fixpoint was reached. Only
    * reached nodes appear. Parallel edges collapse to their cheapest
    * weight; weights may be any integers (a bounded-walk minimum is
    * well-defined even with negative edges), sources relax from dist 0.
    *
    * Scale shape (the [[RoundLoop]] discipline): the deduped edge table
    * snapshots once, pinned hash(src)+sorted, so every round's frontier
    * join merge-joins with zero edge-side exchange; the round's ONE
    * data-sized exchange is the min-aggregation of relaxation
    * candidates keyed on dst (map-side partial min). Delta-set
    * relaxation makes round work proportional to the out-edges of nodes
    * whose distance IMPROVED last round — not the whole graph — and the
    * node-sized merge is a full-outer join of the pinned dist snapshot
    * against the aggregation's own hash(dst) partitioning (no extra
    * exchange). Each round cuts (id, dist, improved) once; dist and
    * delta are projections of that single cut. AQE is scoped off only
    * when the edge set is beyond broadcast scale: a small frontier
    * wants AQE's broadcast joins, a big one the static pinned plans.
    *
    * @param isSource predicate over the node id column `id` selecting
    *                 the source set (evaluated against the node table
    *                 derived from the edges, like [[personalizedPageRank]]'s
    *                 `isSeed`)
    * @return (id, dist, converged) for every node reached within
    *         `rounds` edges
    */
  def shortestPathsInt(edges: DataFrame, isSource: Column, rounds: Int,
                       srcCol: String = "src", dstCol: String = "dst",
                       wCol: String = "w"): DataFrame = {
    require(rounds >= 1, s"rounds must be positive: $rounds")
    // cheapest parallel edge wins
    val e = RoundLoop.pin(edges.select(
        col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"),
        col(wCol).cast("long").as("w"))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")), "src")
    // isSource filters BEFORE the distinct (Catalyst pushes it into both
    // union branches), so the dedup aggregation runs over the source
    // sliver, not every endpoint of every edge
    val setup = RoundLoop.pin(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
        .where(isSource).distinct()
        .select(col("id"), lit(0L).as("dist"), lit(true).as("improved")), "id")
    // state: (id, dist, improved-last-round)
    val state = RoundLoop.run(e, rounds, setup) { (round, state) =>
      val delta = state.where(col("improved")).select(col("id"), col("dist"))
      val cand = e.join(delta, e("src") === delta("id"))
        .select(col("dst"), (col("dist") + col("w")).as("nd"))
        .groupBy(col("dst")).agg(min(col("nd")).as("nd"))
      val dist = state.select(col("id"), col("dist"))
      // least() skips nulls: an unreached node takes nd, an unrelaxed
      // one keeps dist; `improved` = strictly better or newly reached
      round.cut(dist.join(cand, dist("id") === cand("dst"), "full_outer")
        .select(coalesce(dist("id"), cand("dst")).as("id"),
          least(col("dist"), col("nd")).as("__d"),
          (col("dist").isNull ||
            (col("nd").isNotNull && col("nd") < col("dist"))).as("improved"))
        .withColumnRenamed("__d", "dist")
        .select(col("id"), col("dist"), col("improved")), "id")
    }
    // converged ⇔ the final round improved nothing — two 1-row aggregates
    val flag = state.agg(
        sum(when(col("improved"), lit(1L)).otherwise(lit(0L))).as("__imp"))
      .select((coalesce(col("__imp"), lit(0L)) === 0L).as("converged"))
    state.crossJoin(broadcast(flag))
      .select(col("id"), col("dist"), col("converged"))
  }

  /** Semi-supervised label propagation over an undirected graph — the
    * iterative generalization of kNN classification: a handful of seed
    * labels spread hop by hop along similarity edges ([[Similarity
    * .mutualKnnEdges]] is the natural input) until `rounds` hops out.
    * Each round, every still-unlabeled node adjacent to ≥ 1 labeled
    * node takes the majority label of its labeled neighbors — count-
    * based, ties to the smallest label, so every decision is float-free
    * and engine-reproducible. Labels are CLAMPED once assigned (seeds
    * and earlier rounds never flip), which makes the unrolled result
    * well-defined and idempotent past convergence.
    *
    * Scale shape per round (the [[RoundLoop]] discipline): ONE data-
    * sized shuffle — the frontier join keys on edge src, votes aggregate
    * (node, label) with map-side partials, and the already-labeled
    * anti-join keys on node id. Each round is a lineage cut.
    *
    * @param edges undirected pair list — each edge once, either
    *              orientation (both directions are derived)
    * @return (id, label, since) — `since` = round the label arrived
    *         (0 for seeds); nodes the labels never reached are absent
    *         (left-join from your node table to keep them as nulls)
    */
  def propagateLabels(edges: DataFrame, srcCol: String, dstCol: String,
                      seeds: DataFrame, idCol: String, labelCol: String,
                      rounds: Int): DataFrame = {
    require(rounds >= 0, s"negative rounds: $rounds")
    // pinned loop inputs: the undirected edge snapshot rides
    // hash(src)+sorted, the state snapshot hash(id)+sorted — the frontier
    // merge-join reads both with zero exchange; on the pinned side the
    // state re-pins each round with one node-sized exchange (the union
    // with the newly-labeled rows discards partitioning)
    val und = RoundLoop.pin(
      edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"))
        .union(edges.select(col(dstCol).cast("long").as("src"),
          col(srcCol).cast("long").as("dst"))), "src")
    val setup = RoundLoop.pin(seeds.select(col(idCol).cast("long").as("id"),
      col(labelCol).as("label"), lit(0).as("since")), "id")
    RoundLoop.run(und, rounds, setup) { (round, state) =>
      val votes = und.join(state, und("src") === state("id"))
        .select(col("dst"), col("label"))
        .join(state.select(col("id").as("dst")), Seq("dst"), "left_anti")
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("__nv"))
      val pick = org.apache.spark.sql.expressions.Window
        .partitionBy(col("dst"))
        .orderBy(col("__nv").desc, col("label").asc)
      val newly = votes
        .withColumn("__rk", row_number().over(pick))
        .where(col("__rk") === 1)
        .select(col("dst").as("id"), col("label"), lit(round.i).as("since"))
      round.cut(state.union(newly), "id")
    }
  }
}
