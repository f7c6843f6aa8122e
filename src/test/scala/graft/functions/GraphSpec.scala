package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphSpec extends SparkSpec {

  private def edges(pairs: (Long, Long)*) =
    spark.createDataFrame(pairs).toDF("src", "dst")

  test("triangleCount: K4 membership, paths zero, duplicates/loops collapse") {
    val e = edges(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), // K4
      (2L, 1L), // reversed duplicate must not double-count
      (5L, 6L), (6L, 7L), // path: nodes present, zero triangles
      (8L, 8L)) // self loop: dropped, node 8 has no edge left
    val out = Graph.triangleCount(e, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 0L, 6L -> 0L, 7L -> 0L))
  }

  test("clusteringCoefficient: clique 1.0, open wedge 0.0, leaves null") {
    val e = edges(
      (1L, 2L), (1L, 3L), (2L, 3L), // triangle: coef 1.0 each
      (3L, 4L), (4L, 5L))           // path: 4 is an open wedge, 5 a leaf
    val out = Graph.clusteringCoefficient(e, "src", "dst")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 1L, Some(1.0))))
    assert(out(3L)._1 == 3L && out(3L)._3 == Some(0.333333333)) // round(2·1/(3·2), 9)
    assert(out(4L) == ((2L, 0L, Some(0.0))))
    assert(out(5L) == ((1L, 0L, None)))
  }

  private def wedges(triples: (Long, Long, Long)*) =
    spark.createDataFrame(triples).toDF("src", "dst", "w")

  test("shortestPathsInt: relaxation beats the direct edge; bounded rounds honest") {
    // 1→2 direct costs 10 (parallel 12 collapses to the min), but
    // 1→3→2 costs 3 — found only by the second round; 4→5 is
    // source-free and must not appear
    val e = wedges((1L, 2L, 10L), (1L, 2L, 12L), (1L, 3L, 1L),
      (3L, 2L, 2L), (4L, 5L, 7L))
    def run(rounds: Int) =
      Graph.shortestPathsInt(e, col("id") === 1L, rounds).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // after one round only direct edges are settled, and the round
    // improved rows — converged must be false
    assert(run(1) == Map(1L -> ((0L, false)), 2L -> ((10L, false)),
      3L -> ((1L, false))))
    // round 2 relaxes 2 down to 3; round 3 improves nothing → converged
    assert(run(3) == Map(1L -> ((0L, true)), 2L -> ((3L, true)),
      3L -> ((1L, true))))
  }

  test("shortestPathsInt: multi-source takes the nearer seed") {
    val e = wedges((1L, 2L, 5L), (6L, 2L, 1L), (4L, 5L, 7L))
    val out = Graph.shortestPathsInt(e, col("id").isin(1L, 6L), rounds = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out == Map(1L -> ((0L, true)), 6L -> ((0L, true)),
      2L -> ((1L, true))))
  }

  test("kCore: cascading peel reaches the core; converged flag honest") {
    // K4 {1,2,3,4} with a tail 4-5-6: peeling k=2 removes 6, THEN 5
    val e = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    def run(rounds: Int) = Graph.kCore(e, "src", "dst", k = 2, rounds = rounds)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    val r3 = run(3)
    assert(r3.forall(_._3), "third pass removes nothing → converged")
    assert(r3.filter(_._2).map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(r3.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    val r2 = run(2)
    assert(r2.forall(!_._3), "second pass still removed node 5 → not converged")
    assert(r2.filter(_._2).map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("personalizedPageRank: mass flows from the seed, non-reachable stays zero") {
    // 1 -> 2, 2 -> 1, 3 -> 1; seed = {1}
    val e = edges((1L, 2L), (2L, 1L), (3L, 1L))
    val r = Graph.personalizedPageRank(e, col("id") === 1, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // r0=(1,0,0); r1=(0.15, 0.85, 0); r2=(0.15+0.85·0.85, 0.85·0.15, 0)
    assert(math.abs(r(1L) - (0.15 + 0.85 * 0.85)) < 1e-12)
    assert(math.abs(r(2L) - 0.85 * 0.15) < 1e-12)
    assert(r(3L) == 0.0) // never teleported to, never linked to
  }

  test("pageRank matches the hand-computed fixpoint steps") {
    // 1 -> {2,3}, 2 -> 3, 3 -> 1
    val e = edges((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
    val r2 = Graph.pageRank(e, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // iter1: r=(1.0, .575, 1.425); iter2 below
    assert(math.abs(r2(1L) - (0.15 + 0.85 * 1.425)) < 1e-12)
    assert(math.abs(r2(2L) - 0.575) < 1e-12)
    assert(math.abs(r2(3L) - (0.15 + 0.85 * (0.5 + 0.575))) < 1e-12)
  }

  test("sink nodes receive rank but leak their own mass") {
    val e = edges((1L, 2L))
    val r = Graph.pageRank(e, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(r(1L) - 0.15) < 1e-12)          // no in-links
    assert(math.abs(r(2L) - (0.15 + 0.85 * 0.15)) < 1e-12)
  }

  test("parallel edges weight the link; zero iterations returns the prior") {
    val dup = edges((1L, 2L), (1L, 2L), (1L, 3L))
    val r = Graph.pageRank(dup, iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // node 2 gets 2/3 of node 1's rank, node 3 gets 1/3
    assert(math.abs(r(2L) - (0.15 + 0.85 * (2.0 / 3.0))) < 1e-12)
    assert(math.abs(r(3L) - (0.15 + 0.85 * (1.0 / 3.0))) < 1e-12)
    val r0 = Graph.pageRank(dup, iterations = 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r0.values.forall(_ == 1.0) && r0.size == 3)
  }

  private def prop(edges: Seq[(Long, Long)], seeds: Seq[(Long, Int)],
                   rounds: Int): Map[Long, (Int, Int)] = {
    import spark.implicits._
    Graph.propagateLabels(
        edges.toDF("id_a", "id_b"), "id_a", "id_b",
        seeds.toDF("id", "lab"), "id", "lab", rounds)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
  }

  test("hits: hand-computed one-round hubs/authorities, mutual reinforcement") {
    // 1→3, 2→3, 3→4: node 3 is the authority (two in-links), 1 and 2 are
    // equal hubs (each points at the strong authority), 4 contributes
    // nothing as a hub
    val out = Graph.hits(edges((1L, 3L), (2L, 3L), (3L, 4L)), rounds = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toList
      .sortBy(_._1)
    def r9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // round 1 by hand: a_raw = in-degree (h0 = 1) → a3 = 2/√5, a4 = 1/√5
    val a3 = r9(2.0 / math.sqrt(5.0)); val a4 = r9(1.0 / math.sqrt(5.0))
    // h_raw(1) = h_raw(2) = a3, h_raw(3) = a4; L2-normalize, round 9
    val hs = math.sqrt(
      BigDecimal(a3 * a3).setScale(15, BigDecimal.RoundingMode.HALF_UP).toDouble * 2 +
        BigDecimal(a4 * a4).setScale(15, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val h12 = r9(a3 / hs); val h3 = r9(a4 / hs)
    assert(out == List(
      (1L, h12, 0.0), (2L, h12, 0.0), (3L, h3, a3), (4L, 0.0, a4)))
    // authority mass concentrates on node 3; hubs 1 and 2 tie above 3
    assert(a3 > a4 && h12 > h3)
  }

  test("hits: edgeless normalizer pins scores to zero, more rounds stay bounded") {
    // self-loop only: canonical edges survive (3,3)… actually a self-loop
    // IS an edge here (directed multigraph) — node reinforces itself
    val out = Graph.hits(edges((7L, 7L)), rounds = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toList
    assert(out == List((7L, 1.0, 1.0))) // sole node: normalized to 1
    val multi = Graph.hits(
      edges((1L, 2L), (1L, 2L), (3L, 2L)), rounds = 3)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // parallel edges weight the hub: h(1) > h(3); all scores in [0, 1]
    assert(multi(1L)._1 > multi(3L)._1)
    assert(multi.values.forall(t => t._1 >= 0.0 && t._1 <= 1.0 &&
      t._2 >= 0.0 && t._2 <= 1.0))
  }

  test("propagateLabels: labels travel one hop per round, since records arrival") {
    // chain 1-2-3-4-5, seed at node 1
    val out = prop(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)),
      Seq(1L -> 7), rounds = 3)
    assert(out == Map(
      1L -> ((7, 0)), 2L -> ((7, 1)), 3L -> ((7, 2)), 4L -> ((7, 3))))
    // node 5 is 4 hops out — not reached in 3 rounds
  }

  test("propagateLabels: majority wins, tie breaks to smallest label, labels clamp") {
    // node 10 has neighbors: two label-3 seeds, one label-1 seed → 3
    // node 20 has one label-3 and one label-1 seed → tie → 1
    // seed 2 keeps its own label even though all ITS neighbors say 3
    val out = prop(
      Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 20L), (4L, 20L),
        (1L, 2L), (3L, 2L)),
      Seq(1L -> 3, 2L -> 1, 3L -> 3, 4L -> 1), rounds = 2)
    assert(out(10L) == ((3, 1)))
    assert(out(20L) == ((1, 1)))
    assert(out(2L) == ((1, 0)), "seed labels are clamped")
  }

  test("propagateLabels: zero rounds returns exactly the seeds") {
    val out = prop(Seq((1L, 2L), (2L, 3L)), Seq(1L -> 9), rounds = 0)
    assert(out == Map(1L -> ((9, 0))))
  }

  test("degreeAssortativity: star -1, triangle+pendant hand value, dedup") {
    // star K1,3 is perfectly disassortative
    val star = Graph.degreeAssortativity(
      edges((1L, 2L), (1L, 3L), (1L, 4L)), "src", "dst").collect()(0)
    assert(star.getLong(0) == 4L && star.getLong(1) == 3L &&
      star.getLong(2) == 6L)
    assert(star.getDouble(6) == -1.0, star.toString)
    // triangle ab-bc-ca plus pendant cd: r = -20/28, and reversed
    // duplicates + a self loop must not change anything
    val e = edges((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (2L, 1L), (3L, 2L), (5L, 5L))
    val g = Graph.degreeAssortativity(e, "src", "dst").collect()(0)
    assert(g.getLong(0) == 4L && g.getLong(1) == 4L && g.getLong(2) == 8L)
    assert((g.getLong(3), g.getLong(4), g.getLong(5)) == ((18L, 38L, 44L)))
    val want = BigDecimal(-20.0 / 28.0)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(g.getDouble(6) == want, g.toString)
    // regular graph: zero marginal variance reads NULL, not a crash
    val reg = Graph.degreeAssortativity(
      edges((1L, 2L), (3L, 4L)), "src", "dst").collect()(0)
    assert(reg.isNullAt(6), reg.toString)
  }

  test("modularity: two bridged cliques, one-cluster zero, unlabeled drop") {
    import org.apache.spark.sql.functions.col
    def labels(pairs: (Long, String)*) =
      spark.createDataFrame(pairs).toDF("id", "lab")
    // K3 {1,2,3} + K3 {4,5,6} bridged 3-4; labels = clique membership:
    // m 7, e_c 3 each, d_c 7 each -> Q = 2(84-49)/196 = 70/196
    val e = edges((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L))
    val l = labels(1L -> "a", 2L -> "a", 3L -> "a",
      4L -> "b", 5L -> "b", 6L -> "b")
    val g = Graph.modularity(e, "src", "dst", l, "id", "lab").collect()(0)
    assert((g.getLong(0), g.getLong(1), g.getLong(2)) == ((6L, 7L, 2L)))
    assert((g.getLong(3), g.getLong(4)) == ((70L, 196L)), g.toString)
    val want = BigDecimal(70.0 / 196.0)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(g.getDouble(5) == want, g.toString)
    // everything in one cluster scores exactly 0
    val one = Graph.modularity(e, "src", "dst",
      labels((1L to 6L).map(_ -> "z"): _*), "id", "lab").collect()(0)
    assert(one.getLong(3) == 0L && one.getDouble(5) == 0.0, one.toString)
    // an unlabeled endpoint drops its edges from the labeled subgraph
    val part = Graph.modularity(e, "src", "dst",
      l.where(col("id") =!= 6L), "id", "lab").collect()(0)
    assert(part.getLong(0) == 5L && part.getLong(1) == 5L, part.toString)
  }

  test("graph family: identical rows over 1 / 7 partitions, a joined+aggregated upstream, empty") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    // a 60-node directed graph (parallel edges, a self-loop, weights
    // 1..5) plus a separate 4-cycle: several components, k-cores, hops
    val base = ((0L until 60L).flatMap(i =>
        Seq((i, (i * 7 + 3) % 60, i % 5 + 1), (i, (i * 13 + 1) % 60, (i + 2) % 5 + 1))) ++
      Seq((1L, 2L, 3L), (1L, 2L, 4L), (5L, 5L, 1L),
        (100L, 101L, 2L), (101L, 102L, 1L), (102L, 103L, 2L), (103L, 100L, 1L)))
      .toDF("src", "dst", "w")
    val seeds = (0L until 104L by 6).map(i => (i, (i % 3).toInt)).toDF("id", "lab")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    val algos = Seq[(String, DataFrame => DataFrame)](
      "pageRank" -> (e => Graph.pageRank(e.select("src", "dst"), iterations = 4)),
      "personalizedPageRank" -> (e =>
        Graph.personalizedPageRank(e.select("src", "dst"), col("id") % 10 === 0, iterations = 4)),
      "shortestPathsInt" -> (e => Graph.shortestPathsInt(e, col("id") % 20 === 0, rounds = 3)),
      "propagateLabels" -> (e =>
        Graph.propagateLabels(e, "src", "dst", seeds, "id", "lab", rounds = 2)),
      "kCore" -> (e => Graph.kCore(e, "src", "dst", k = 3, rounds = 3)),
      "connectedComponents" -> (e =>
        Dedup.connectedComponents(e.select(col("src").as("id_a"), col("dst").as("id_b")))),
      "hits" -> (e => Graph.hits(e.select("src", "dst"), rounds = 2)))
    // joined + aggregated on src keeps every edge row exactly once
    def upstream(e: DataFrame): DataFrame =
      e.join(e.groupBy("src").agg(count(lit(1)).as("__n")), "src")
        .select("src", "dst", "w")
    algos.foreach { case (name, run) =>
      val want = rows(run(base))
      assert(want.nonEmpty, name)
      Seq[(String, DataFrame => DataFrame)](
        "repartition(1)" -> (_.repartition(1)),
        "repartition(7)" -> (_.repartition(7)),
        "joined+aggregated" -> upstream
      ).foreach { case (shape, f) =>
        assert(rows(run(f(base))) == want, s"$name over $shape")
      }
      // an empty edge frame: no nodes, so no rows — except the clamped
      // seeds, which label propagation returns as they came
      val empty = rows(run(base.where(lit(false))))
      if (name == "propagateLabels")
        assert(empty == rows(seeds.select(col("id"), col("lab"), lit(0))), name)
      else assert(empty.isEmpty, s"$name over an empty edge frame")
    }
  }
}
