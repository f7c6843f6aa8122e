package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search, clustering and compression over embedding columns
  * (`array<float>`). The families:
  *  - Exact scoring: brute-force cosine top-k for one query and the
  *    broadcast [[knnJoin]] for a small query batch; the exactness baseline
  *    every approximate path is checked against.
  *  - IVF (inverted file): a coarse quantizer files every vector under its
  *    nearest centroid, a query probes its `nProbe` nearest lists, and the
  *    candidates rank top-k per query (ClusterJoin's partition / probe /
  *    rank shape). [[ivfTopK]], [[knnJoinBlocked]] and its kNN-graph
  *    callers train the quantizer per call; [[ivfIndex]] / [[ivfPqIndex]]
  *    persist it with their postings for [[ivfProbeIndex]] /
  *    [[ivfPqProbeIndex]]. One set of private helpers holds the shared
  *    steps: centroid read, filing, probe column, per-query rank, exact
  *    rescore and the PQ table sum.
  *  - Blocked and LSH pairs: cosine near-duplicate pairs within a block or
  *    hyperplane-LSH bucket (hash equi-joins, never a global nested loop),
  *    and the dedup/DBSCAN steps built on them.
  *  - Clustering, PQ and PCA: exact-decimal spherical k-means, product
  *    quantization with ADC scoring, power-iteration principal components
  *    and random projection.
  *
  * All arithmetic is expression-level (native kernels or `zip_with`/
  * `aggregate`) so it stays codegen'd. Exact-decimal accumulation variants
  * exist for oracle reproducibility (floating-point sums are
  * order-sensitive; decimal sums are not).
  */
object Similarity {

  /** Dot product of two equal-length float/double arrays, accumulated in
    * DECIMAL(30,15) for order-independent exactness, returned as double.
    * Runs as the native one-pass kernel
    * ([[graft.plans.DotProductExactF]]); [[dotExactHof]] is the
    * higher-order formulation it is spec-pinned bit-identical to.
    * Literal (query-vector) operands constant-fold.
    */
  def dotExact(a: Column, b: Column): Column =
    graft.plans.HashExpressions.dotExactF(a, b)

  /** The original higher-order-function formulation of [[dotExact]] —
    * kept as the executable spec of the decimal semantics (interpreted
    * lambda per element; never use on a hot path).
    */
  private[graft] def dotExactHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") * y.cast("double")).cast(DecimalType(30, 15))),
      lit(0).cast(DecimalType(30, 15)),
      (acc, x) => (acc + x).cast(DecimalType(30, 15))
    ).cast("double")

  /** Squared L2 norm with exact-decimal accumulation, as double. */
  def norm2Exact(a: Column): Column = dotExact(a, a)

  /** Cosine similarity of two vectors with order-independent accumulation:
    * identical bit-for-bit on any engine that sums decimals exactly.
    */
  def cosineExact(a: Column, b: Column): Column =
    dotExact(a, b) / sqrt(norm2Exact(a) * norm2Exact(b))

  /** Fast path: plain double accumulation (sequential fold — deterministic
    * within Spark, used for production scoring where cross-engine
    * bit-equality doesn't matter). Generic over numeric element types;
    * for the float-array hot path prefer [[dotNative]].
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Native single-pass dot product over `array<float>` columns
    * ([[graft.plans.DotProductF]]) — same sequential double accumulation
    * as [[dot]], ~100× cheaper per pair (no interpreted per-element
    * lambda dispatch). Analysis-fails on non-float arrays.
    */
  def dotNative(a: Column, b: Column): Column =
    graft.plans.HashExpressions.dotF(a, b)

  /** Cosine over float-array columns via the native kernel — every
    * similarity-scoring path in this module is float-typed (embeddings
    * and literal query vectors), so the hot path never pays the
    * higher-order-function tax.
    */
  def cosine(a: Column, b: Column): Column =
    dotNative(a, b) / sqrt(dotNative(a, a) * dotNative(b, b))

  /** Brute-force cosine top-k against a single query vector.
    * The query vector rides along as a literal array → no shuffle, one scan.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     query: Array[Float], k: Int,
                     exact: Boolean = false): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    val cos = if (exact) cosineExact(col(vecCol), q) else cosine(col(vecCol), q)
    df.select(col(idCol), cos.as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Hyperplane-count sizing for LSH bucketing: per-bucket work is
    * quadratic, so the bucket count must track corpus size — a fixed
    * nBits that is fine at 10⁶ vectors degenerates toward all-pairs at
    * 10⁹. Targets `targetPerBucket` expected vectors per bucket
    * (nBits = ⌈log₂(n / target)⌉, clamped to [4, 30] — 2³⁰ buckets
    * suffices past 10¹¹ vectors).
    */
  def lshBitsFor(corpusSize: Long, targetPerBucket: Int = 32): Int = {
    require(corpusSize > 0 && targetPerBucket > 0)
    val buckets = math.max(1.0, corpusSize.toDouble / targetPerBucket)
    math.min(30, math.max(4, math.ceil(math.log(buckets) / math.log(2)).toInt))
  }

  /** Random-hyperplane LSH bucket key: `nBits` sign bits of dot products
    * with pseudo-random (seed-derived, deterministic) hyperplanes.
    * Vectors in the same bucket are near-duplicate candidates.
    * Backed by the native [[graft.plans.HyperplaneLshBucket]] expression —
    * hyperplane components derive from xxhash64(bit, dim) so there is no
    * stored model state to broadcast.
    */
  def lshBucket(vec: Column, dim: Int, nBits: Int, seed: Int = 42): Column =
    graft.plans.HashExpressions.lshBucketF(vec, nBits, seed.toLong)

  /** IVF-style ANN: a deterministic coarse quantizer (centroids =
    * hash-sampled corpus vectors) partitions the space; each vector is
    * assigned to its nearest centroid by one plan-local `ArgMaxDot` map
    * (no shuffle), and a query probes only the `nProbe` closest centroid
    * buckets. The inverted lists are exactly what an IVF index stores —
    * here they are just a bucketed DataFrame, so at 100 TB the bucket
    * column doubles as a partition/bucketing key for the stored index.
    */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
                nCentroids: Int = 16,
                kmeansIters: Int = 0): (DataFrame, Array[Array[Double]]) = {
    // Null vectors can't train centroids, can't be assigned, and can't
    // be anyone's neighbor — drop them here so every ANN entry point
    // built on the quantizer (ivfTopK, knnJoinBlocked, knnGraph,
    // semanticDedupClustered) is total over crawl-shaped data instead of
    // dying in the centroid sample collect
    val nonNull = df.where(col(vecCol).isNotNull)
    // Deterministic coarse quantizer: take the nCentroids vectors with the
    // smallest xxhash64(id) — a seeded uniform sample; optionally refined
    // by spherical-Lloyd rounds (see refineCentroids) for tighter
    // inverted lists and better probe-limited recall.
    val sampled = nonNull
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("h", xxhash64(col("id")))
      .orderBy("h").limit(nCentroids)
      .select("v").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val refined =
      if (kmeansIters > 0 && sampled.nonEmpty)
        refineCentroids(nonNull, vecCol, sampled, kmeansIters)
      else sampled
    // an empty or all-null corpus has no centroids: every bucket is null
    // (kmeansClusterExpr's convention) and every search answers empty
    val bucket =
      if (refined.isEmpty) lit(null).cast("int")
      else graft.plans.HashExpressions.argMaxDot(col(vecCol), refined.flatten,
        refined.head.length)
    (nonNull.withColumn("ivf_bucket", bucket), refined)
  }

  /** Spherical-Lloyd refinement of the coarse quantizer: each round
    * assigns every vector to its max-dot centroid (pure ArgMaxDot map, no
    * shuffle) and re-centers each bucket at the normalized per-dimension
    * mean. The shuffle per round is the partial-aggregated
    * (bucket, dim) → mean grid — nCentroids × dim doubles after map-side
    * combine, independent of corpus size — and centroids remain plan-time
    * literals, so this trains a real IVF quantizer with 100 TB-shaped
    * data movement. Deterministic: seeds are the hash-sample, no RNG.
    * Empty buckets keep their previous centroid.
    */
  def refineCentroids(df: DataFrame, vecCol: String,
                      seeds: Array[Array[Double]], iters: Int): Array[Array[Double]] = {
    val dim = seeds.head.length
    def unit(c: Array[Double]): Array[Double] = {
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) c else c.map(_ / n)
    }
    // Spherical k-means proper: assignment against UNIT centroids (argmax
    // dot against unit vectors == argmax cosine) and re-centering on the
    // normalized mean of NORMALIZED members — raw means would let a few
    // large-norm vectors drag the centroid and break the monotonicity of
    // the cosine objective.
    var cents = seeds.map(unit)
    val nrm = sqrt(graft.plans.HashExpressions.dotF(col(vecCol), col(vecCol)))
    for (_ <- 1 to iters) {
      // norm pre-projected BELOW the explode: an expression inlined in a
      // generator select is re-evaluated per OUTPUT row — dim× the dot
      // kernel per vector (the kmeansTrain lesson)
      val means = df
        .withColumn("__b", graft.plans.HashExpressions.argMaxDot(col(vecCol), cents.flatten, dim))
        .withColumn("__n", nrm)
        .select(col("__b"), col("__n").as("n"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy("__b", "pos").agg(avg(col("x") / col("n")).as("m"))
        .collect()
      val next = cents.map(_.clone)
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      cents = next.map(unit)
    }
    cents
  }

  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Array[Float], k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              kmeansIters: Int = 0): DataFrame = {
    val (assigned, centroids) = ivfAssign(df, idCol, vecCol, nCentroids, kmeansIters)
    val q = array(query.map(v => lit(v)): _*)
    assigned.where(col("ivf_bucket").isin(nearestCentroids(centroids, query, nProbe): _*))
      .select(col(idCol), cosine(col(vecCol), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Driver-side probe choice for one query vector: the `nProbe` centroid
    * ids by double dot with the query, best first.
    */
  private[graft] def nearestCentroids(cents: Array[Array[Double]], query: Array[Float],
                               nProbe: Int): Array[Int] = {
    val qd = query.map(_.toDouble)
    cents.zipWithIndex
      .map { case (c, i) => (i, c.zip(qd).map { case (a, b) => a * b }.sum) }
      .sortBy(-_._2).take(nProbe).map(_._1)
  }

  /** Build the PERSISTABLE state of a dense-vector IVF index — the
    * [[graft.functions.Corpus.tfidfIndex]] build-once/probe-incrementally
    * convention applied to embeddings: `(centroids, postings)` where
    * `centroids` = (cluster, centroid array<double>) is the FROZEN
    * coarse quantizer (deterministic spherical k-means, [[kmeansTrain]]:
    * smallest-id seeds, exact-decimal assignment, round-9 unit centroids
    * — every value a short decimal literal any engine reproduces) and
    * `postings` = (id, cluster, vec, n2) are the inverted lists: each
    * corpus vector filed under its exact-decimal-argmax cluster with its
    * squared norm precomputed. Write both to parquet (partitioning the
    * postings by `cluster` makes probe-time partition pruning free) and
    * [[ivfProbeIndex]] tomorrow's queries without touching the indexed
    * corpus again — the artifact shape every production ANN deployment
    * stores, previously missing from this family (each ANN query
    * retrained its quantizer per run).
    *
    * Scale shape: training is [[kmeansTrain]] (map-only assignment +
    * (k × dim)-grid aggregations, driver state = the k×dim centroid
    * table); filing is ONE map-only pass (k·dim literal dots inside the
    * scan projection, zero shuffle). Null and zero-norm vectors are
    * dropped — they have no direction, can't be filed, and can't be
    * anyone's neighbor.
    */
  def ivfIndex(df: DataFrame, idCol: String, vecCol: String,
               nCentroids: Int = 16, rounds: Int = 2): (DataFrame, DataFrame) = {
    require(nCentroids >= 1 && rounds >= 0)
    val spark = df.sparkSession
    import spark.implicits._
    val cents = kmeansTrain(df, idCol, vecCol, nCentroids, rounds)
    val centroids = spark
      .createDataset(cents.toIndexedSeq.zipWithIndex.map {
        case (c, i) => (i, c.toSeq)
      })
      .toDF("cluster", "centroid")
    (centroids, fileVectors(df, idCol, vecCol, cents))
  }

  /** Postings rows `(id, cluster, vec, n2)`: each non-null, non-zero vector
    * filed under its exact-decimal-argmax cluster with its squared norm.
    */
  private def fileVectors(df: DataFrame, idCol: String, vecCol: String,
                          cents: Array[Array[Double]]): DataFrame = {
    val v = col(vecCol)
    df.where(v.isNotNull && norm2Exact(v) > 0.0)
      .select(col(idCol).cast("long").as("id"),
        kmeansClusterExpr(v, cents).as("cluster"),
        v.as("vec"), norm2Exact(v).as("n2"))
  }

  /** A stored centroid table `(cluster, centroid)` as driver literals,
    * ordered by cluster id.
    */
  private def readCentroids(centroids: DataFrame): Array[Array[Double]] = {
    val cents = centroids
      .select(col("cluster").cast("int"), col("centroid"))
      .orderBy("cluster").collect()
      .map(_.getSeq[Double](1).toArray)
    require(cents.nonEmpty, "empty centroid table")
    cents
  }

  /** Per-row probe list: the `nProbe` clusters with the largest
    * `dot(q, centroid)`, as an `array<int>`. `elem` makes the centroid
    * literals (double for the exact index probes, float for the native
    * kernel). The (−dot, cluster) structs sort ascending = dot desc, ties
    * to the smaller cluster id (the oracle's ORDER BY dot DESC, c); nC dots
    * and one nC-struct sort per row, all inside codegen.
    */
  private def probeColumn(q: Column, cents: Array[Array[Double]], nProbe: Int,
                          dot: (Column, Column) => Column,
                          elem: Double => Column): Column =
    if (cents.isEmpty) typedLit(Array.empty[Int]) // no centroids → no probes
    else {
      val scored = array(cents.indices.map(i =>
        struct((-dot(q, array(cents(i).map(elem): _*))).as("negd"),
          lit(i).as("c"))): _*)
      transform(slice(array_sort(scored), 1, math.min(nProbe, cents.length)),
        p => p.getField("c"))
    }

  /** Rows ranked 1..k per query (`__qid`) by (`score` desc, `id`), the
    * rank as a long `rank` column. The filter sits directly on the window
    * output, so InferWindowGroupLimit plans partial (pre-exchange) and
    * final top-k heaps instead of sorting every scored row.
    */
  private def rankPerQuery(df: DataFrame, k: Int, score: String,
                           id: String): DataFrame =
    df.withColumn("rank", row_number().over(Window.partitionBy(col("__qid"))
        .orderBy(col(score).desc, col(id))).cast("long"))
      .where(col("rank") <= k)

  /** A kNN answer `(query_id, neighbor_id, score, rank)`: the top k per
    * query of the scored `(__qid, id, score)` rows.
    */
  private def neighbors(scored: DataFrame, k: Int, score: String,
                        id: String): DataFrame =
    rankPerQuery(scored, k, score, id)
      .select(col("__qid").as("query_id"), col(id).as("neighbor_id"),
        col(score), col("rank"))

  /** Exact rescore of `(__qid, __cid)` candidates: join back to the corpus
    * `(__cid, __cv, …)` and query `(__qid, __qv, …)` sides, keep `cols`
    * and score the round-9 exact-decimal cosine `cos`. The decimal norms
    * are hoisted per ROW (one projection on each side), not per candidate
    * pair, so the pair stage pays one exact dot; sqrt(cn2·qn2) keeps
    * cosineExact's evaluation order, so the values are bit-identical to it.
    */
  private def exactRescore(cand: DataFrame, c: DataFrame, q: DataFrame,
                           cols: Seq[String]): DataFrame =
    cand.join(c.withColumn("__cn2", norm2Exact(col("__cv"))), "__cid")
      .join(q.withColumn("__qn2", norm2Exact(col("__qv"))), "__qid")
      .select(cols.map(col) :+ round(dotExact(col("__cv"), col("__qv")) /
        sqrt(col("__cn2") * col("__qn2")), 9).as("cos"): _*)

  /** Σⱼ tab(j)(code_j) over the `pq_codes` column: an m×k table of
    * per-subspace code terms summed per row (ADC dot or norm).
    */
  private def tabSum(tab: Seq[Seq[Double]]): Column =
    aggregate(zip_with(col("pq_codes"), typedLit(tab),
        (c, t) => element_at(t, c + 1)),
      lit(0.0), (acc, x) => acc + x)

  /** Incremental [[ivfIndex]] maintenance: file NEW vectors into an
    * existing snapshot's FROZEN quantizer — no retraining, no contact
    * with the stored postings. One map pass over the arrival batch (the
    * same exact-decimal assignment as the build, so an appended vector
    * lands in exactly the cluster a from-scratch rebuild with these
    * centroids would give it); append the returned rows to the stored
    * postings (cluster-partitioned parquet appends touch only the
    * arrivals' partitions). The incremental-dedup convention
    * (fingerprintIndex → dedupAgainstIndex) applied to index
    * maintenance: yesterday's 100 TB index never moves, today's batch
    * never trains.
    *
    * Periodically rebuild when drift makes the frozen centroids a poor
    * quantizer for new arrivals (probe-limited recall decays, not
    * correctness — assignments stay exact against whatever the
    * centroids ARE).
    */
  def ivfIndexAppend(centroids: DataFrame, df: DataFrame,
                     idCol: String, vecCol: String): DataFrame =
    fileVectors(df, idCol, vecCol, readCentroids(centroids))

  /** Probe an [[ivfIndex]] snapshot with a query batch: top-k indexed
    * vectors per query by exact cosine, scored ONLY inside each query's
    * `nProbe` nearest inverted lists — the IVF recall/cost trade
    * (`nProbe = nCentroids` is exhaustive and exact).
    *
    * Shuffle profile: the centroid table collects driver-side (k × dim —
    * the codebook-collect contract) and rides as plan literals, so probe
    * ranking is a MAP over the query batch (k exact dots + one k-struct
    * sort per query, corpus-independent); candidate generation is the
    * `cluster` hash equi-join with the query side BROADCAST (the small
    * arrival batch — the 100 TB posting side never re-shuffles, and a
    * cluster-partitioned parquet index prunes unprobed lists at the
    * scan); the per-query top-k is a rank-truncated window
    * (WindowGroupLimit partial+final heaps).
    *
    * Determinism: probe selection ranks exact-decimal dots against the
    * round-9 centroid literals (ties to the smaller cluster id) and
    * pair scores are exact-decimal cosines rounded 9, so sub-exhaustive
    * probing — WHICH lists are scored and what comes back — is
    * bit-reproducible cross-engine: the DuckDB oracle replays the whole
    * frozen-centroid chain, not just an exhaustive special case.
    *
    * Queries with null/zero vectors have no direction and are absent.
    *
    * @return (query_id, neighbor_id, cos, rank), rank 1..k per query by
    *         (cos desc, neighbor_id); self-pairs dropped when
    *         `excludeSelf`
    */
  def ivfProbeIndex(queries: DataFrame, qIdCol: String, qVecCol: String,
                    centroids: DataFrame, postings: DataFrame,
                    k: Int, nProbe: Int,
                    excludeSelf: Boolean = false): DataFrame = {
    require(k >= 1 && nProbe >= 1)
    val qv = col(qVecCol)
    val probes = probeColumn(qv, readCentroids(centroids), nProbe,
      dotExact, lit(_))
    val q = queries.where(qv.isNotNull && norm2Exact(qv) > 0.0)
      .select(col(qIdCol).cast("long").as("__qid"), qv.as("__qv"),
        norm2Exact(qv).as("__qn2"), explode(probes).as("cluster"))
    val scored = probedPostings(postings, q, excludeSelf)
    // exact cosine with the per-side norms hoisted: n2 is stored in the
    // index, __qn2 projected once per query — the pair stage pays one
    // exact dot. sqrt(n2·qn2) keeps cosineExact's evaluation order, so
    // values are bit-identical to the one-shot formulation.
    neighbors(scored.select(col("__qid"), col("id"),
        round(dotExact(col("vec"), col("__qv")) /
          sqrt(col("n2") * col("__qn2")), 9).as("cos")),
      k, "cos", "id")
  }

  /** Candidate generation of the index probes: the postings' `cluster`
    * equi-join with the BROADCAST query side (the posting side never
    * re-shuffles), self-pairs dropped when `excludeSelf`.
    */
  private def probedPostings(postings: DataFrame, q: DataFrame,
                             excludeSelf: Boolean): DataFrame = {
    val scored = postings.join(broadcast(q), "cluster")
    if (excludeSelf) scored.where(col("id") =!= col("__qid")) else scored
  }

  /** The PQ-compressed persisted index — [[ivfIndex]] with the raw
    * vectors replaced by product-quantization codes: `(centroids,
    * codebooks, postings)` where `codebooks` = (j, code, sub
    * array<double>) are the m per-subspace codebooks and `postings` =
    * (id, cluster, pq_codes array<int>, recon_n2) carry m SMALL INTS
    * per vector plus the reconstruction's squared norm (precomputed at
    * build so probes never reconstruct for normalization). This is the
    * memory-bounded serving artifact — dim floats collapse to m codes —
    * at the cost of approximate (ADC) scores; keep [[ivfIndex]] when
    * exact rescoring matters more than index size, or rescore the ADC
    * top-k against the corpus afterwards (the [[ivfPqTopK]] cascade).
    */
  def ivfPqIndex(df: DataFrame, idCol: String, vecCol: String,
                 nCentroids: Int = 16, rounds: Int = 2,
                 m: Int = 8, codebookK: Int = 256,
                 lloydIters: Int = 1): (DataFrame, DataFrame, DataFrame) = {
    require(m >= 1 && codebookK >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    val (centroids, filed) = ivfIndex(df, idCol, vecCol, nCentroids, rounds)
    val (encoded, books) = productQuantize(filed, "id", "vec", m, codebookK,
      lloydIters)
    val codebooks = spark
      .createDataset(for {
        j <- books.indices
        c <- books(j).indices
      } yield (j, c, books(j)(c).toSeq))
      .toDF("j", "code", "sub")
    // ‖v̂‖² from the codes alone: Σⱼ ‖bookⱼ[codeⱼ]‖² — per-subspace code
    // norms ship as an m×k literal table
    val postings = encoded.select(col("id"), col("cluster"),
      col("pq_codes"), tabSum(codeNorms(books)).as("recon_n2"))
    (centroids, codebooks, postings)
  }

  /** Per-subspace squared norms ‖bookⱼ[c]‖² as an m×k table. */
  private def codeNorms(books: Array[Array[Array[Double]]]): Seq[Seq[Double]] =
    books.toIndexedSeq.map(book => book.toIndexedSeq.map(c => c.map(x => x * x).sum))

  /** Probe an [[ivfPqIndex]] snapshot with a query batch: ADC-ranked
    * top-k per query over the `nProbe` nearest inverted lists — no
    * vector is ever touched (the index has none); each candidate costs
    * m codebook lookups and one cached norm.
    *
    * Shuffle profile: centroids AND codebooks collect driver-side
    * (k×dim + m·k·(dim/m) doubles — the codebook contract) and ride as
    * plan literals; the query batch broadcasts into the cluster
    * equi-join (the posting side never re-shuffles; a cluster-
    * partitioned parquet index prunes unprobed lists at the scan);
    * per-query top-k is a rank-truncated window.
    *
    * `adc_cos` = ⟨q, v̂⟩ / (‖v̂‖·‖q‖) — approximate by construction
    * (quantization error), so this is spec-verified rather than
    * DuckDB-oracled; rescore survivors against the corpus when exact
    * ranks matter.
    *
    * @return (query_id, neighbor_id, adc_cos, rank), rank 1..k per
    *         query by (adc_cos desc, neighbor_id)
    */
  def ivfPqProbeIndex(queries: DataFrame, qIdCol: String, qVecCol: String,
                      centroids: DataFrame, codebooks: DataFrame,
                      postings: DataFrame, k: Int, nProbe: Int,
                      excludeSelf: Boolean = false): DataFrame = {
    require(k >= 1 && nProbe >= 1)
    val books: Array[Array[Array[Double]]] = codebooks
      .select(col("j").cast("int"), col("code").cast("int"), col("sub"))
      .collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray).toArray)
      .toArray
    val m = books.length
    val d = books(0)(0).length
    val qv = col(qVecCol)
    val probes = probeColumn(qv, readCentroids(centroids), nProbe,
      dotExact, lit(_))
    // per-query ADC numerator: Σⱼ ⟨q_j, book_j[code_j]⟩ — the codebooks
    // ride as float literals so each term is one native dot
    def bookF(j: Int): Column = array(books(j).map(c =>
      array(c.map(x => lit(x.toFloat)): _*)): _*)
    val q = queries.where(qv.isNotNull && norm2Exact(qv) > 0.0)
      .select(col(qIdCol).cast("long").as("__qid"), qv.as("__qv"),
        dotNative(qv, qv).as("__qn2"), explode(probes).as("cluster"))
    val adcDot = (0 until m).map(j =>
      dotNative(slice(col("__qv"), j * d + 1, d),
        element_at(bookF(j), element_at(col("pq_codes"), j + 1) + 1)))
      .reduce(_ + _)
    neighbors(probedPostings(postings, q, excludeSelf).select(col("__qid"), col("id"),
        (adcDot / (sqrt(col("recon_n2")) * sqrt(col("__qn2")))).as("adc_cos")),
      k, "adc_cos", "id")
  }

  /** Batch k-NN join: for EVERY left (query) row, the top-k right
    * (corpus) rows by cosine — the all-queries generalization of
    * [[bruteForceTopK]] (one vector answers one query; curation pipelines
    * ask for neighbors of a whole table: retrieval eval, hard-negative
    * mining, cross-corpus near-dup scoring).
    *
    * Scale shape: the query side broadcasts (queries ≪ corpus); the
    * corpus scans ONCE, scoring every query per row with the native
    * kernel; per-query candidates reduce through a bounded top-k′
    * Aggregator (partial/final state ≤ k′ (score, id) pairs per query —
    * the exchange carries queries·k′ entries per map partition, never
    * N·queries scored pairs); the q·k′ survivors re-join the corpus for
    * the exact-decimal rescore and the final exact-ranked top-k — the
    * two-phase discipline of x_cosine_topk, so output values and ranks
    * are cross-engine bit-reproducible.
    *
    * Output: (query_id, neighbor_id, cos, rank), rank 1..k per query by
    * (cos desc, neighbor_id). Ids are cast to long (same contract as
    * [[graft.functions.Dedup.connectedComponents]]).
    *
    * @param margin extra native-ranked candidates kept per query before
    *   the exact rescore; double-vs-decimal divergence is ~1e-12, so the
    *   default is far beyond safe
    */
  def knnJoin(queries: DataFrame, corpus: DataFrame,
              qIdCol: String, qVecCol: String,
              cIdCol: String, cVecCol: String,
              k: Int, margin: Int = 40,
              excludeSelf: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(margin >= 0, s"margin must be non-negative: $margin")
    val kPrime = k + margin
    val spark = queries.sparkSession
    import spark.implicits._
    // null vectors have no neighbors and are nobody's neighbor — drop
    // them up front (a null __s would otherwise violate the typed
    // aggregator's non-null field contract and kill the job)
    val q = queries.where(col(qVecCol).isNotNull)
      .select(col(qIdCol).cast("long").as("__qid"), col(qVecCol).as("__qv"))
    val c = corpus.where(col(cVecCol).isNotNull)
      .select(col(cIdCol).cast("long").as("__cid"), col(cVecCol).as("__cv"))
    val scored0 = c.crossJoin(broadcast(q))
      .select(col("__qid"), col("__cid"), cosine(col("__cv"), col("__qv")).as("__s"))
    // excludeSelf: drop identity pairs BEFORE ranking (the kNN-graph
    // convention — a row is trivially its own nearest neighbor)
    val scored =
      if (excludeSelf) scored0.where(col("__qid") =!= col("__cid")) else scored0
    val cand = scored.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._3, t._2))
      .agg(topKByScore(kPrime).toColumn.name("cands"))
      .toDF("__qid", "cands")
      .select(col("__qid"), explode(col("cands")).as("c"))
      .select(col("__qid"), col("c._2").as("__cid"))
    neighbors(broadcast(cand)    // q·k′ rows — hinted, so the corpus-side
        .join(c, "__cid")        // rescore join can never re-shuffle N rows
        .join(broadcast(q), "__qid")
        .select(col("__qid"), col("__cid"),
          round(cosineExact(col("__cv"), col("__qv")), 9).as("cos")),
      k, "cos", "__cid")
  }

  /** Blocked batch k-NN join — [[knnJoin]] when the query side does NOT
    * broadcast (the self-kNN-graph case: neighbors of *every* corpus row,
    * the workhorse of embedding-based dedup/clustering at scale, where
    * queries = corpus and a broadcast would score N² pairs).
    *
    * Composition of the repo's two bucketed shapes: [[ivfAssign]]'s
    * coarse quantizer gives every corpus row a bucket (pure `ArgMaxDot`
    * map, zero shuffles), every query row maps to its `nProbe` nearest
    * centroid buckets (map-only: centroid dots via the native kernel,
    * `array_sort` over nCentroids structs, explode — no driver state but
    * the nCentroids×dim centroid literals), and candidate generation is
    * the (bucket [, salt]) hash EQUI-join of [[cosineNearDupBlocked]] —
    * never an all-pairs nested loop. Per-query candidates reduce through
    * the same bounded top-k′ Aggregator as [[knnJoin]] (exchange carries
    * q·k′ (score, id) entries, never vectors, never all scored pairs);
    * the survivors exact-rescore through plain id equi-joins back to the
    * two tables (no broadcast hint — AQE broadcasts small sides, shuffle
    * hash joins otherwise).
    *
    * Recall < 1 by construction (only probed buckets are scored) — the
    * IVF trade. Raise `nProbe` toward nCentroids for recall 1; size
    * `nCentroids` ≈ corpus/targetBucketRows at scale so per-bucket work
    * stays bounded, and use `saltBuckets` > 1 when few huge buckets
    * under-parallelize. Query-side probe ranking computes centroid dots
    * in float (the native kernel's element type); the corpus-side
    * assignment ranks in double — a near-tie between two centroids can
    * probe a different-but-equally-near list, which only shifts WHICH
    * near-candidates are seen, bounded by the same recall trade.
    *
    * Output: (query_id, neighbor_id, cos, rank), rank 1..k per query by
    * (cos desc, neighbor_id), cos = exact-decimal cosine rounded to 9
    * places (cross-engine bit-reproducible).
    */
  def knnJoinBlocked(queries: DataFrame, corpus: DataFrame,
                     qIdCol: String, qVecCol: String,
                     cIdCol: String, cVecCol: String,
                     k: Int,
                     nCentroids: Int = 16, nProbe: Int = 4,
                     kmeansIters: Int = 0,
                     margin: Int = 40, saltBuckets: Int = 1,
                     excludeSelf: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(nProbe >= 1, s"nProbe must be positive: $nProbe")
    require(margin >= 0 && saltBuckets >= 1)
    val (assignedC, cents) = ivfAssign(
      corpus.select(col(cIdCol), col(cVecCol)), cIdCol, cVecCol,
      nCentroids, kmeansIters)
    val cBase = assignedC.select(col(cIdCol).cast("long").as("__cid"),
      col(cVecCol).as("__cv"), col("ivf_bucket").as("__b"))
    // Spread BOTH join inputs when their planned parallelism is below the
    // cluster's: the planner broadcasts whichever side it estimates
    // smaller (cached vs uncached stats flip the choice), and the OTHER
    // side then streams through the pair-scoring stage with the scan's
    // partition count — a single task for a single input file. Round-
    // robin spreading either side is value-neutral (candidate top-k' is
    // by value); at real scale both scans have ≫ cores partitions and
    // neither branch fires.
    val c = graft.GraftSession.spreadScan(cBase)
    // per-query probe buckets by native float dots (corpus-size independent)
    val probes = probeColumn(col("__qv"), cents, nProbe,
      dotNative, v => lit(v.toFloat))
    // null query vectors have no neighbors — drop them (ivfAssign already
    // dropped null corpus vectors); a null __qv would otherwise probe
    // garbage buckets and emit null-score "neighbors"
    val qBase = queries.where(col(qVecCol).isNotNull)
      .select(col(qIdCol).cast("long").as("__qid"), col(qVecCol).as("__qv"))
    // the query side spreads BY __qid: when it is the streamed side, each
    // query's scored pairs then co-locate, so the partial top-k' heap
    // reduces to k' rows per query total (not per input partition) and
    // the candidate window's exchange is already satisfied
    val qSpread = graft.GraftSession.spreadScan(qBase, col("__qid"))
    // Pruning score with per-VECTOR squared norms hoisted into each
    // side's projection: the per-pair work is ONE native dot, not three
    // (the two norms are per corpus/query row). Identical doubles —
    // same ops, same order — so the candidate ranking is unchanged.
    val q = qSpread
      .withColumn("__qn2", dotNative(col("__qv"), col("__qv")))
      .withColumn("__b", explode(probes))
    val cN = c.withColumn("__cn2", dotNative(col("__cv"), col("__cv")))
    // candidate generation: hash equi-join on (bucket [, salt]) — a
    // corpus row sits in exactly one bucket and a query's probes are
    // distinct, so no (q, c) pair ever matches twice
    val (lhs, rhs) =
      if (saltBuckets == 1) (cN, q)
      else (cN.withColumn("__salt", pmod(col("__cid"), lit(saltBuckets))),
        q.withColumn("__salt", explode(array((0 until saltBuckets).map(lit(_)): _*))))
    val joinKeys = if (saltBuckets == 1) Seq("__b") else Seq("__b", "__salt")
    val scored0 = lhs.join(rhs, joinKeys)
      .select(col("__qid"), col("__cid"),
        (dotNative(col("__cv"), col("__qv")) /
          sqrt(col("__cn2") * col("__qn2"))).as("__s"))
    val scored =
      if (excludeSelf) scored0.where(col("__qid") =!= col("__cid")) else scored0
    // Candidate selection: row_number + `rank <= k'` filter, which
    // InferWindowGroupLimit compiles to partial (pre-exchange) + final
    // top-k' heaps — the exchange carries at most k' rows per (query,
    // input-partition), same bound as [[knnJoin]]'s Aggregator, but the
    // whole stage stays in Tungsten rows/codegen. The Aggregator path
    // pays an encoder round-trip per scored pair, which dominates when
    // the probe fan-out is large (self-kNN: corpus × corpus pairs).
    val cand = rankPerQuery(scored, k + margin, "__s", "__cid")
      .select(col("__qid"), col("__cid"))
    val cFull = corpus.select(col(cIdCol).cast("long").as("__cid"), col(cVecCol).as("__cv"))
    val qFull = queries.select(col(qIdCol).cast("long").as("__qid"), col(qVecCol).as("__qv"))
    neighbors(exactRescore(cand, cFull, qFull, Seq("__qid", "__cid")),
      k, "cos", "__cid")
  }

  /** Self-kNN graph: top-k neighbors of EVERY corpus row (queries =
    * corpus, self excluded) through the blocked join — the embedding-
    * clustering workhorse. Output (query_id, neighbor_id, cos, rank).
    */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int,
               nCentroids: Int = 16, nProbe: Int = 4,
               kmeansIters: Int = 0, margin: Int = 40,
               saltBuckets: Int = 1): DataFrame =
    knnJoinBlocked(df, df, idCol, vecCol, idCol, vecCol, k,
      nCentroids, nProbe, kmeansIters, margin, saltBuckets,
      excludeSelf = true)

  /** Mutual-kNN edges: pairs where EACH side ranks in the other's top-k —
    * the symmetric graph that density-based/agglomerative clustering and
    * graph-dedup build on (one-directional kNN edges connect dense hubs
    * to everything; mutuality prunes those). Output (id_a, id_b, cos)
    * with id_a < id_b.
    *
    * Scale shape: the [[knnGraph]] edge list is k·N rows (never N²); the
    * mutuality check is one groupBy over normalized pairs — an edge
    * appears once per direction, so `count = 2` ⇔ mutual. cos is the
    * exact-decimal cosine, identical for both directions, so `min`
    * under the group is a no-op that keeps the plan aggregate-only.
    */
  def mutualKnnEdges(df: DataFrame, idCol: String, vecCol: String, k: Int,
                     nCentroids: Int = 16, nProbe: Int = 4,
                     kmeansIters: Int = 0, margin: Int = 40,
                     saltBuckets: Int = 1): DataFrame =
    knnGraph(df, idCol, vecCol, k, nCentroids, nProbe, kmeansIters,
        margin, saltBuckets)
      .select(least(col("query_id"), col("neighbor_id")).as("id_a"),
        greatest(col("query_id"), col("neighbor_id")).as("id_b"),
        col("cos"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("cos")).as("cos"), count(lit(1)).as("__n"))
      .where(col("__n") === 2)
      .drop("__n")

  /** Bounded top-k′ by (score desc, id asc) as a mergeable Catalyst
    * [[org.apache.spark.sql.expressions.Aggregator]] — the partial/final
    * state that keeps [[knnJoin]]'s shuffle candidate-sized. The buffer
    * is trimmed lazily (only past 2k′ entries) so per-row cost stays
    * amortized O(1) sorts.
    */
  private def topKByScore(kPrime: Int)
      : org.apache.spark.sql.expressions.Aggregator[
        (Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] =
    new org.apache.spark.sql.expressions.Aggregator[
        (Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
      private def trim(s: Seq[(Double, Long)]): Seq[(Double, Long)] =
        s.sortBy(t => (-t._1, t._2)).take(kPrime)
      override def zero: Seq[(Double, Long)] = Vector.empty
      override def reduce(b: Seq[(Double, Long)], x: (Double, Long)): Seq[(Double, Long)] = {
        val appended = b :+ x
        if (appended.length >= 2 * kPrime) trim(appended) else appended
      }
      override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
        trim(a ++ b)
      override def finish(b: Seq[(Double, Long)]): Seq[(Double, Long)] = trim(b)
      override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
      override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    }

  /** OR-amplified hyperplane-LSH candidate pairs: two vectors are
    * candidates when they share a bucket in ANY of `nTables` independent
    * hyperplane tables (seeds `seed`, `seed+1`, …). One table misses a
    * pair at angle θ with probability 1 − (1 − θ/π)^nBits; OR-ing L
    * tables drives the miss to (that)^L — the banding amplification of
    * MinHash-LSH, applied to hyperplane signatures. Per-table candidate
    * cost is unchanged and the join keys stay (table, bucket) — vectors
    * never enter the shuffle. Output (id_a, id_b), id_a < id_b, distinct.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, nBits: Int, nTables: Int,
                        seed: Int = 42): DataFrame = {
    require(nTables >= 1, s"nTables must be >= 1: $nTables")
    val tb = df.select(col(idCol).as("id"),
      explode(array((0 until nTables).map { tIx =>
        struct(lit(tIx).as("t"),
          lshBucket(col(vecCol), dim, nBits, seed + tIx).as("b"))
      }: _*)).as("tb"))
    tb.as("a").join(tb.as("b"),
        col("a.tb") === col("b.tb") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Embedding-cosine near-dup pairs within a *blocking column* — the
    * exact-recall counterpart of [[lshCandidatePairs]]' hyperplane buckets:
    * recall is 1 within a block by construction, and the plan is a hash
    * equi-join on the block
    * key (never an all-pairs nested loop). At 100 TB the block key is a
    * coarse-quantizer bucket (e.g. [[ivfAssign]]'s `ivf_bucket`, or a
    * shard/domain column); per-block pair cost is quadratic, so block
    * granularity must grow with the corpus — same trade as every
    * blocked-dedup scheme.
    *
    * Output: (id_a, id_b, cos) with id_a < id_b, cos = exact-decimal
    * cosine rounded to 9 places (cross-engine reproducible), cos ≥ minCos.
    *
    * @param saltBuckets pair-generation parallelism *within* a block.
    *   A plain block equi-join concentrates each block's quadratic work
    *   in one task — fine when blocks ≫ cores, a straggler when a few
    *   huge blocks dominate. With S > 1 the left side takes salt
    *   s = id mod S, the right side replicates S×, and the join key
    *   becomes (block, s): identical output (spec-proven), S× the tasks
    *   per block. Choose S ≈ cores / blocks when block count is small.
    */
  def cosineNearDupBlocked(df: DataFrame, idCol: String, vecCol: String,
                           blockCol: String, minCos: Double,
                           saltBuckets: Int = 1): DataFrame = {
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    // Norms are computed ONCE per vector before the pair join (per-pair
    // work is the dot product only), and the pruning dot is the native
    // single-pass DotProductF kernel — the higher-order zip_with/aggregate
    // formulation runs interpreted and costs ~100× more per candidate.
    val dotN = graft.plans.HashExpressions.dotF _
    val b = df.select(col(idCol).as("id"), col(vecCol).as("v"), col(blockCol).as("blk"))
      .withColumn("nrm", sqrt(dotN(col("v"), col("v"))))
    val (lhs, rhs) =
      if (saltBuckets == 1) (b.as("a"), b.as("b"))
      else (b.withColumn("salt", pmod(col("id"), lit(saltBuckets))).as("a"),
        b.withColumn("salt",
          explode(array((0 until saltBuckets).map(lit(_)): _*))).as("b"))
    val joinCond =
      if (saltBuckets == 1)
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id")
      else
        col("a.blk") === col("b.blk") && col("a.salt") === col("b.salt") &&
          col("a.id") < col("b.id")
    lhs.join(rhs, joinCond)
      // Two-phase scoring: the cheap double cosine prunes the quadratic
      // candidate set (loosened by a margin far above double-vs-decimal
      // divergence, ~1e-12), then the ~10× costlier order-independent
      // exact-decimal cosine scores only the survivors — so output values
      // stay cross-engine bit-reproducible without paying decimal
      // arithmetic on every candidate pair.
      .where(dotN(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))
        >= minCos - 1e-6)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(cosineExact(col("a.v"), col("b.v")), 9).as("cos"))
      .where(col("cos") >= minCos)
  }

  /** Semantic (embedding-cosine) deduplication — the SemDeDup recipe
    * (Abbas et al. 2023, arXiv:2303.09540): find near-duplicate pairs at
    * `cos ≥ minCos` within blocks, cluster them transitively, and keep
    * only each cluster's canonical (min-id) member plus every unpaired
    * row. This is the embedding-space analogue of the MinHash dedup
    * chain (`minhashNearDupPairs` → `dropNearDuplicates`) — same final
    * step, different candidate generator.
    *
    * `blockCol` bounds the quadratic pair search (recall is exact within
    * a block): a shard/domain/label column here, or a learned k-means
    * bucket via [[semanticDedupClustered]] — the paper's formulation.
    * Scale shape: pair generation is [[cosineNearDupBlocked]]'s salted
    * equi-join (never a global nested loop), and the component step is
    * the O(log d) label-propagation of `Dedup.connectedComponents` —
    * every stage data-sized, no driver-side state.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    blockCol: String, minCos: Double,
                    saltBuckets: Int = 1): DataFrame =
    Dedup.dropNearDuplicates(df, idCol,
      cosineNearDupBlocked(df, idCol, vecCol, blockCol, minCos, saltBuckets))

  /** [[semanticDedup]] with the blocking column LEARNED from the data —
    * k-means (spherical-Lloyd) cluster ids from [[ivfAssign]], i.e.
    * SemDeDup exactly as published: cluster the embedding space, dedup
    * within clusters. `nCentroids` trades recall (near-dups split across
    * cluster boundaries are missed) against per-cluster quadratic cost —
    * grow it with the corpus so cluster size stays bounded.
    */
  def semanticDedupClustered(df: DataFrame, idCol: String, vecCol: String,
                             minCos: Double, nCentroids: Int = 16,
                             kmeansIters: Int = 1,
                             saltBuckets: Int = 1): DataFrame = {
    val (assigned, _) = ivfAssign(df, idCol, vecCol, nCentroids, kmeansIters)
    val pairs = cosineNearDupBlocked(assigned, idCol, vecCol, "ivf_bucket",
      minCos, saltBuckets)
    Dedup.dropNearDuplicates(df, idCol, pairs)
  }

  /** Density-based clustering (DBSCAN, Ester et al. KDD'96) in cosine
    * space — the clustering family member k-means can't imitate:
    * clusters of arbitrary shape and an explicit NOISE verdict, which
    * is what embedding-corpus curation wants for "dense topical cores
    * vs isolated junk". ε-neighborhood = `cos ≥ minCos`; a node is
    * `core` when its ε-neighborhood (self included, the paper's
    * |N_ε(p)| ≥ minPts) has at least `minPts` members; `border` when
    * non-core but ε-adjacent to a core; `noise` otherwise.
    *
    * Determinism (classic DBSCAN is scan-order-dependent on border
    * assignment; this formulation is order-free and engine-exact):
    * cluster label = the MINIMUM core id of the core's connected
    * component (core-core ε-edges only), and a border node adjacent to
    * several clusters takes the smallest label. Cosines come from
    * [[cosineNearDupBlocked]]'s exact-decimal two-phase kernel.
    *
    * Scale shape: pair generation is the salted block equi-join (never
    * an all-pairs nested loop; within-block recall is exact and
    * cross-block ε-pairs are missed — the standard blocked-dedup trade,
    * so grow block granularity with the corpus); neighbor counts are a
    * map-side-combined aggregation over pair endpoints; the component
    * step is `Dedup.connectedComponents`' O(log d) pointer jumping over
    * CORE-core edges only (≤ the pair list); border assignment is one
    * equi-join + min-aggregation on 8-byte ids. Nothing corpus-sized
    * sorts, nothing collects.
    *
    * @return (id, role ∈ core|border|noise, cluster) — cluster is the
    *         component's min core id, null for noise
    */
  def dbscan(df: DataFrame, idCol: String, vecCol: String,
             blockCol: String, minCos: Double, minPts: Int,
             saltBuckets: Int = 1): DataFrame = {
    require(minPts >= 1, s"minPts must be positive: $minPts")
    // The ε-pair pipeline (the quadratic block join) feeds FOUR
    // consumers downstream (both adjacency directions, core-core edge
    // filter, border assignment) — snapshot it once instead of
    // replaying the join per consumer (the Graph.triangleImpl
    // discipline; measured 7.7 → ~4 s at sf0.1).
    val pairs = Snapshots.snapshot(
      cosineNearDupBlocked(df, idCol, vecCol, blockCol, minCos,
        saltBuckets))
    // both directions once: each ε-pair contributes to both endpoints
    val adj = pairs.select(col("id_a").as("id"), col("id_b").as("nbr"))
      .union(pairs.select(col("id_b").as("id"), col("id_a").as("nbr")))
    val nbrCnt = adj.groupBy("id").agg(count(lit(1)).as("__n"))
    val nodes = df.select(col(idCol).cast("long").as("id"))
      .join(nbrCnt, Seq("id"), "left")
      .select(col("id"),
        ((coalesce(col("__n"), lit(0L)) + 1L) >= minPts).as("is_core"))
    val core = nodes.where(col("is_core")).select(col("id"))
    val coreEdges = pairs
      .join(core.select(col("id").as("id_a")), "id_a")
      .join(core.select(col("id").as("id_b")), "id_b")
      .select("id_a", "id_b")
    // cores in a component share its min id; a core with no core
    // neighbor is its own singleton cluster (label = own id)
    val coreLabel = core
      .join(Dedup.connectedComponents(coreEdges), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("cluster"))
    // border = non-core ε-adjacent to a core; smallest adjacent cluster
    val borderLabel = adj
      .join(coreLabel.withColumnRenamed("id", "nbr"), Seq("nbr"))
      .groupBy("id").agg(min(col("cluster")).as("__bc"))
    nodes
      .join(coreLabel, Seq("id"), "left")
      .join(borderLabel, Seq("id"), "left")
      .select(col("id"),
        when(col("is_core"), lit("core"))
          .when(col("__bc").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        when(col("is_core"), col("cluster"))
          .otherwise(col("__bc")).as("cluster"))
  }

  /** Deterministic spherical k-means over an embedding column with
    * CROSS-ENGINE-EXACT arithmetic — clustering as a first-class corpus
    * operator (topic balancing, diversity-aware selection, cluster-level
    * curation stats), not just the internal IVF quantizer
    * ([[refineCentroids]], whose double `avg` is order-sensitive and
    * therefore fine for candidate generation but not for oracled
    * cluster ids).
    *
    * Determinism recipe (the [[principalComponent]] /
    * [[graft.functions.Corpus.trainLinearProbe]] discipline):
    *  - seeds = the `k` vectors with the SMALLEST ids, unit-normalized —
    *    no RNG, no engine-specific hash, reproducible from the data alone;
    *  - assignment = argmax over exact-decimal dots ([[dotExact]]),
    *    ties to the smaller cluster id;
    *  - recenter = per-(cluster, dim) mean of NORM-SCALED components
    *    (spherical k-means' normalized mean), summed in DECIMAL(30,15)
    *    (order-independent), divided once in double, rounded to 9
    *    decimals; empty clusters keep their previous centroid;
    *  - each new centroid is re-unit-normalized (exact-decimal norm) and
    *    rounded to 9 decimals — so every round's centroids are short
    *    decimal literals any engine reproduces bit-for-bit.
    *
    * Scale shape: per round, one MAP-ONLY assignment pass (k·dim literal
    * dots inside the scan projection — no shuffle) plus one aggregation
    * whose exchange is the map-side-combined (cluster, dim) grid — k×dim
    * decimal partials per partition, independent of corpus size. Driver
    * state is the k×dim centroid table, same contract as the
    * codebook/gradient collects. Zero-norm and null vectors are dropped
    * (they have no direction to cluster).
    *
    * @return (idCol, cluster, cos_to_centroid) — cluster 0-based in
    *         seed-id order, cosine exact-decimal and rounded 9
    */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
                   k: Int, rounds: Int): DataFrame = {
    val cents = kmeansTrain(df, idCol, vecCol, k, rounds)
    val v = col(vecCol)
    val centLit =
      if (cents.isEmpty) lit(null).cast("array<array<double>>") // empty corpus
      else array(cents.map(c => array(c.map(lit(_)): _*)): _*)
    // project the cluster id ONCE, then score against the selected
    // centroid — referencing the argmax expression twice would pay the
    // k exact-dot kernel twice per row
    df.where(v.isNotNull && norm2Exact(v) > 0.0)
      .select(col(idCol), v.as("__v"),
        kmeansClusterExpr(v, cents).as("cluster"))
      .select(col(idCol), col("cluster"),
        round(cosineExact(col("__v"),
          element_at(centLit, col("cluster") + 1)), 9)
          .as("cos_to_centroid"))
  }

  /** Per-cluster quality diagnostics over a [[kmeansAssign]] result:
    * size, mean/min/max cosine-to-centroid — the report that decides
    * whether a clustering is usable for topic balancing (a huge cluster
    * with low mean cohesion = an undersplit topic; a tiny one = noise).
    * One #clusters-sized aggregation with map-side partials; the mean
    * accumulates the (already round-9) cosines in DECIMAL so the report
    * is engine-reproducible like everything else in the k-means family.
    */
  def clusterReport(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cluster")).agg(
      count(lit(1)).as("n"),
      round(sum(col("cos_to_centroid").cast(DecimalType(30, 15)))
        .cast("double") / count(lit(1)).cast("double"), 9).as("mean_cos"),
      min(col("cos_to_centroid")).as("min_cos"),
      max(col("cos_to_centroid")).as("max_cos"))

  /** The trained [[kmeansAssign]] centroid table (k × dim doubles,
    * unit-norm, rounded 9) — exposed so downstream stages (balanced
    * sampling, per-cluster stats, cluster-pruned search) can reuse one
    * training run.
    */
  def kmeansTrain(df: DataFrame, idCol: String, vecCol: String,
                  k: Int, rounds: Int): Array[Array[Double]] = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 0, s"negative rounds: $rounds")
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(vecCol)
    val vecs = df.where(v.isNotNull && norm2Exact(v) > 0.0)
    // engine-side unitization (transform + round) so the decimal-exact
    // norm and ROUND semantics are the engine's own, not a driver re-
    // implementation that could round differently
    val seedRows = vecs.orderBy(col(idCol)).limit(k)
      .select(col(idCol),
        transform(v, x =>
          round(x.cast("double") / sqrt(norm2Exact(v)), 9)).as("c"))
      .orderBy(col(idCol))
      .collect()
    var cents: Array[Array[Double]] =
      seedRows.map(_.getSeq[Double](1).toArray)
    for (_ <- 1 to rounds) {
      // pre-project cluster + norm BEFORE the explode: a projection in
      // the same select as a generator is re-evaluated per OUTPUT row,
      // so inlining the k-dot argmax there would pay it dim× per vector
      // (measured 6-10× slower at dim 64)
      val means = vecs
        .select(kmeansClusterExpr(v, cents).as("__c"),
          sqrt(norm2Exact(v)).as("__n"), v.as("__v"))
        .select(col("__c"), col("__n"),
          posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy(col("__c"), col("pos"))
        .agg(round(
          sum((col("x").cast("double") / col("__n"))
            .cast(DecimalType(30, 15))).cast("double") /
            count(lit(1)).cast("double"), 9).as("m"))
        .collect()
      val next = cents.map(_.clone) // empty clusters keep their centroid
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      // re-unit-normalize through a tiny engine frame (k rows)
      val normed = spark
        .createDataset(next.toIndexedSeq.zipWithIndex.map {
          case (m, c) => (c, m.toSeq)
        })
        .toDF("c", "m")
        .select(col("c"), transform(col("m"), x =>
          round(x / sqrt(norm2Exact(col("m"))), 9)).as("u"))
        .orderBy("c").collect()
      cents = normed.map(_.getSeq[Double](1).toArray)
    }
    cents
  }

  /** Argmax-of-exact-dots cluster id against literal centroids, ties to
    * the smaller index. One fused two-phase kernel
    * ([[graft.plans.ArgMaxDotExact]]): double dots decide when the winner
    * leads by more than the error bound; near-ties recompute with the
    * decimal pipeline — bit-identical to the k-column
    * `array_position(dots, array_max(dots)) - 1` composition this
    * replaced (which paid k·dim BigDecimal ops per row unconditionally),
    * and still matching the DuckDB oracle's unrolled decimal dots on
    * ties.
    */
  private def kmeansClusterExpr(v: Column,
                                cents: Array[Array[Double]]): Column =
    if (cents.isEmpty) lit(null).cast("int") // empty corpus → no clusters
    else graft.plans.HashExpressions.argMaxDotExact(v, cents.flatten, cents.head.length)

  /** Symmetric int8 scalar quantization of an embedding column — the
    * standard 4× storage/bandwidth cut before ANN indexing. Per vector:
    * `scale = 127 / max|v_i|`, `q_i = round(v_i · scale)` ∈ [−127, 127]
    * (zero vectors quantize to zeros with scale 0).
    *
    * Map-only: no shuffle, evaluated inside the scan projection — the
    * shape that matters when the input is 100 TB of vectors. `max|v_i|`
    * comes from float `array_min`/`array_max` (comparisons only — exact),
    * and every multiply/divide is a single IEEE double op, so quantized
    * values are bit-deterministic across engines.
    *
    * Returns (id, embedding, q array<int>, scale double); callers explode
    * or re-encode as they need.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val maxAbs = greatest(abs(array_max(v)), abs(array_min(v))).cast("double")
    val scale = when(maxAbs === 0.0, lit(0.0)).otherwise(lit(127.0) / maxAbs)
    df.select(col(idCol), v,
      transform(v, x => round(x.cast("double") * scale).cast("int")).as("q"),
      scale.as("scale"))
  }

  /** Sign of the Achlioptas/JL projection matrix entry (j, d) under
    * `seed`: +1 iff the first hex digit of `md5("seed:j:d")` is below 8.
    * md5 so any ANSI engine reproduces the matrix from the same formula
    * (the [[graft.functions.Corpus.hashSplit]] portability trick); the
    * matrix is outDim×dim constants, so the hash price is paid once at
    * plan build, not per row.
    */
  private[graft] def jlSign(seed: Int, j: Int, d: Int): Float = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$seed:$j:$d".getBytes("UTF-8"))
    if (((h(0) >> 4) & 0xf) < 8) 1.0f else -1.0f
  }

  /** Hard-negative mining for contrastive training: for every labeled
    * vector, the `k` most-similar vectors carrying a DIFFERENT label —
    * the pairs that teach an embedding model the most (near-duplicates
    * across class boundaries), mined corpus-wide in one plan.
    *
    * The label-mismatch predicate applies BEFORE the bounded top-k′
    * candidate aggregation, so the result is the exact different-label
    * top-k (not "different-label survivors of an unlabeled
    * neighborhood" — a same-label-dense region cannot starve the
    * output). Same two-phase shape as [[knnJoin]]: native-float cosine
    * prune feeds the bounded top-k′ aggregator (exchange carries
    * q·k′ (score, id) entries, never vectors), survivors exact-rescore
    * through id equi-joins with the decimal kernel, final rank by
    * (cos desc, id). At self-kNN scale the same predicate composes into
    * [[knnJoinBlocked]]'s bucketed candidate generation — the filter
    * sits on the candidate stream either way.
    *
    * Null vectors and null labels are dropped on both sides (a null
    * label is "no class", not a class of its own).
    *
    * @return (query_id, query_label, neighbor_id, neighbor_label, cos,
    *         rank) with rank 1..k per query
    */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, k: Int, margin: Int = 40): DataFrame = {
    require(k >= 1 && margin >= 0)
    val base = df.where(col(vecCol).isNotNull && col(labelCol).isNotNull)
    // norms hoisted per ROW (not per pair): the pair loop pays ONE native
    // dot, not three — at q·N pairs the recomputed-norm version is the
    // whole query's cost
    val q = base.select(col(idCol).cast("long").as("__qid"),
      col(vecCol).as("__qv"), col(labelCol).cast("long").as("__ql"),
      sqrt(dotNative(col(vecCol), col(vecCol))).as("__qn"))
    val c = base.select(col(idCol).cast("long").as("__cid"),
      col(vecCol).as("__cv"), col(labelCol).cast("long").as("__cl"),
      sqrt(dotNative(col(vecCol), col(vecCol))).as("__cn"))
    // All-pairs stream built so the partial top-k′ collapses BEFORE any
    // exchange (the knnJoinBlocked shape): the QUERY side streams,
    // repartitioned by qid so every query's pairs are co-located — the
    // partial WindowGroupLimit heap then reduces each query to k′ rows
    // inside the scoring stage; the corpus side broadcasts, exploded
    // over salts and matched on qid-mod-salt so the pair generator is a
    // codegen'd BroadcastHashJoin, never a BroadcastNestedLoopJoin
    // (which runs row-at-a-time outside codegen — measured 4× slower on
    // this 25M-pair stream at sf0.1).
    // small salt count: its only job is bounding the per-key match list
    // in the broadcast hashmap — streamed-side parallelism comes from
    // the qid repartition, and each extra salt DUPLICATES every corpus
    // vector in the broadcast (32 salts = a 50 MB humongous-allocation
    // storm that showed up as multi-second GC variance at sf0.1)
    val nSalt = 4
    val defaultPar = df.sparkSession.sparkContext.defaultParallelism
    val cS = broadcast(c.withColumn("__salt",
      explode(array((0 until nSalt).map(lit(_)): _*))))
    val scored = q
      .repartition(defaultPar, col("__qid"))
      .withColumn("__salt", pmod(col("__qid"), lit(nSalt)).cast("int"))
      .join(cS, Seq("__salt"))
      .where(col("__cl") =!= col("__ql"))
      .select(col("__qid"), col("__cid"),
        (dotNative(col("__cv"), col("__qv")) / (col("__cn") * col("__qn")))
          .as("__s"))
    // candidate trim as a rank-filter — Spark plans it as partial+final
    // WindowGroupLimit heaps fully inside codegen, so the exchange
    // carries q·k′ candidates, never the all-pairs stream (every query
    // here is also a corpus row, so the typed top-k′ Aggregator that
    // knnJoin uses for its SMALL broadcast query side would drag the
    // full scored stream through JVM-object serialization — measured 6×
    // slower at sf0.1)
    val cand = rankPerQuery(scored, k + margin, "__s", "__cid")
      .select(col("__qid"), col("__cid"))
    // no broadcast hints: AQE picks the small side at runtime (a hinted
    // broadcast of the candidate list forces its whole upstream pair
    // scan into the broadcast-build path)
    rankPerQuery(exactRescore(cand, c, q, Seq("__qid", "__ql", "__cid", "__cl")),
        k, "cos", "__cid")
      .select(col("__qid").as("query_id"), col("__ql").as("query_label"),
        col("__cid").as("neighbor_id"), col("__cl").as("neighbor_label"),
        col("cos"), col("rank"))
  }

  /** Top principal component of an embedding corpus by distributed power
    * iteration — PCA without ever materializing the dim×dim covariance:
    * each round computes `w = Σ_x (x−μ)·((x−μ)·v)` through the algebraic
    * split `w_d = Σ_x t·x_d − μ_d·Σ_x t` with `t = x·v − μ·v`, so
    * centering never materializes a per-row centered vector (no
    * per-element HOF on the data path; `t` is one native exact-decimal
    * dot per row against the literal `v`).
    *
    * Scale shape: per round ONE data-sized job — (pos, t·x_d) triples
    * aggregate per dimension with map-side partials (reducer state
    * O(dim), the [[labelCentroids]] shape) — and only dim-sized vectors
    * ever reach the driver (the probe-training gradient discipline).
    * Driver state across rounds: two dim-arrays.
    *
    * Cross-engine exactness: data-sized sums accumulate in
    * DECIMAL(30,15); μ and each round's iterate are rounded to 9 decimals
    * IN the engine before becoming next-round literals, so both engines
    * step from bit-identical inputs and libm ulp drift cannot compound
    * across rounds. Iterates are max-abs-normalized (division by a max is
    * exact IEEE on identical inputs; an L2 norm's √ of a non-integral
    * sum is not) — any positive scaling leaves power iteration's fixed
    * direction unchanged. Degenerate corpora (zero variance) converge to
    * the zero vector instead of NaN.
    *
    * @param rounds power-iteration steps (residual decays as (λ₂/λ₁)^r)
    * @return (dim, mu, loading) — per-dimension corpus mean and the
    *         max-abs-normalized principal direction after `rounds` steps
    */
  def principalComponent(df: DataFrame, vecCol: String, dim: Int,
                         rounds: Int): DataFrame = {
    require(dim > 0 && rounds >= 0)
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.where(col(vecCol).isNotNull)
    val mu = corpusMean(vecs, vecCol, dim)
    val v = powerIterate(vecs, vecCol, dim, rounds, mu, Seq.empty)
    spark.createDataset(
        (0 until dim).map(d => (d, mu(d), v(d))))
      .toDF("dim", "mu", "loading")
  }

  /** Top `nComponents` principal directions by power iteration with
    * per-round Gram–Schmidt deflation: component c's iterate is
    * re-orthogonalized against components 0..c−1 after every
    * covariance-multiply step (`w ← w − (vⱼ·w / vⱼ·vⱼ)·vⱼ` — a RATIO of
    * exact-decimal dots, so deflation needs no √ and stays cross-engine
    * exact), then max-abs-normalized and rounded like
    * [[principalComponent]]. The PCA basis behind whitening /
    * embedding-space diagnostics, still never materializing dim×dim.
    *
    * Cost: nComponents × rounds data-sized jobs; driver state stays a
    * few dim-arrays.
    *
    * @return (component, dim, mu, loading) — component 0-based in
    *         decreasing-eigenvalue order
    */
  def principalComponents(df: DataFrame, vecCol: String, dim: Int,
                          nComponents: Int, rounds: Int): DataFrame = {
    require(dim > 0 && rounds >= 0 && nComponents >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.where(col(vecCol).isNotNull)
    val mu = corpusMean(vecs, vecCol, dim)
    val comps = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    for (_ <- 0 until nComponents)
      comps += powerIterate(vecs, vecCol, dim, rounds, mu, comps.toSeq)
    spark.createDataset(
        for (c <- 0 until nComponents; d <- 0 until dim)
          yield (c, d, mu(d), comps(c)(d)))
      .toDF("component", "dim", "mu", "loading")
  }

  /** Principal-component scores: every vector's centered projection onto
    * the top component from [[principalComponent]] — the 1-D embedding
    * diagnostic axis (outliers at the tails, modes in the histogram).
    * After the iteration's dim-sized driver vectors are in hand the
    * scoring pass is MAP-ONLY: `score = x·v − μ·v` (one native decimal
    * dot against a literal minus a precomputed constant), no shuffle, no
    * broadcast join.
    *
    * @return (idCol, score) — score rounded 9, null-vector rows dropped
    */
  def pcaScores(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                rounds: Int): DataFrame = {
    val spark = df.sparkSession
    val vecs = df.where(col(vecCol).isNotNull)
    val mu = corpusMean(vecs, vecCol, dim)
    val v = powerIterate(vecs, vecCol, dim, rounds, mu, Seq.empty)
    val vLit = array(v.map(lit(_)): _*)
    val muDotV = spark.range(1)
      .select(dotExact(array(mu.map(lit(_)): _*), vLit).as("d"))
      .head().getDouble(0)
    vecs.select(col(idCol),
      round(dotExact(col(vecCol), vLit) - lit(muDotV), 9).as("score"))
  }

  /** Per-dimension corpus mean, decimal-summed, rounded 9 (dim-sized
    * driver result).
    */
  private def corpusMean(vecs: DataFrame, vecCol: String,
                         dim: Int): Array[Double] = {
    val a = Array.fill(dim)(0.0)
    vecs.select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(round(
        sum(col("x").cast("double").cast(DecimalType(30, 15))).cast("double") /
          count(lit(1)).cast("double"), 9).as("m"))
      .collect().foreach(r => a(r.getInt(0)) = r.getDouble(1))
    a
  }

  /** One power-iteration run from the all-ones start: `rounds` steps of
    * covariance-multiply → Gram–Schmidt deflation against `prev` →
    * max-abs normalize + round 9. Every data-sized stage aggregates per
    * dimension with map-side partials; only dim-sized vectors reach the
    * driver.
    */
  private def powerIterate(vecs: DataFrame, vecCol: String, dim: Int,
                           rounds: Int, mu: Array[Double],
                           prev: Seq[Array[Double]]): Array[Double] = {
    val spark = vecs.sparkSession
    val muLit = array(mu.map(lit(_)): _*)
    // exact-decimal dot of two driver arrays through a 1-row engine frame
    // so the arithmetic is the engine's own kernel, not a driver re-
    // implementation that could round differently
    def dotLit(a: Array[Double], b: Array[Double]): Double =
      spark.range(1)
        .select(dotExact(array(a.map(lit(_)): _*),
          array(b.map(lit(_)): _*)).as("d"))
        .head().getDouble(0)
    var v: Array[Double] = Array.fill(dim)(1.0)
    for (_ <- 0 until rounds) {
      val vLit = array(v.map(lit(_)): _*)
      val muDotV = dotLit(mu, v)
      val stepped = vecs
        .select((dotExact(col(vecCol), vLit) - lit(muDotV)).as("__t"),
          col(vecCol))
        .select(col("__t"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy(col("pos")).agg(
          sum((col("__t") * col("x").cast("double"))
            .cast(DecimalType(30, 15))).cast("double").as("S"),
          // every row lands once in every pos group, so per-pos Σt = Σ_x t
          sum(col("__t").cast(DecimalType(30, 15))).cast("double").as("T"))
        .select(col("pos"),
          (col("S") - element_at(muLit, col("pos") + 1) * col("T")).as("w"))
        .collect()
      val w = Array.fill(dim)(0.0)
      stepped.foreach(r => w(r.getInt(0)) = r.getDouble(1))
      // deflate against already-found components: a ratio of exact dots
      // (no √), then one fused multiply-subtract per dimension — all
      // single IEEE ops on identical inputs in any engine
      prev.foreach { pv =>
        val denom = dotLit(pv, pv)
        if (denom != 0.0) {
          val coef = dotLit(pv, w) / denom
          var d = 0
          while (d < dim) { w(d) = w(d) - coef * pv(d); d += 1 }
        }
      }
      // max-abs normalize + round 9 through a tiny engine frame so the
      // ROUND semantics are exactly the engine's
      import spark.implicits._
      val normed = spark.createDataset(w.toSeq.zipWithIndex)
        .toDF("w", "pos")
      val m = normed.agg(max(abs(col("w"))).as("m"))
      val next = normed.crossJoin(broadcast(m))
        .select(col("pos"),
          when(col("m") === 0.0, lit(0.0))
            .otherwise(round(col("w") / col("m"), 9)).as("v"))
        .collect()
      val a = Array.fill(dim)(0.0)
      next.foreach(r => a(r.getInt(0)) = r.getDouble(1))
      v = a
    }
    v
  }

  /** Random projection (Johnson–Lindenstrauss / Achlioptas 2003 sign
    * matrix): dimensionality reduction `R^inDim → R^outDim` with
    * `y_j = (Σ_d s_jd · x_d) / √outDim`, `s_jd ∈ {±1}` derived from the
    * seed — the standard cheap shrink before ANN indexing or pairwise
    * sweeps (distances preserved within (1±ε) for outDim = O(ln n / ε²)).
    *
    * The sign matrix is seed-derived constants baked into the plan as
    * literal float arrays, so the whole operator is MAP-ONLY — no
    * broadcast join, no shuffle, nothing to skew; each output coordinate
    * is one native exact-decimal dot ([[dotExact]]) against a literal
    * vector, ±1 signs are exact in float so the products are exact
    * negations. With outDim a power of 4 the 1/√outDim scale is an exact
    * double and the entire output is bit-reproducible cross-engine.
    *
    * Output explodes to (id, dim, v) triples — the cross-engine-
    * comparable shape ([[labelCentroids]] precedent) and the join-ready
    * layout for downstream per-dimension work.
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    inDim: Int, outDim: Int, seed: Int = 42): DataFrame = {
    require(inDim > 0 && outDim > 0)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val v = col(vecCol)
    val projected = array((0 until outDim).map { j =>
      val signs = array((0 until inDim).map(d => lit(jlSign(seed, j, d))): _*)
      round(dotExact(v, signs) * lit(scale), 9)
    }: _*)
    df.where(v.isNotNull)
      .select(col(idCol), posexplode(projected).as(Seq("pos", "v")))
      .select(col(idCol), col("pos").cast("int").as("dim"), col("v"))
  }

  /** Per-label mean embedding (class centroids / one k-means M-step),
    * exploded to (label, dim, centroid) rows. Element sums accumulate in
    * DECIMAL(30,15) so the mean is order-independent; the final divide is
    * one double op.
    *
    * Shuffle profile: posexplode shuffles (label, dim, value) triples —
    * 8+8+8 bytes per element, never whole vectors — into numLabels × dim
    * groups with map-side partial aggregation, so reducer state is
    * O(labels · dim) regardless of corpus size. This is the aggregation
    * shape that survives a 1000-executor run.
    */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(labelCol), (col("pos") + 1).cast("long").as("dim"))
      .agg((sum(col("v").cast("double").cast(DecimalType(30, 15))).cast("double") /
        count(lit(1)).cast("double")).as("c"))
      .select(col(labelCol), col("dim"), round(col("c"), 9).as("centroid"))

  /** Majority-vote label assignment over a kNN result — the weak-
    * supervision / label-transfer step (classify unlabeled embeddings by
    * their nearest labeled neighbors). Takes the OUTPUT of any kNN
    * operator ([[knnJoin]], [[knnJoinBlocked]] — `(query_id, neighbor_id,
    * cos, rank)`), so the candidate-generation strategy stays the
    * caller's choice and the vote composes with both the broadcast and
    * the blocked scale path.
    *
    * The vote is deterministic and float-free: predicted label = most
    * votes, ties broken by smallest label value — counts and labels
    * only, so any engine reproduces it exactly (a mean-similarity
    * tiebreak would reintroduce float-order sensitivity for no
    * accuracy the confidence column doesn't already convey).
    *
    * Scale shape: the neighbor list is queries × k rows — broadcast-
    * hinted into the label join so the (corpus-sized) label table
    * streams map-side; the vote aggregates (query, label) pairs with
    * map-side partials.
    *
    * @return (query_id, pred_label, n_votes, n_neighbors)
    */
  def voteLabels(neighbors: DataFrame, labeled: DataFrame,
                 cIdCol: String, labelCol: String): DataFrame = {
    val lab = labeled.select(col(cIdCol).cast("long").as("neighbor_id"),
      col(labelCol).as("__lab"))
    val votes = broadcast(neighbors.select(col("query_id"), col("neighbor_id")))
      .join(lab, "neighbor_id")
      .groupBy(col("query_id"), col("__lab"))
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy(col("query_id"))
    val pick = Window
      .partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("__lab").asc)
    votes
      .withColumn("n_neighbors", sum(col("n_votes")).over(w))
      .withColumn("__rk", row_number().over(pick))
      .where(col("__rk") === 1)
      .select(col("query_id"), col("__lab").as("pred_label"),
        col("n_votes"), col("n_neighbors"))
  }

  /** kNN classification in one call: exact kNN join (query side
    * broadcasts) + [[voteLabels]]. For labeling a full corpus against
    * itself, run [[knnJoinBlocked]] and feed its output to voteLabels
    * instead — same vote, scale-path candidates.
    */
  def knnClassify(queries: DataFrame, corpus: DataFrame,
                  qIdCol: String, qVecCol: String,
                  cIdCol: String, cVecCol: String, labelCol: String,
                  k: Int, margin: Int = 40): DataFrame =
    voteLabels(
      knnJoin(queries, corpus, qIdCol, qVecCol, cIdCol, cVecCol, k, margin),
      corpus, cIdCol, labelCol)

  /** Distance-to-own-centroid outlier scoring — the embedding-space
    * quality gate (CCNet/SemDeDup-style cluster hygiene): every vector
    * scores its exact cosine against the mean vector of its OWN group
    * (label / language / source), and `is_outlier` flags rows below
    * `threshold` — mislabeled, off-topic, or garbage embeddings sit far
    * from their group's center. Rows are flagged, never dropped.
    *
    * Exactness: centroids are [[labelCentroids]] (decimal-mean, rounded
    * to 9 decimals); the cosine accumulates v·c, v·v, c·c products in
    * DECIMAL(30,15) and rounds to 9 — bit-reproducible on any engine
    * that sums decimals exactly.
    *
    * Scale shape: the centroid table is #groups × dim (tiny, broadcast);
    * the per-row score explodes (id, group, dim, v) triples but joins
    * map-side against the broadcast centroids and partial-aggregates by
    * id before the one N-row shuffle. Null vectors score null and flag
    * false (no basis to call them outliers — gate them on nullity
    * upstream if that is the intent).
    *
    * @return (idCol, groupCol, cos_centroid, is_outlier)
    */
  def centroidOutlierScores(df: DataFrame, idCol: String, vecCol: String,
                            groupCol: String,
                            threshold: Double = 0.0): DataFrame = {
    val cent = labelCentroids(df, groupCol, vecCol)
    val ex = df.where(col(vecCol).isNotNull)
      .select(col(idCol), col(groupCol),
        posexplode(col(vecCol)).as(Seq("__pos", "__v")))
      .select(col(idCol), col(groupCol),
        (col("__pos") + 1).cast("long").as("dim"),
        col("__v").cast("double").as("__v"))
    val scored = ex.join(broadcast(cent), Seq(groupCol, "dim"))
      .groupBy(col(idCol), col(groupCol))
      .agg(
        sum((col("__v") * col("centroid")).cast(DecimalType(30, 15))).as("__dot"),
        sum((col("__v") * col("__v")).cast(DecimalType(30, 15))).as("__nv"),
        sum((col("centroid") * col("centroid")).cast(DecimalType(30, 15))).as("__nc"))
      .select(col(idCol), col(groupCol),
        round(col("__dot").cast("double") /
          sqrt(col("__nv").cast("double") * col("__nc").cast("double")), 9)
          .as("cos_centroid"))
    df.select(col(idCol), col(groupCol))
      .join(scored, Seq(idCol, groupCol), "left")
      .select(col(idCol), col(groupCol), col("cos_centroid"),
        coalesce(col("cos_centroid") < threshold, lit(false)).as("is_outlier"))
  }

  // ----- Product quantization (the PQ half of the IVF-PQ ANN stack) -----

  /** Train per-subspace codebooks and encode every vector to `m` small
    * code indices — the compression that makes billion-vector ANN fit in
    * memory (m bytes/vector instead of 4·dim). The split: dim/m-wide
    * subvectors, each quantized against its own `k`-entry codebook.
    *
    * Codebook init is the deterministic hash-sample (rank distinct
    * subvectors by xxhash64, take k — no RNG, reproducible on any
    * cluster); optional Lloyd rounds re-center codes on the L2-assigned
    * members. Assignment is exact-L2 via the bias-dimension trick:
    * argmin‖s−c‖² = argmax(⟨s,c⟩ − ‖c‖²/2), so the native single-pass
    * [[graft.plans.ArgMaxDot]] kernel (vector extended with a constant 1,
    * centroids with −‖c‖²/2) does L2 assignment inside codegen — the
    * ENCODE step is a pure map, zero shuffles.
    *
    * Lloyd shuffle profile: (subspace, code, dim)→mean partials — the
    * m·k·(dim/m) = k·dim-double grid, corpus-size independent.
    *
    * When k ≥ distinct subvectors per subspace (and lloydIters = 0) the
    * codebooks contain every subvector exactly → encoding is LOSSLESS;
    * `x_pq_ann` uses that to pin recall = 1 against the brute-force
    * oracle, the same exhaustive trick as `x_ivf_ann`.
    *
    * @return (encoded df with `pq_codes` array<int>, codebooks(j)(c) =
    *         centroid of length dim/m)
    */
  def productQuantize(df: DataFrame, idCol: String, vecCol: String,
                      m: Int, k: Int, lloydIters: Int = 0)
      : (DataFrame, Array[Array[Array[Double]]]) = {
    require(m >= 1 && k >= 1 && lloydIters >= 0)
    // Codebooks are DRIVER state (m·k·(dim/m) doubles, shipped as plan
    // literals): k is a codebook size (production PQ uses 256 = one byte
    // per code), never a function of corpus size. The lossless k≥distinct
    // trick is a test/oracle device — warn loudly before it OOMs a real
    // driver.
    if (k > 65536)
      System.err.println(s"[graft] WARN productQuantize: k=$k exceeds any " +
        "sane codebook size (production PQ uses k<=256); codebook init " +
        "collects k distinct subvectors per subspace to the driver")
    // the dimension comes from a non-null vector; with none there is
    // nothing to train a codebook on
    val dim = df.where(col(vecCol).isNotNull).select(size(col(vecCol))).head(1)
      .headOption.map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        s"productQuantize: no non-null vector in column $vecCol"))
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val d = dim / m

    // (j, sub) rows for codebook training only — encode never shuffles
    val subs = df.select(explode(array((0 until m).map(j =>
        struct(lit(j).as("j"), slice(col(vecCol), j * d + 1, d).as("sub"))): _*))
      .as("s")).select(col("s.j").as("j"), col("s.sub").as("sub"))

    // init: k hash-ranked distinct subvectors per subspace
    val init = codebookInit(subs, k).collect()
      .groupBy(_.getInt(0))
      .map { case (j, rows) =>
        j -> rows.sortBy(_.getInt(1))
          .map(_.getSeq[Float](2).map(_.toDouble).toArray).toArray
      }
    var books: Array[Array[Array[Double]]] =
      (0 until m).map(j => init(j)).toArray

    for (_ <- 0 until lloydIters) {
      // L2-assign every subvector, re-center codes on member means
      val assigned = subs.withColumn("code",
        assignExpr(col("sub"), books, d))
      val means = assigned
        .select(col("j"), col("code"), posexplode(col("sub")).as(Seq("pos", "v")))
        .groupBy(col("j"), col("code"), col("pos"))
        .agg((sum(col("v").cast("double").cast(DecimalType(30, 15))).cast("double") /
          count(lit(1)).cast("double")).as("c"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
        .toMap
      books = books.zipWithIndex.map { case (book, j) =>
        book.zipWithIndex.map { case (old, c) =>
          // empty codes keep their previous centroid
          if (means.contains((j, c, 0)))
            (0 until d).map(p => means((j, c, p))).toArray
          else old
        }
      }
    }

    val encoded = df.withColumn("pq_codes",
      array((0 until m).map(j =>
        assignExpr(slice(col(vecCol), j * d + 1, d), books, d, j)): _*))
    (encoded, books)
  }

  /** Codebook init plan: the k hash-ranked distinct subvectors per
    * subspace. Kept as its own method so PlanSpec can pin the physical
    * shape — the `rk <= k` filter directly above the rank window is what
    * lets Spark plan a per-partition top-k heap (WindowGroupLimit)
    * instead of fully sorting every subspace partition; an innocent
    * refactor that separates filter from window would silently restore
    * the full sort.
    */
  private[graft] def codebookInit(subs: DataFrame, k: Int): DataFrame =
    subs.distinct()
      .withColumn("rk", row_number().over(Window
        .partitionBy(col("j")).orderBy(xxhash64(col("sub")), col("sub"))))
      .where(col("rk") <= k)
      .select(col("j"), col("rk"), col("sub"))

  // exact-L2 code assignment: argmax over biased dot (see productQuantize)
  private def assignExpr(sub: Column, books: Array[Array[Array[Double]]],
                         d: Int, j: Int = -1): Column = {
    def biased(book: Array[Array[Double]]): Array[Double] =
      book.flatMap(c => c :+ (-c.map(x => x * x).sum / 2.0))
    val augmented = concat(sub, array(lit(1.0f)))
    if (j >= 0)
      graft.plans.HashExpressions.argMaxDot(augmented, biased(books(j)), d + 1)
    else {
      // training path: per-row subspace dispatch over the j column
      (0 until books.length).foldLeft(lit(-1)) { (acc, jj) =>
        when(col("j") === jj,
          graft.plans.HashExpressions.argMaxDot(augmented, biased(books(jj)), d + 1))
          .otherwise(acc)
      }
    }
  }

  /** ADC (asymmetric distance computation) candidate ranking: per-query
    * lookup tables table(j)(c) = ⟨q_j, codebook(j)(c)⟩ ship as plan
    * literals (m·k doubles); each row's approximate score is m
    * table-lookups over its codes — no vector is touched. Rescore the
    * top candidates with exact cosine on the original vectors for the
    * final answer (the standard PQ → rescore cascade).
    */
  def pqCandidates(encoded: DataFrame, books: Array[Array[Array[Double]]],
                   query: Array[Float], topN: Int,
                   idCol: String = "vec_id"): DataFrame = {
    val m = books.length
    val d = books(0)(0).length
    val qd = query.map(_.toDouble)
    val dotTab: Seq[Seq[Double]] = (0 until m).map { j =>
      val qj = qd.slice(j * d, (j + 1) * d)
      books(j).map(c => c.zip(qj).map { case (a, b) => a * b }.sum).toSeq
    }
    val qNorm = math.sqrt(qd.map(x => x * x).sum)
    encoded.select(col(idCol),
        (tabSum(dotTab) / (sqrt(tabSum(codeNorms(books))) * lit(qNorm))).as("adc_cos"))
      .orderBy(col("adc_cos").desc, col(idCol))
      .limit(topN)
  }

  /** Composed IVF→PQ cascade — the production billion-vector ANN shape:
    * the coarse quantizer ([[ivfAssign]]) narrows the search to the
    * query's `nProbe` nearest inverted lists, ADC ([[pqCandidates]])
    * ranks ONLY the probed lists' compressed codes (m table lookups per
    * row — memory traffic is m bytes/vector per probed list, the whole
    * point of IVF-PQ), and the ADC top-`adcTopN` rescore against the
    * original vectors with exact-decimal cosine for the final exact-ranked
    * top-k.
    *
    * Scale shape: PQ codebooks train ONCE on the whole corpus (global
    * codebooks — k·dim doubles of driver state, corpus-size independent);
    * the probe filter is a bucket-column predicate evaluated inside the
    * scan (partition-prunable when the stored index partitions by
    * `ivf_bucket`); encode, ADC, and rescore are all maps; the only
    * data-sized movement is the two bounded top-N passes
    * (TakeOrderedAndProject, never a global sort).
    *
    * Recall: misses compound across BOTH filters (true neighbor in an
    * unprobed list, or outside the ADC top-N) — pin it with an in-query
    * flag against the brute-force answer, per the x_pq_ann discipline.
    *
    * Output: (id, cos) — ADC-survivor top-k by exact cosine,
    * (cos desc, id) order, 9-place rounding (cross-engine reproducible).
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                query: Array[Float], k: Int,
                nCentroids: Int = 16, nProbe: Int = 4, kmeansIters: Int = 0,
                m: Int = 8, codebookK: Int = 256, lloydIters: Int = 0,
                adcTopN: Int = 400): DataFrame = {
    require(k >= 1 && nProbe >= 1 && adcTopN >= k)
    val (assigned, cents) = ivfAssign(df, idCol, vecCol, nCentroids, kmeansIters)
    val probes = nearestCentroids(cents, query, nProbe)
    val (encoded, books) = productQuantize(assigned, idCol, vecCol, m, codebookK, lloydIters)
    val adc = pqCandidates(encoded.where(col("ivf_bucket").isin(probes: _*)),
      books, query, adcTopN, idCol)
    val q = array(query.map(v => lit(v)): _*)
    adc.select(col(idCol))
      .join(df.select(col(idCol), col(vecCol)), idCol)
      .select(col(idCol), round(cosineExact(col(vecCol), q), 9).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }
}
