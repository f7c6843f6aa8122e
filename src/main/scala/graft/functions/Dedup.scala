package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextFunctions._

/** Deduplication primitives for document corpora at 100 TB scale.
  *
  * Design notes (scale-first):
  *  - Exact dedup shuffles an 8-byte fingerprint, never the document body.
  *  - MinHash/LSH candidate generation is a self-join on *band buckets*
  *    (signature slices), so the shuffle key space is tiny and the
  *    quadratic blow-up is confined to per-bucket groups. Skewed buckets
  *    (boilerplate shingles) are handled upstream by AQE skew-join.
  *  - All hashing is Spark-native `xxhash64` (codegen'd, seed-stable), so
  *    signatures are reproducible across runs and cluster sizes.
  *
  * Reference capability: go-sif/sif has no dedup operators — users would
  * hand-roll them in `Map`/`Reduce` closures (reference
  * operations/transform/reduce.go:94-110). Here they are first-class.
  */
object Dedup {

  /** MinHash signature: for each of `numHashes` seeded hash functions, the
    * minimum over the document's shingle set. Approximates the Jaccard
    * permutation-min construction with xxhash64(shingle, seed_i).
    * Backed by the native [[graft.plans.MinHashSignature]] expression —
    * one pass over the shingles per row.
    */
  def minhashSignature(text: Column, shingleN: Int, numHashes: Int): Column =
    graft.plans.HashExpressions.ngramMinHash(tokens(text), shingleN, numHashes)

  /** LSH band keys from a minhash signature: hash of each `rowsPerBand`-wide
    * slice, tagged with the band index. Two documents share a band key ⇒
    * candidate pair. bands = numHashes / rowsPerBand.
    */
  def lshBandKeys(signature: Column, numHashes: Int, rowsPerBand: Int): Column = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand): " +
        "a trailing partial band would silently drop signature components")
    val bands = numHashes / rowsPerBand
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        // hash the signature longs directly — no per-row string assembly
        // in the sketch hot path (xxhash64 is variadic over native types)
        xxhash64((0 until rowsPerBand).map(r =>
          element_at(signature, b * rowsPerBand + r + 1)): _*).as("bucket"))
    }: _*)
  }

  /** Estimated Jaccard similarity from two equal-length minhash signatures:
    * fraction of agreeing components.
    */
  def estJaccard(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x))
      .cast("double") / size(sigA).cast("double")

  /** SimHash (64-bit): per bit, sum +1/−1 votes of each token-hash's bit,
    * then take the sign. Near-duplicate docs land within small Hamming
    * distance. Backed by the native [[graft.plans.SimHash64]] expression.
    */
  def simhash(text: Column): Column =
    graft.plans.HashExpressions.simhash64(tokens(text))

  /** Hamming distance between two 64-bit simhashes. */
  def hammingDist64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs within `maxHamming`, via pigeonhole
    * banding: the 64-bit sketch splits into maxHamming+1 disjoint
    * bit-blocks, and a pair differing in ≤ maxHamming bits must agree on
    * at least one whole block — so candidate generation is an equi-join
    * per block (hash-partitioned, MinHash-LSH-shaped), never an all-pairs
    * nested loop, and recall is exactly 1: the output is identical to the
    * quadratic join's.
    *
    * Scale note: block width is 64/(maxHamming+1), so selectivity falls as
    * the radius grows — at maxHamming=12 blocks are 4-5 bits (the exact-
    * recall price); production near-dup sweeps use maxHamming ≤ 3 (16-bit
    * blocks, vanishing collision rate), the Hamming-distance regime web
    * dedup actually targets.
    *
    * Output: (id_a, id_b, hamming) with id_a < id_b, hamming ≤ maxHamming.
    *
    * Scale contract: the pigeonhole gives maxHamming+1 blocks of
    * 64/(maxHamming+1) bits, so bucket cardinality per block is
    * 2^(64/(k+1)) — radius 3 yields 2^16 buckets (the web-dedup
    * production regime; bucket occupancy stays tiny at billions of
    * docs), radius 7 yields only 2^8 (acceptable up to ~millions of
    * docs), and beyond that the per-bucket pair join goes quadratic.
    * For larger radii at corpus scale, recurse: block-match on coarse
    * blocks, then hamming-filter candidates on the full sketch — the
    * standard multi-level pigeonhole (Manku et al. 2007 §3).
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming out of range: $maxHamming")
    val nBlocks = maxHamming + 1
    val sh = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sh"))
    // Candidate generation joins only (id, block) — the sketch itself stays
    // out of the shuffle and is re-joined after the pairwise distinct.
    val blocks = sh.select(col("id"), explode(array((0 until nBlocks).map { b =>
      val lo = b * 64 / nBlocks
      val hi = (b + 1) * 64 / nBlocks
      struct(lit(b).as("blk"),
        shiftrightunsigned(col("sh"), lo)
          .bitwiseAND(lit((1L << (hi - lo)) - 1L)).as("v"))
    }: _*)).as("bk"))
    val cand = blocks.as("a").join(blocks.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        hammingDist64(col("sh_a"), col("sh_b")).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard similarity pairs above `minJaccard`, via an
    * inverted-index self-join on shingles. Output: (id_a, id_b, jaccard)
    * with id_a < id_b.
    *
    * Scale path: the explode keeps only (id, shingle) — bytes proportional
    * to text — and the join groups by shingle, so common-shingle skew is
    * the only hazard (mitigate with stopword-shingle filtering / AQE).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, minJaccard: Double): DataFrame = {
    // Inverted index over 64-bit gram *hashes* (native NgramHashes expr):
    // no gram strings are built or shuffled, set sizes ride along with the
    // exploded rows (no extra size-join), and the equi-join key is 8 bytes.
    // Hash collisions would perturb counts with probability ~2^-64 — below
    // any practical concern at 100 TB.
    val g = df.select(col(idCol).as("id"),
      graft.plans.HashExpressions.ngramHashes(tokens(col(textCol)), shingleN).as("ghs"))
    val ex = g.select(col("id"), size(col("ghs")).as("sz"), explode(col("ghs")).as("gh"))
    ex.as("a").join(ex.as("b"),
        col("a.gh") === col("b.gh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("a.sz").as("sz_a"),
        col("b.id").as("id_b"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs: `|A∩B| / |A|` — the
    * excerpt/quote detector Jaccard misses (a paragraph quoted inside a
    * 100× longer document has tiny Jaccard but containment ≈ 1 from the
    * short side). The standard decontamination relation for "benchmark
    * text embedded in a crawl page". Output: (id_small, id_big,
    * containment, jaccard) for ordered pairs where the SMALLER gram set's
    * containment clears `minContainment` (ties in size break by id).
    *
    * Same inverted-index scale shape as [[ngramJaccardPairs]]: 8-byte
    * gram hashes only, set sizes ride the exploded rows, one equi-join +
    * one pair aggregation.
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            shingleN: Int,
                            minContainment: Double): DataFrame = {
    val g = df.select(col(idCol).as("id"),
      graft.plans.HashExpressions.ngramHashes(tokens(col(textCol)), shingleN).as("ghs"))
    val ex = g.select(col("id"), size(col("ghs")).as("sz"), explode(col("ghs")).as("gh"))
    ex.as("a").join(ex.as("b"),
        col("a.gh") === col("b.gh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("ida"), col("a.sz").as("sza"),
        col("b.id").as("idb"), col("b.sz").as("szb"))
      .agg(count(lit(1)).as("inter"))
      // orient each pair so the smaller set is the contained side
      .select(
        when(col("sza") <= col("szb"), col("ida")).otherwise(col("idb")).as("id_small"),
        when(col("sza") <= col("szb"), col("idb")).otherwise(col("ida")).as("id_big"),
        least(col("sza"), col("szb")).as("sz_small"),
        (col("sza") + col("szb") - col("inter")).as("uni"),
        col("inter"))
      .withColumn("containment",
        col("inter").cast("double") / col("sz_small").cast("double"))
      .withColumn("jaccard",
        col("inter").cast("double") / col("uni").cast("double"))
      .where(col("containment") >= minContainment)
      .select(col("id_small"), col("id_big"), col("containment"), col("jaccard"))
  }

  /** Connected components over a near-dup pair list — min-label
    * propagation with a pointer-jumping shortcut: each round a node takes
    * the minimum label among itself and its neighbors, then jumps to its
    * label's label. The jump halves chain depth per round, so convergence
    * is O(log diameter) rounds instead of O(diameter) — a 1M-node chain
    * resolves in ~20 rounds, not 1M. Output: (id, label), label = min id
    * in the component.
    *
    * Rounds run through [[RoundLoop]]: on a pair graph past its size
    * threshold each round lands on a reliable snapshot (executor loss
    * costs one round, not a recompute storm over the whole lineage);
    * below it each round is a bounded executor-memory cut that the
    * per-round `changed` count materializes — not an extra pass over the
    * full lineage.
    *
    * @param strict throw (instead of logging to stderr) if labels are
    *               still moving after `maxIter` rounds — silent
    *               non-convergence means wrong labels downstream.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          strict: Boolean = false): DataFrame = {
    // pinned loop inputs ([[RoundLoop]]): edges hash(dst) + sorted for the
    // per-round neighbor-min merge-join, labels hash(id) + sorted — both
    // sides of the frontier join read their snapshots with zero exchange
    val edges = RoundLoop.pin(
      pairs.select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
        .union(pairs.select(col("id_b").cast("long").as("src"), col("id_a").cast("long").as("dst")))
        .distinct(), "dst")
    val labels0 = RoundLoop.pin(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")), "id")
    val (labels, changed) = RoundLoop.run(edges, maxIter, (labels0, 1L),
        until = (s: (DataFrame, Long)) => s._2 == 0L) { case (round, (labels, _)) =>
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      val prop = labels.join(neighborMin, labels("id") === neighborMin("src"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("plabel"))
      // pointer jump: adopt the current label of my label's node (labels
      // always point at in-component node ids, so the invariant holds)
      val jumped = prop.as("x").join(prop.as("j"),
          col("x.plabel") === col("j.id"), "left")
        .select(col("x.id").as("id"), col("x.label").as("label"),
          coalesce(col("j.plabel"), col("x.plabel")).as("newlabel"))
      // the bounded cut is LAZY: its materializing action IS the
      // convergence count, so a small round costs ONE job instead of a
      // checkpoint job plus the count
      val updated = round.cut(jumped, "id", eager = false)
      (updated.select(col("id"), col("newlabel").as("label")),
        updated.where(col("newlabel") =!= col("label")).count())
    }
    if (changed > 0) {
      val msg = s"connectedComponents: labels still moving after $maxIter rounds " +
        s"($changed changed last round) — components wider than the budget get wrong labels"
      if (strict) throw new IllegalStateException(msg)
      System.err.println(s"[graft] WARN $msg")
    }
    labels
  }

  /** Drop near-duplicates: given the corpus and a detected pair list,
    * cluster the pairs and keep only each cluster's canonical (min-id)
    * document plus all unpaired documents — the standard corpus-dedup
    * final step.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val doomed = connectedComponents(pairs)
      .where(col("id") =!= col("label"))
      .select(col("id").as("__doomed_id"))
    df.join(doomed, df(idCol) === col("__doomed_id"), "left_anti")
  }

  /** Banding plan for a target Jaccard threshold: the (bands,
    * rowsPerBand) with `bands·rowsPerBand ≤ numHashes` minimizing the
    * integrated step-function error of the S-curve
    * `p(s) = 1 − (1 − s^r)^b` — false-positive mass below `threshold`
    * plus false-negative mass above it (the MMDS ch.3 tuning objective,
    * evaluated on a fixed 1/1000 grid so the choice is deterministic;
    * ties prefer fewer rows per band, i.e. the higher-recall plan).
    * Feed the result to [[minhashNearDupPairs]] / [[minhashBandIndex]]
    * instead of guessing: at 100 TB the banding decides BOTH the recall
    * and the candidate-join fan-out, and a plan whose midpoint
    * `(1/b)^(1/r)` sits far from the threshold wastes one or the other.
    */
  def lshPlan(numHashes: Int, threshold: Double): (Int, Int) = {
    require(numHashes >= 1, s"numHashes must be positive: $numHashes")
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1): $threshold")
    def err(b: Int, r: Int): Double = {
      val n = 1000
      var e = 0.0
      var i = 1
      while (i < n) {
        val s = i.toDouble / n
        val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        e += (if (s < threshold) p else 1.0 - p)
        i += 1
      }
      e / n
    }
    (1 to numHashes).map(r => (numHashes / r, r))
      .filter(_._1 >= 1)
      .minBy { case (b, r) => (err(b, r), r) }
  }

  /** MinHash-LSH near-duplicate candidate pairs with estimated Jaccard ≥
    * `minEstJaccard`. Output: (id_a, id_b, est_jaccard), id_a < id_b.
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 5, numHashes: Int = 32,
                          rowsPerBand: Int = 8,
                          minEstJaccard: Double = 0.5): DataFrame = {
    val sigs = df.select(col(idCol).as("id"),
      minhashSignature(col(textCol), shingleN, numHashes).as("sig"))
    // Candidate generation joins only (id, bandKey) — signatures stay out
    // of the shuffle — and pairs are de-duplicated BEFORE scoring, so
    // estJaccard runs once per unique pair instead of once per shared band.
    val bands = sigs.select(col("id"),
      explode(lshBandKeys(col("sig"), numHashes, rowsPerBand)).as("bk"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .where(col("est_jaccard") >= minEstJaccard)
  }

  /** Fingerprint-then-VERIFY: exact byte-compare within candidate
    * duplicate groups — the production step behind any hash-keyed dedup
    * (winnowing, xxhash fingerprints): a hash collision must never merge
    * two distinct documents, so before dropping rows, every candidate
    * group is checked for byte-identical content.
    *
    * The compare piggybacks on the shuffle that grouping already paid:
    * sub-grouping by (key, content) IS the byte comparison (Spark string/
    * binary grouping compares full content, not hashes), so a group
    * verifies iff it collapses to one sub-group. No pairwise loop, no
    * second pass over the corpus.
    *
    * @param keepIdCol when set, also emit `keep_id` = the group's min id
    *   — the canonical-survivor column, computed in the SAME pass so
    *   dedup queries don't re-scan (and re-fingerprint) the corpus just
    *   to pick survivors.
    * @return one row per candidate group: (keyCol, n_members,
    *         n_distinct_texts, verified[, keep_id]) — `verified` = all
    *         members are byte-identical. Groups with `!verified` contain
    *         a collision and must not be deduplicated on this key.
    */
  def verifyGroups(df: DataFrame, keyCol: String, textCol: String,
                   keepIdCol: Option[String] = None): DataFrame = {
    val perTextAggs = count(lit(1)).as("__n") +:
      keepIdCol.map(c => min(col(c)).as("__kid")).toSeq
    val perText = df.groupBy(col(keyCol), col(textCol))
      .agg(perTextAggs.head, perTextAggs.tail: _*)
    val aggs = Seq(sum(col("__n")).as("n_members"),
      count(lit(1)).as("n_distinct_texts")) ++
      keepIdCol.map(_ => min(col("__kid")).as("keep_id"))
    perText.groupBy(col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
      .select((Seq(col(keyCol), col("n_members"), col("n_distinct_texts"),
        (col("n_distinct_texts") === 1).as("verified")) ++
        keepIdCol.map(_ => col("keep_id"))): _*)
  }

  /** Edit-distance (Levenshtein) fuzzy self-join with EXACT results — the
    * record-linkage primitive for titles / product names / entity keys —
    * via q-gram prefix filtering (the ED-Join shape, Xiao et al., VLDB
    * '08):
    *
    *  1. Each string yields its q-grams (8-byte xxhash64, positions kept
    *     for determinism only).
    *  2. One aggregation computes global gram frequencies; each string
    *     keeps only its `maxDist·q + 1` globally-RAREST grams (its
    *     "prefix"). An edit destroys at most q grams, so two strings
    *     within distance `maxDist` share ≥ |grams| − maxDist·q grams —
    *     by pigeonhole their rarest-(maxDist·q+1) prefixes must
    *     intersect. Candidates = equi-join on prefix gram hashes.
    *  3. Exact `levenshtein` verify on the candidates.
    *
    * Why prefix filtering instead of joining all grams: shared
    * boilerplate ("Supplier#00…", "http://www.") makes common grams
    * stop-grams whose buckets go quadratic; ranking by global frequency
    * makes candidate generation key on each string's highest-entropy
    * substrings instead. Shuffle profile: gram-hash exchanges + one
    * distinct over candidate pairs; nothing all-pairs. Output is exactly
    * the quadratic join's (prefix filter is lossless, verify is exact).
    *
    * Constraint: every string must have ≥ maxDist·q + 1 grams, i.e.
    * length ≥ (maxDist+1)·q (enforced; route shorter strings to a
    * dedicated short-key pass — they carry too little signal for q-gram
    * filtering).
    *
    * @return (id_a, id_b, dist) with id_a < id_b, dist ≤ maxDist
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int, q: Int = 2): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative: $maxDist")
    require(q >= 1, s"q must be positive: $q")
    val prefixLen = maxDist * q + 1
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"),
      length(col(strCol)).as("len"))
    // Losslessness needs ≥ maxDist·q + 1 grams per string (pigeonhole);
    // enforced inside the gram expression so pruning can't skip the check.
    val minLen = (maxDist + 1) * q
    val gramCount = when(col("len") >= minLen, col("len") - (q - 1))
      .otherwise(raise_error(concat(
        lit(s"editDistancePairs: string shorter than $minLen chars: "),
        col("s"))).cast("int"))
    val grams = base
      .select(col("id"), col("len"),
        posexplode(transform(sequence(lit(1), gramCount),
          i => xxhash64(col("s").substr(i, lit(q))))).as(Seq("pos", "gh")))
    // One global frequency pass; rank each string's grams rarest-first
    // (ties broken by hash then position — deterministic across runs).
    val freq = grams.groupBy(col("gh")).agg(count(lit(1)).as("gf"))
    val prefix = grams.join(freq, "gh")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("gf"), col("gh"), col("pos"))))
      .where(col("rk") <= prefixLen)
      .select(col("id"), col("len"), col("gh"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.gh") === col("b.gh") && col("a.id") < col("b.id") &&
          abs(col("a.len") - col("b.len")) <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val strs = base.select(col("id"), col("s"))
    cand
      .join(strs.select(col("id").as("id_a"), col("s").as("s_a")), "id_a")
      .join(strs.select(col("id").as("id_b"), col("s").as("s_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b")).cast("long").as("dist"))
      .where(col("dist") <= maxDist)
  }

  /** One comparator of a [[recordLinkage]] rule: fields `aCol`/`bCol`
    * agree when their Levenshtein distance is ≤ `maxDist` (0 = exact
    * equality); agreement contributes `weight` to the pair's score.
    * Null on either side never agrees.
    */
  final case class LinkField(aCol: String, bCol: String, weight: Long,
                             maxDist: Int = 0)

  /** Scored record linkage across two tables (the Fellegi–Sunter
    * agreement-weight shape, deterministic integer scoring): candidate
    * pairs come from a BLOCKING equi-join (`aBlock = bBlock` — never a
    * cartesian compare), each field comparator adds its weight when the
    * two values agree within its edit tolerance, and pairs scoring
    * below `minScore` are dropped. `keepBest` keeps one row per left
    * record: highest score, ties to the smallest right id — the
    * "which master record is this crawl duplicate of" resolution step
    * that exact-key joins can't do once names have typos.
    *
    * Integer weights make every score exact (no float w-agreement
    * logs — rank by weight sums, calibrate weights offline), and the
    * per-pair comparators are Spark's codegen'd `levenshtein`, so the
    * block join stays inside whole-stage codegen.
    *
    * Scale shape: ONE equi-join on the block key (salt upstream if a
    * block is hot), per-pair map work only, and the keep-best step is a
    * max-struct aggregation with map-side partials — no window over
    * the pair stream. Block granularity bounds the quadratic term,
    * exactly the [[Similarity.cosineNearDupBlocked]] trade.
    *
    * @return (id_a, id_b, score, n_agree), score ≥ minScore
    */
  def recordLinkage(a: DataFrame, b: DataFrame, aId: String, bId: String,
                    aBlock: String, bBlock: String, fields: Seq[LinkField],
                    minScore: Long, keepBest: Boolean = false): DataFrame = {
    require(fields.nonEmpty, "need at least one field comparator")
    require(fields.forall(f => f.weight > 0 && f.maxDist >= 0),
      "weights must be positive, tolerances non-negative")
    val left = a.select(col(aId).cast("long").as("id_a") +:
      col(aBlock).as("__blk") +: fields.zipWithIndex.map { case (f, i) =>
        col(f.aCol).as(s"__a$i") }: _*)
    val right = b.select(col(bId).cast("long").as("id_b") +:
      col(bBlock).as("__blk") +: fields.zipWithIndex.map { case (f, i) =>
        col(f.bCol).as(s"__b$i") }: _*)
    // Each comparator is evaluated ONCE into a boolean column (score
    // and n_agree both read it — inlining the expression twice doubles
    // the Levenshtein work), and tolerant comparators use the
    // THRESHOLDED levenshtein (banded O(maxDist·n) DP that early-exits
    // and returns −1 above the bound, vs the full O(n²) table): at
    // sf0.1 the two together cut the 9M-pair block join 27 s → ~3 s.
    val agree = fields.zipWithIndex.map { case (f, i) =>
      val d =
        if (f.maxDist == 0) (col(s"__a$i") === col(s"__b$i"))
        else levenshtein(col(s"__a$i"), col(s"__b$i"), f.maxDist) =!= -1
      coalesce(d, lit(false)).as(s"__ok$i")
    }
    val oks = fields.indices.map(i => col(s"__ok$i"))
    val score = oks.zip(fields)
      .map { case (ok, f) => when(ok, lit(f.weight)).otherwise(lit(0L)) }
      .reduce(_ + _)
    val nAgree = oks
      .map(ok => when(ok, lit(1L)).otherwise(lit(0L))).reduce(_ + _)
    val scored = left.join(right, "__blk")
      .select(col("id_a") +: col("id_b") +: agree: _*)
      .select(col("id_a"), col("id_b"), score.as("score"),
        nAgree.as("n_agree"))
      .where(col("score") >= minScore)
    if (!keepBest) scored
    else scored
      .groupBy(col("id_a"))
      .agg(max(struct(col("score"), (-col("id_b")).as("nb"),
        col("n_agree"))).as("__best"))
      .select(col("id_a"), (-col("__best.nb")).as("id_b"),
        col("__best.score").as("score"), col("__best.n_agree").as("n_agree"))
  }

  /** Content-fingerprint index of a corpus: the distinct 8-byte
    * fingerprints of `textCol` (or any fingerprint expression — e.g.
    * [[TextFunctions.minShingleFingerprint]] for edit-robust matching).
    * This is the artifact yesterday's curation run persists so tomorrow's
    * crawl can dedup against it without rescanning yesterday's bodies:
    * 8 bytes per distinct document, however large the source corpus.
    */
  def fingerprintIndex(df: DataFrame, textCol: String,
                       fp: Column => Column = TextFunctions.fingerprint)
      : DataFrame =
    df.select(fp(col(textCol)).as("fp")).distinct()

  /** Incremental dedup — drop every document of `newDf` whose content
    * fingerprint already appears in `index` (a [[fingerprintIndex]]
    * frame, today's or an accumulated union). The anti-join keys on the
    * 8-byte fingerprint, so new-corpus bodies never shuffle and the index
    * side is hash-sized; AQE broadcasts it when it fits. Same hash-only
    * contract as the fingerprint dedup family (a 64-bit collision can
    * only OVER-drop, documented at [[TextFunctions.fingerprint]]); pass
    * an edit-robust `fp` to both sides for near-dup-tolerant matching.
    */
  def dedupAgainstIndex(newDf: DataFrame, textCol: String, index: DataFrame,
                        fp: Column => Column = TextFunctions.fingerprint)
      : DataFrame =
    newDf.join(index.select(col("fp").as("__idx_fp")),
      fp(col(textCol)) === col("__idx_fp"), "left_anti")

  /** Banded-MinHash index of a corpus: the distinct LSH band keys of
    * every document — the NEAR-dup analogue of [[fingerprintIndex]], and
    * the second artifact a curation run persists (numHashes/rowsPerBand
    * band keys × 8 bytes per doc). Parameters must match the later
    * [[nearDedupAgainstIndex]] call — they define the banding scheme.
    */
  def minhashBandIndex(df: DataFrame, textCol: String, shingleN: Int = 5,
                       numHashes: Int = 32, rowsPerBand: Int = 4)
      : DataFrame =
    df.select(explode(lshBandKeys(
        minhashSignature(col(textCol), shingleN, numHashes),
        numHashes, rowsPerBand)).as("bk"))
      .distinct()

  /** [[minhashBandIndex]] as a PERSISTABLE artifact with its banding
    * scheme attached — the [[graft.functions.Similarity.ivfIndex]]
    * build/append ritual applied to near-dup maintenance. Returns
    * `(params, index)`: `params` is the 1-row frame
    * (shingle_n, num_hashes, rows_per_band) that freezes the scheme
    * (the banding analogue of the IVF frozen quantizer — the hash seeds
    * derive deterministically from the hash index, so these three ints
    * ARE the whole scheme), `index` is the [[minhashBandIndex]] band-key
    * set. Persist both; tomorrow's batch appends through
    * [[minhashBandIndexAppend]] without rescanning yesterday's bodies.
    */
  def minhashBandIndexBuild(df: DataFrame, textCol: String,
                            shingleN: Int = 5, numHashes: Int = 32,
                            rowsPerBand: Int = 4): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    val params = Seq((shingleN, numHashes, rowsPerBand))
      .toDF("shingle_n", "num_hashes", "rows_per_band")
    (params, minhashBandIndex(df, textCol, shingleN, numHashes, rowsPerBand))
  }

  /** Incremental [[minhashBandIndexBuild]] maintenance: band-key the
    * arrival batch under the STORED scheme — one map-only pass over the
    * new bodies (explode + distinct of the batch's own keys), zero
    * contact with the stored index. Union the returned keys onto the
    * stored ones (parquet append; duplicate keys across days are
    * harmless — [[nearDedupAgainstIndex]] probes with a semi-join) and
    * the result equals a from-scratch rebuild over old ∪ new, key for
    * key (spec-pinned).
    *
    * REFUSES a mixed build loudly: the params frame must hold exactly
    * one distinct scheme row. A careless union of two indexes built
    * with different knobs is precisely the silent-recall-loss bug this
    * guard exists for — band keys from different schemes never collide
    * meaningfully, so the merged index would "work" while detecting
    * nothing across the seam.
    */
  def minhashBandIndexAppend(params: DataFrame, newDf: DataFrame,
                             textCol: String): DataFrame = {
    val rows = params
      .select(col("shingle_n").cast("int"), col("num_hashes").cast("int"),
        col("rows_per_band").cast("int"))
      .distinct().collect()
    require(rows.length == 1,
      s"mixed-scheme band index: ${rows.length} distinct param rows " +
        "(one banding scheme per index; rebuild instead of unioning " +
        "indexes built with different knobs)")
    val r = rows.head
    minhashBandIndex(newDf, textCol, r.getInt(0), r.getInt(1), r.getInt(2))
  }

  /** Incremental NEAR-dup dedup — drop every document of `newDf` that
    * collides with yesterday's corpus in ANY MinHash band (a
    * [[minhashBandIndex]] frame). Detection probability for a new doc at
    * Jaccard s to some indexed doc is 1 − (1 − s^rowsPerBand)^bands —
    * the standard LSH S-curve, same knobs as [[minhashNearDupPairs]].
    *
    * Scale shape: new docs explode to (id, bandKey) — 8-byte keys, bodies
    * stay out of BOTH shuffles; the semi-join against the index nominates
    * doomed ids (dup-sized, AQE broadcasts them) and the final anti-join
    * keys on the id. At 100 TB the index is the thing that grows —
    * numHashes/rowsPerBand · 8 B per indexed doc — and it only ever
    * joins, never sorts against bodies.
    */
  def nearDedupAgainstIndex(newDf: DataFrame, idCol: String,
                            textCol: String, index: DataFrame,
                            shingleN: Int = 5, numHashes: Int = 32,
                            rowsPerBand: Int = 4): DataFrame = {
    val keys = newDf.select(col(idCol).as("__nd_id"),
      explode(lshBandKeys(
        minhashSignature(col(textCol), shingleN, numHashes),
        numHashes, rowsPerBand)).as("bk"))
    val doomed = keys
      .join(index.select(col("bk")), Seq("bk"), "left_semi")
      .select(col("__nd_id")).distinct()
    newDf.join(doomed, newDf(idCol) === doomed("__nd_id"), "left_anti")
  }

  /** [[dropNearDuplicates]] with a QUALITY winner instead of min-id: each
    * near-dup cluster keeps its best row by (`scoreCol` DESC, id ASC) —
    * "keep the longest / highest-quality copy", the policy real curation
    * uses (the min-id convention keeps whichever copy crawled first).
    *
    * One extra aggregation over the (clustered-rows)-sized frame: the
    * winner per component is a single min-of-struct with map-side
    * partials ((−score, id) lexicographic — no window, no rank shuffle
    * of the full table). Unpaired rows keep themselves untouched.
    */
  def dropNearDuplicatesKeepBest(df: DataFrame, idCol: String,
                                 scoreCol: String,
                                 pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs) // (id, label) — paired rows only
    // null score = worst (a scoreless copy never beats a scored one)
    val scored = df.select(col(idCol).cast("long").as("__kb_id"),
        coalesce(col(scoreCol).cast("double"),
          lit(Double.NegativeInfinity)).as("__kb_s"))
      .join(comps, col("__kb_id") === col("id"))
    val winners = scored
      .groupBy(col("label"))
      .agg(min(struct((-col("__kb_s")).as("ns"), col("__kb_id").as("i")))
        .as("best"))
      .select(col("best.i").as("__kb_winner"))
    val doomed = scored
      .join(winners, col("__kb_id") === col("__kb_winner"), "left_anti")
      .select(col("__kb_id"))
    df.join(doomed, df(idCol) === col("__kb_id"), "left_anti")
  }

  /** Hybrid near-duplicate drop: a document is a duplicate if it matches
    * another TEXTUALLY (n-gram Jaccard ≥ `minJaccard`) OR SEMANTICALLY
    * (embedding cosine ≥ `minCos` within a blocking column) — the union
    * of the two pair streams feeds ONE transitive clustering, keeping
    * each cluster's min-id member. Catches what either signal alone
    * misses: paraphrases (high cosine, low Jaccard) and template swaps
    * (high Jaccard, drifted embedding).
    *
    * Pure composition of existing scale shapes: [[ngramJaccardPairs]]'s
    * 8-byte-hash inverted index, [[graft.functions.Similarity.cosineNearDupBlocked]]'s
    * salted block join, one union + distinct on (id_a, id_b) pairs, and
    * [[connectedComponents]]' O(log d) pointer jumping. No stage this
    * operator adds is bigger than the pair lists themselves.
    *
    * `embeddings` rows join `docs` by id; docs without an embedding
    * simply contribute no semantic pairs (text pairs still count).
    */
  def hybridNearDupDrop(docs: DataFrame, embeddings: DataFrame,
                        idCol: String, textCol: String,
                        embIdCol: String, vecCol: String, blockCol: String,
                        shingleN: Int = 5, minJaccard: Double = 0.5,
                        minCos: Double = 0.35,
                        saltBuckets: Int = 1): DataFrame = {
    val textPairs = ngramJaccardPairs(docs, idCol, textCol, shingleN, minJaccard)
      .select(col("id_a"), col("id_b"))
    val blocked = embeddings
      .join(docs.select(col(idCol).as(embIdCol), col(blockCol)), embIdCol)
    val semPairs = graft.functions.Similarity
      .cosineNearDupBlocked(blocked, embIdCol, vecCol, blockCol, minCos,
        saltBuckets)
      .select(col("id_a"), col("id_b"))
    dropNearDuplicates(docs, idCol, textPairs.union(semPairs).distinct())
  }
}
