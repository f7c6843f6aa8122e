package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

@graft.Heavy // top-tier suite by measured wall time; excluded from `sbt smoke`
class FunctionsSpec extends SparkSpec {

  private lazy val docs = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "the quick brown fox jumps over the lazy dog"),
        Row(2L, "the quick brown fox jumps over the lazy cat"),
        Row(3L, "completely different words entirely here now"),
        Row(4L, ""),
        Row(5L, "der hund und die katze und das haus"))),
      schema)
  }

  test("tokenCount handles empty and multi-space text") {
    val out = docs.select(col("id"), TextFunctions.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(1L) == 9)
    assert(out(4L) == 0)
    assert(out(5L) == 8)
  }

  test("lshPlan: midpoint tracks the threshold, higher thresholds take wider bands") {
    def midpoint(plan: (Int, Int)): Double =
      math.pow(1.0 / plan._1, 1.0 / plan._2)
    for (h <- Seq(32, 64, 128); t <- Seq(0.3, 0.5, 0.8)) {
      val plan @ (b, r) = Dedup.lshPlan(h, t)
      assert(b * r <= h && b >= 1 && r >= 1)
      assert(math.abs(midpoint(plan) - t) < 0.2,
        s"plan $plan for (h=$h, t=$t) has midpoint ${midpoint(plan)}")
    }
    // a high threshold needs more rows per band (sharper, right-shifted
    // S-curve) than a low one
    assert(Dedup.lshPlan(64, 0.8)._2 > Dedup.lshPlan(64, 0.2)._2)
    // deterministic
    assert(Dedup.lshPlan(32, 0.8) == Dedup.lshPlan(32, 0.8))
  }

  test("scriptProfile: block counts, dominance priority, und for blank/null, surrogate pairs") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "hello world 42"),
        Row(2L, "привет мир"),
        Row(3L, "ab яю"),     // 2 latin vs 2 cyrillic: tie → latin (priority)
        Row(4L, "   "),
        Row(5L, null),
        Row(6L, "😀!"))), // emoji = ONE code point (other) + '!'
      schema)
    val out = TextFunctions.scriptProfile(df, "id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getString(9))).toMap
    assert(out(1L) == ((14L, 10L, 0L, "latin")))
    assert(out(2L)._4 == "cyrillic" && out(2L)._3 == 9L)
    assert(out(3L)._4 == "latin") // tie resolves to the earlier label
    assert(out(4L) == ((3L, 0L, 0L, "und")))
    assert(out(5L) == ((0L, 0L, 0L, "und")))
    val (n6, _, _, s6) = out(6L)
    assert(n6 == 2L && s6 == "other") // surrogate pair counted once
  }

  test("langIdScored: verdict == langId kernel, margins, ties, und") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val directed = Seq(
      Row(1L, "the cat is in the hat"),       // en, clear margin
      Row(2L, "der Hund ist nicht ein Fisch"), // de
      Row(3L, "the und"),                      // 1-1 tie: en by order, margin 0
      Row(4L, "xyzzy plugh"),                  // no hits: und/0/0
      Row(5L, ""), Row(6L, null))
    val got = TextFunctions.langIdScored(
        spark.createDataFrame(
          spark.sparkContext.parallelize(directed), schema), "id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L)._1 == "en" && got(1L)._3 >= 1L)
    assert(got(2L)._1 == "de")
    assert(got(3L) == (("en", 1L, 0L)), "tie must read en by order, margin 0")
    assert(got(4L) == (("und", 0L, 0L)))
    assert(got(5L) == (("und", 0L, 0L)) && got(6L) == (("und", 0L, 0L)))
    // fuzz: the declarative scored verdict must equal the codegen'd
    // langId kernel on arbitrary stopword soup
    val pool = TextFunctions.LangProfiles.flatMap(_._2) ++
      Seq("zz", "Qq", "123", "")
    val rnd = new scala.util.Random(1513)
    val cases = (1L to 150L).map { i =>
      (i, (0 until rnd.nextInt(14)).map(_ => pool(rnd.nextInt(pool.length)))
        .mkString(" "))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(cases.map(c => Row(c._1, c._2))), schema)
    val scored = TextFunctions.langIdScored(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val kernel = df.select(col("id"),
        TextFunctions.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.foreach { case (i, s) =>
      assert(scored(i) == kernel(i),
        s"case $i '$s': scored ${scored(i)} vs kernel ${kernel(i)}")
    }
  }

  test("mixedScriptCensus: confusable triangle flags, legit bilingual passes") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "pаypal visits Ηello"), // Cyr-a + Greek-Eta mixes
        Row(2L, "тест plain"), // pure Cyr + pure Latin: no
        Row(3L, "東京Tokyo café 42"), // Han+Latin legit; Latin-1 é
        Row(4L, "αб"),                   // Greek+Cyrillic in one token
        Row(5L, ""), Row(6L, null),
        Row(7L, "x9×y"))), // × (00D7) carved out of the Latin range
      schema)
    val out = TextFunctions.mixedScriptCensus(df, "id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getString(3))))).toMap
    assert(out(1L) == ((3L, 2L, Some("pаypal"))), out(1L).toString)
    assert(out(2L) == ((2L, 0L, None)))
    assert(out(3L) == ((3L, 0L, None)), "Han+Latin must stay unflagged")
    assert(out(4L) == ((1L, 1L, Some("αб"))))
    assert(out(5L) == ((0L, 0L, None)) && out(6L) == ((0L, 0L, None)))
    assert(out(7L) == ((1L, 0L, None)), "multiplication sign is not a letter")
    // fuzz vs an independent range classifier
    val rnd = new scala.util.Random(1511)
    val pool = "abZéøœαΩбЯ中9.- "
    val cases = (1L to 120L).map { i =>
      (i, (0 until rnd.nextInt(30)).map(_ => pool(rnd.nextInt(pool.length)))
        .mkString)
    }
    def cls(c: Char): Int = // the documented ranges, transcribed
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= 0xC0 && c <= 0xD6) || (c >= 0xD8 && c <= 0xF6) ||
        (c >= 0xF8 && c <= 0x24F)) 1
      else if (c >= 0x370 && c <= 0x3FF) 2
      else if (c >= 0x400 && c <= 0x4FF) 3
      else 0
    def refMixed(t: String): Boolean =
      t.map(cls).filter(_ > 0).distinct.size >= 2
    val got = TextFunctions.mixedScriptCensus(
        spark.createDataFrame(
          spark.sparkContext.parallelize(cases.map(c => Row(c._1, c._2))),
          schema), "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    cases.foreach { case (i, s) =>
      val want = s.trim.split("\\s+").filter(_.nonEmpty)
        .count(refMixed).toLong
      assert(got(i) == want, s"case $i '$s': got ${got(i)}, want $want")
    }
  }

  test("langId picks dominant stopword profile") {
    val out = docs.select(col("id"), TextFunctions.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(5L) == "de")
    assert(out(4L) == "und") // no hits → undetermined
  }

  test("quality score in [0,1], zero for empty") {
    val out = docs.select(col("id"), TextFunctions.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.values.forall(q => q >= 0.0 && q <= 1.0))
    assert(out(4L) == 0.0)
  }

  test("wordShingles: n-grams distinct, short docs fall back to whole text") {
    val out = docs.select(col("id"),
      TextFunctions.wordShingles(col("text"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L).length == 7) // 9 tokens → 7 trigrams
    assert(out(1L).contains("the quick brown"))
    assert(out(4L) == Seq("")) // degenerate doc → single whole-text shingle
  }

  test("minhash signatures: identical docs agree, similar docs mostly agree") {
    val sig = Dedup.minhashSignature(col("text"), 3, 32)
    val out = docs.select(col("id"), sig.as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L).length == 32)
    val agree12 = out(1L).zip(out(2L)).count { case (a, b) => a == b }
    val agree13 = out(1L).zip(out(3L)).count { case (a, b) => a == b }
    assert(agree12 > agree13) // fox/dog vs fox/cat share most shingles
  }

  test("estJaccard ranks similar pairs above dissimilar") {
    val sigs = docs.select(col("id"), Dedup.minhashSignature(col("text"), 3, 32).as("sig"))
    val pairs = sigs.as("a").crossJoin(sigs.as("b"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        Dedup.estJaccard(col("a.sig"), col("b.sig")).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) > pairs((1L, 3L)))
  }

  test("simhash: hamming distance small for near-dups, large for distinct") {
    val out = docs.select(col("id"), Dedup.simhash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(out(1L), out(2L)) < ham(out(1L), out(3L)))
  }

  test("ngramJaccardPairs finds the near-dup pair exactly") {
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", 3, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("connectedComponents + dropNearDuplicates: canonical doc per cluster") {
    import org.apache.spark.sql.types._
    val pSchema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType)))
    // chain 1-2-3 (one cluster), pair 5-6; 4 unpaired
    val pairs = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, 2L), Row(2L, 3L), Row(5L, 6L))), pSchema)
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))

    val dSchema = StructType(Seq(StructField("doc_id", LongType)))
    val corpus = spark.createDataFrame(
      spark.sparkContext.parallelize((1L to 6L).map(Row(_))), dSchema)
    val kept = Dedup.dropNearDuplicates(corpus, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L)) // canonical per cluster + unpaired
  }

  test("banded simhash pairs == quadratic all-pairs (pigeonhole recall is exactly 1)") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text")).limit(200)
    val sh = docs.select(col("doc_id").as("id"), Dedup.simhash(col("text")).as("sh"))
    // radius 3 (uniform 16-bit blocks) and radius 8 (non-uniform 7/8-bit
    // blocks — exercises the uneven 64/9 split)
    for (radius <- Seq(3, 8)) {
      val banded = Dedup.simhashNearDupPairs(docs, "doc_id", "text", radius)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
        .where(bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= radius)
        .select(col("a.id"), col("b.id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == brute, s"radius $radius: banded != brute force")
    }
  }

  test("connectedComponents: 60-node chain converges via pointer jumping, reliable checkpoint") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val pSchema = StructType(Seq(
        StructField("id_a", LongType), StructField("id_b", LongType)))
      // a pure chain 0-1-2-…-59: diameter 59, the worst case for plain
      // label propagation (59 rounds); pointer jumping needs ~log2(60)
      val pairs = spark.createDataFrame(spark.sparkContext.parallelize(
        (0L until 59L).map(i => Row(i, i + 1))), pSchema)
      val cc = Dedup.connectedComponents(pairs, maxIter = 10, strict = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc.size == 60 && cc.values.forall(_ == 0L))
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("connectedComponents: strict mode surfaces non-convergence") {
    import org.apache.spark.sql.types._
    val pSchema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType)))
    val pairs = spark.createDataFrame(spark.sparkContext.parallelize(
      (0L until 59L).map(i => Row(i, i + 1))), pSchema)
    intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxIter = 1, strict = true).collect()
    }
  }

  test("cosine similarity: exact and fast paths agree to 1e-9") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    val vecs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, Seq(1.0f, 0.0f, 1.0f)),
        Row(2L, Seq(1.0f, 0.1f, 0.9f)),
        Row(3L, Seq(-1.0f, 0.5f, 0.0f)))),
      schema)
    val q = Seq(1.0f, 0.0f, 1.0f)
    val out = vecs.select(col("id"),
      Similarity.cosine(col("v"), array(q.map(lit(_)): _*)).as("fast"),
      Similarity.cosineExact(col("v"), array(q.map(lit(_)): _*)).as("exact"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    out.foreach { case (_, fast, exact) => assert(math.abs(fast - exact) < 1e-9) }
    val byId = out.map(t => t._1 -> t._2).toMap
    assert(byId(1L) > byId(2L) && byId(2L) > byId(3L))
  }

  test("argmax_dot_exact ≡ composed array_position(array_max) over exact dots") {
    // the fused two-phase kernel replaced the k-column composition on the
    // k-means assignment path; the decimal fallback must fire on exact
    // ties (duplicate centroid → FIRST index wins) and null totality must
    // match the composed form (null element / length mismatch → null)
    val rnd = new scala.util.Random(7)
    val dim = 16
    val cents: Array[Array[Double]] = Array.tabulate(6, dim)((_, _) =>
      (rnd.nextDouble() - 0.5) * 2)
    cents(4) = cents(2).clone() // exact decimal tie: 2 must beat 4
    val vecs: Seq[Seq[java.lang.Float]] = (0 until 200).map(_ =>
      Seq.fill(dim)(java.lang.Float.valueOf((rnd.nextFloat() - 0.5f) * 4f))) ++ Seq(
      cents(2).map(d => java.lang.Float.valueOf(d.toFloat)).toSeq, // sits ON the duplicated centroid
      Seq.fill(dim)(java.lang.Float.valueOf(0.0f)),                // all-zero: every dot ties at 0
      (Seq(null: java.lang.Float) ++ Seq.fill(dim - 1)(java.lang.Float.valueOf(1.0f))), // null elem
      Seq(java.lang.Float.valueOf(1.0f)))                          // length mismatch
    val schema = StructType(Seq(StructField("v", ArrayType(FloatType, containsNull = true))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vecs.map(Row(_)), 4), schema)
    val composed = {
      val dots = array(cents.map(c =>
        Similarity.dotExact(col("v"), array(c.map(lit(_)): _*))): _*)
      (array_position(dots, array_max(dots)) - 1).cast("int")
    }
    val out = df.select(
      graft.plans.HashExpressions.argMaxDotExact(col("v"), cents.flatten, dim).as("k"),
      composed.as("c")).collect()
    out.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null drift: $r")
      if (!r.isNullAt(0)) assert(r.getInt(0) == r.getInt(1), s"argmax drift: $r")
    }
    // the tie rows really resolved to the smaller duplicate index
    val tieRow = df.where(size(col("v")) === dim)
      .select(graft.plans.HashExpressions.argMaxDotExact(col("v"), cents.flatten, dim))
      .collect().map(r => if (r.isNullAt(0)) -1 else r.getInt(0))
    assert(!tieRow.contains(4), "duplicate centroid 4 must never win over 2")
  }

  test("native dot_exact_f is bit-identical to the HOF decimal formulation") {
    // the native kernel replaced the interpreted aggregate/zip_with tree
    // on every oracle-hashed exact-cosine path — any drift here is a
    // silent corpus-wide hash mismatch, so pin ALL the corners
    val rnd = new scala.util.Random(42)
    val fVecs: Seq[Seq[java.lang.Float]] = (0 until 50).map(_ =>
      Seq.fill(64)(java.lang.Float.valueOf((rnd.nextFloat() - 0.5f) * 4f)))
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType, containsNull = true)),
      StructField("b", ArrayType(FloatType, containsNull = true))))
    val edge: Seq[(Seq[java.lang.Float], Seq[java.lang.Float])] = Seq(
      (Seq.empty, Seq.empty),                       // empty → 0.0
      (Seq(1.0f: java.lang.Float), Seq.empty),      // length mismatch → null
      (Seq(1.0f: java.lang.Float, null), Seq(2.0f: java.lang.Float, 3.0f: java.lang.Float)), // null elem → null
      (Seq(-0.0f: java.lang.Float, 2.5f: java.lang.Float),
        Seq(3.0f: java.lang.Float, -1.25f: java.lang.Float)))
    val rows = (fVecs.zip(fVecs.reverse) ++ edge).map { case (a, b) => Row(a, b) }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val out = df.select(
      Similarity.dotExact(col("a"), col("b")).as("native"),
      Similarity.dotExactHof(col("a"), col("b")).as("hof")).collect()
    out.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null drift: $r")
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), s"bit drift: $r")
    }
    // double-typed operands (literal query vectors) take the same path
    val dOut = df.select(
      Similarity.dotExact(col("a"),
        transform(col("b"), x => x.cast("double"))).as("native"),
      Similarity.dotExactHof(col("a"),
        transform(col("b"), x => x.cast("double"))).as("hof")).collect()
    dOut.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
    }
    // decimal overflow and non-finite products are LOUD (ANSI-mode
    // parity: the HOF's decimal cast throws under Spark 4 defaults)
    for (bad <- Seq(Seq(1e8f, 1e8f).map(java.lang.Float.valueOf),
      Seq(java.lang.Float.valueOf(Float.NaN)))) {
      val one = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(bad, bad))), schema)
      val ex = intercept[Exception] {
        one.select(Similarity.dotExact(col("a"), col("b"))).collect()
      }
      assert(ex.getMessage != null)
    }
  }

  test("bruteForceTopK returns k best, self first") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = e.where(col("vec_id") === 7).select("embedding")
      .collect().head.getSeq[Float](0).toArray
    val top = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 5)
    val rows = top.collect()
    assert(rows.length == 5)
    assert(rows.head.getLong(0) == 7L) // self-similarity = 1.0
    val cosines = rows.map(_.getDouble(1))
    assert(cosines.sameElements(cosines.sorted.reverse))
  }

  test("ivfTopK: probed ANN finds the exact top-1 for an in-corpus query") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = e.where(col("vec_id") === 7).select("embedding")
      .collect().head.getSeq[Float](0).toArray
    val top = Similarity.ivfTopK(e, "vec_id", "embedding", q, 5,
      nCentroids = 8, nProbe = 8) // probe all buckets → exact
    val rows = top.collect()
    assert(rows.nonEmpty && rows.head.getLong(0) == 7L) // self is nearest
    // partial probing returns a subset of the full ranking
    val partial = Similarity.ivfTopK(e, "vec_id", "embedding", q, 5,
      nCentroids = 8, nProbe = 2).collect()
    assert(partial.nonEmpty)
    val fullIds = rows.map(_.getLong(0)).toSet
    assert(partial.map(_.getDouble(1)).forall(c => c <= rows.head.getDouble(1)))
  }

  test("langId and stopwordRatio are case-insensitive") {
    import spark.implicits._
    val df = Seq("THE CAT IS IN THE HAT", "the cat is in the hat").toDF("text")
      .select(TextFunctions.langId(col("text")).as("lang"),
        TextFunctions.stopwordRatio(col("text")).as("sr"))
    val rows = df.collect()
    assert(rows.forall(_.getString(0) == "en"), rows.mkString(","))
    assert(rows(0).getDouble(1) == rows(1).getDouble(1))
    assert(rows(0).getDouble(1) > 0.4)
  }

  test("dotNative: length mismatch and null elements yield null, not a prefix dot") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)),      // ok: 11.0
      (2L, Seq(1.0f, 2.0f, 9.0f), Seq(3.0f, 4.0f)) // mismatch: null
    ).toDF("id", "a", "b")
    val got = df.select(col("id"), Similarity.dotNative(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(got == Map(1L -> 11.0, 2L -> null))
  }

  /** Driver-side union-find over a pair list: node -> min id of its
    * component (union by min root keeps every root its component's min).
    */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connectedComponents keeps self-pair-only nodes as singletons") {
    import spark.implicits._
    val pairs = Seq((5L, 5L), (1L, 2L))
    val cc = labelMap(Dedup.connectedComponents(pairs.toDF("id_a", "id_b")))
    assert(cc == unionFind(pairs))
    assert(cc == Map(5L -> 5L, 1L -> 1L, 2L -> 1L))
  }

  test("lshBitsFor tracks corpus size with clamps") {
    assert(Similarity.lshBitsFor(100, 32) == 4)            // floor clamp
    assert(Similarity.lshBitsFor(1024, 32) == 5)           // 32 buckets
    assert(Similarity.lshBitsFor(1000000, 32) == 15)
    assert(Similarity.lshBitsFor(Long.MaxValue, 1) == 30)  // ceiling clamp
    // monotone non-decreasing in corpus size
    val sizes = Seq(100L, 10000L, 1000000L, 100000000L)
    val bits = sizes.map(Similarity.lshBitsFor(_, 32))
    assert(bits == bits.sorted)
  }

  test("refineCentroids: spherical-Lloyd rounds tighten the quantizer") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val (_, seeds) = Similarity.ivfAssign(e, "vec_id", "embedding", 8)
    val refined = Similarity.refineCentroids(e, "embedding", seeds, 2)
    assert(refined.length == seeds.length)
    assert(refined.forall(c => math.abs(c.map(x => x * x).sum - 1.0) < 1e-9),
      "refined centroids must be unit-normalized")
    // clustering objective: mean cosine of each vector to its assigned
    // (unit) centroid must improve over the raw hash-sampled seeds
    def objective(cents: Array[Array[Double]]): Double = {
      val unit = cents.map { c =>
        val n = math.sqrt(c.map(x => x * x).sum); c.map(_ / n)
      }
      val dim = unit.head.length
      val vecs = e.select("embedding").collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
      vecs.map { v =>
        val nv = math.sqrt(v.map(x => x * x).sum)
        unit.map(c => c.zip(v).map { case (a, b) => a * b }.sum / nv).max
      }.sum / vecs.length
    }
    assert(objective(refined) > objective(seeds),
      "Lloyd rounds should tighten mean cosine to assigned centroid")
    // exhaustive probing stays exact with the refined quantizer
    val q = e.where(col("vec_id") === 7).select("embedding")
      .collect().head.getSeq[Float](0).toArray
    val top = Similarity.ivfTopK(e, "vec_id", "embedding", q, 5,
      nCentroids = 8, nProbe = 8, kmeansIters = 2).collect()
    assert(top.head.getLong(0) == 7L)
  }

  test("lsh bucket: same vector → same bucket; ANN recall sanity") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val b = e.select(col("vec_id"),
      Similarity.lshBucket(col("embedding"), 64, 8).as("bucket"))
    val counts = b.groupBy("bucket").count().collect()
    assert(counts.length > 1) // buckets actually split the space
  }

  test("winnowFingerprints: identity, shared-substring guarantee, edit locality") {
    import spark.implicits._
    val k = 5; val w = 8
    def fps(texts: String*): Seq[Set[Long]] =
      texts.toSeq.toDF("t")
        .select(TextFunctions.winnowFingerprints(col("t"), k, w))
        .collect().toSeq.map(_.getSeq[Long](0).toSet)
    // identical text → identical fingerprint set
    val Seq(a1, a2) = fps("the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy dog")
    assert(a1 == a2 && a1.nonEmpty)
    // guarantee: a shared substring of length >= w+k-1 (12 chars) forces
    // at least one shared fingerprint, regardless of surrounding text
    val common = "zqxjkvbwpfmg hydra" // 18 chars >= w+k-1
    val Seq(b1, b2) = fps(s"left context AAA $common more after",
      s"totally different $common other tail BBB")
    assert((b1 & b2).nonEmpty, "winnowing guarantee violated")
    // edit locality: one edit in a long text leaves most fingerprints alike
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val edited = base.replace("token20", "tokenXX")
    val Seq(c1, c2) = fps(base, edited)
    val overlap = (c1 & c2).size.toDouble / (c1 | c2).size
    assert(overlap > 0.6, s"overlap $overlap")
    // short-text fallback: below k chars still fingerprints
    assert(fps("ab").head.size == 1)
    // SQL registration round-trips
    graft.GraftSession.registerFunctions(spark)
    val viaSql = spark.sql(
      "SELECT winnow_fingerprints('the quick brown fox jumps over the lazy dog', 5, 8) AS fp")
      .collect().head.getSeq[Long](0).toSet
    assert(viaSql == a1)
  }

  test("connectedComponents equals driver union-find on chains and docs") {
    import spark.implicits._
    // 40-node chain + a triangle + an isolated pair
    val chain = (0L until 39L).map(i => (i, i + 1))
    val extra = Seq((100L, 101L), (101L, 102L), (100L, 102L), (200L, 201L))
    val cc = labelMap(Dedup.connectedComponents((chain ++ extra).toDF("id_a", "id_b")))
    assert(cc == unionFind(chain ++ extra))
    assert(cc(39L) == 0L && cc(102L) == 100L && cc(201L) == 200L)
    // real near-dup pairs from the documents table
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val docPairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
    val pairs = docPairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty)
    assert(labelMap(Dedup.connectedComponents(docPairs)) == unionFind(pairs))
  }

  test("cosineNearDupBlocked equals driver-side brute force within blocks") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val tau = 0.3
    val got = Similarity.cosineNearDupBlocked(e, "vec_id", "embedding", "label", tau)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force on the driver (exact double math; tau is far from any
    // pair's cosine so double-vs-decimal rounding cannot flip membership)
    val vecs = e.select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val want = (for {
      (ia, va, la) <- vecs; (ib, vb, lb) <- vecs
      if la == lb && ia < ib && cos(va, vb) >= tau
    } yield (ia, ib)).toSet
    assert(got == want)
    assert(got.nonEmpty)
    // salted variant: identical pairs, just more tasks per block
    val salted = Similarity.cosineNearDupBlocked(
      e, "vec_id", "embedding", "label", tau, saltBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted == want)
  }

  // Mutual-kNN edges: every edge is normalized (id_a < id_b), present in
  // BOTH directions of the underlying kNN graph, and the exhaustive-probe
  // result equals the driver-side brute-force mutual graph.
  test("mutualKnnEdges equals brute-force mutual top-k graph") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val k = 4
    val got = Similarity.mutualKnnEdges(e, "vec_id", "embedding", k,
        nCentroids = 8, nProbe = 8, kmeansIters = 1, saltBuckets = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.forall { case (a, b) => a < b })
    val vecs = e.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val topk = vecs.map { case (id, v) =>
      id -> vecs.filter(_._1 != id)
        .map { case (j, w) => (j, cos(v, w)) }
        .sortBy { case (j, c) => (-c, j) }.take(k).map(_._1).toSet
    }.toMap
    val want = (for {
      (a, na) <- topk.toSeq; b <- na
      if a < b && topk(b).contains(a)
    } yield (a, b)).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  // SemDeDup: the learned-cluster variant at nCentroids=1 degenerates to
  // global all-pairs dedup — pin it against the explicit brute-force
  // chain (all-pairs blocked on a constant + drop). Also sanity-check
  // that real clustering keeps a superset of rows (within-cluster pairs
  // are a subset of global pairs, so fewer rows get dropped).
  test("semanticDedupClustered at one cluster equals the brute-force chain") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val tau = 0.3
    val got = Similarity.semanticDedupClustered(
        e, "vec_id", "embedding", tau, nCentroids = 1, kmeansIters = 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val allPairs = Similarity.cosineNearDupBlocked(
      e.withColumn("one", lit(1)), "vec_id", "embedding", "one", tau)
    val want = Dedup.dropNearDuplicates(e, "vec_id", allPairs)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(got.size < e.count()) // something was actually dropped
    val clustered = Similarity.semanticDedupClustered(
        e, "vec_id", "embedding", tau, nCentroids = 8, kmeansIters = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.subsetOf(clustered))
  }

  // DBSCAN on crafted 2D geometry: angles make every ε-decision wide
  // (margins ≫ float error), so roles and labels are hand-checkable.
  test("dbscan: cores, border takes smallest adjacent cluster, noise, blocking") {
    import spark.implicits._
    def v(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    // block 0: dense cluster A (0..6°, all pairwise cos ≥ cos6° ≈ .9945),
    // border at 14° (ε-adjacent to 4° and 6° only at τ=.98 ≈ 11.5°),
    // noise at 60°, dense cluster B at 90..96°.
    // block 1: a point at 8° — inside A's ε-ball but UNREACHABLE across
    // the block boundary, so it must come out noise.
    val rows = Seq(
      (1L, v(0), 0), (2L, v(2), 0), (3L, v(4), 0), (4L, v(6), 0),
      (5L, v(14), 0), (6L, v(60), 0),
      (7L, v(90), 0), (8L, v(92), 0), (9L, v(94), 0), (10L, v(96), 0),
      (11L, v(8), 1))
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.dbscan(df, "vec_id", "embedding", "label",
        minCos = 0.98, minPts = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got == Map(
      1L -> ("core", Some(1L)), 2L -> ("core", Some(1L)),
      3L -> ("core", Some(1L)), 4L -> ("core", Some(1L)),
      5L -> ("border", Some(1L)), 6L -> ("noise", None),
      7L -> ("core", Some(7L)), 8L -> ("core", Some(7L)),
      9L -> ("core", Some(7L)), 10L -> ("core", Some(7L)),
      11L -> ("noise", None)))
    // looser minPts: the border point becomes core and joins cluster 1;
    // at minPts=1 even the isolated points are singleton cores
    val loose = Similarity.dbscan(df, "vec_id", "embedding", "label",
        minCos = 0.98, minPts = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(loose(5L) == ("core", Some(1L)))
    val single = Similarity.dbscan(df, "vec_id", "embedding", "label",
        minCos = 0.98, minPts = 1)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(single(6L) == ("core", Some(6L)) && single(11L) == ("core", Some(11L)))
    // salted pair generation changes nothing
    val salted = Similarity.dbscan(df, "vec_id", "embedding", "label",
        minCos = 0.98, minPts = 4, saltBuckets = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(salted == got)
  }

  test("recordLinkage: weights, tolerance, threshold, keep-best ties, nulls") {
    import spark.implicits._
    val a = Seq(
      (1L, 1, "alice smith", "555-0001", "gold"),
      (2L, 1, "bob jones", "555-0002", "iron"),
      (3L, 2, "carol wu", null.asInstanceOf[String], "gold"))
      .toDF("id", "blk", "name", "phone", "seg")
    val b = Seq(
      (10L, 1, "alice smith", "555-0001", "gold"),  // exact: 80
      (11L, 1, "alice smyth", "555-0001", "iron"),  // name d=1 + phone: 70
      (12L, 1, "zelda quux", "555-0002", "iron"),   // phone+seg only: 40 (drop)
      (13L, 1, "bob jonesx", "555-0002", "iron"),   // name d=1+phone+seg: 80
      (14L, 1, "bob jonesy", "555-0002", "iron"),   // same 80 — tie on id_b
      (15L, 2, "carol wu", null.asInstanceOf[String], "gold"), // null ≠ null: 50
      (16L, 3, "alice smith", "555-0001", "gold"))  // other block: no pair
      .toDF("id", "blk", "name", "phone", "seg")
    val fields = Seq(Dedup.LinkField("name", "name", 40L, 1),
      Dedup.LinkField("phone", "phone", 30L), Dedup.LinkField("seg", "seg", 10L))
    val all = Dedup.recordLinkage(a, b, "id", "id", "blk", "blk", fields,
        minScore = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(all == Map(
      (1L, 10L) -> (80L, 3L), (1L, 11L) -> (70L, 2L),
      (2L, 13L) -> (80L, 3L), (2L, 14L) -> (80L, 3L),
      (3L, 15L) -> (50L, 2L)))
    val best = Dedup.recordLinkage(a, b, "id", "id", "blk", "blk", fields,
        minScore = 50L, keepBest = true)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(best == Map(1L -> (10L, 80L), 2L -> (13L, 80L), 3L -> (15L, 50L)))
  }

  test("editDistancePairs equals the naive quadratic join at several radii") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType)))
    // shared boilerplate prefix (stop-grams), duplicates, inserts/deletes,
    // and an unrelated string
    val names = Seq(
      1L -> "item#0001", 2L -> "item#0002", 3L -> "item#0012",
      4L -> "item#0001", 5L -> "item#00012", 6L -> "totally different",
      7L -> "item#9999")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(names.map { case (i, s) => Row(i, s) }), schema)
    for (k <- Seq(0, 1, 2); q <- Seq(2, 3)) {
      val got = Dedup.editDistancePairs(df, "id", "s", k, q)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = (for {
        (ia, sa) <- names; (ib, sb) <- names if ia < ib
        d = levenshteinRef(sa, sb) if d <= k
      } yield (ia, ib) -> d.toLong).toMap
      assert(got == want, s"maxDist=$k q=$q")
    }
  }

  test("editDistancePairs rejects strings too short for the gram bound") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "ab"), Row(2L, "abcdef"))), schema)
    val ex = intercept[Exception] {
      Dedup.editDistancePairs(df, "id", "s", maxDist = 2, q = 2).collect()
    }
    assert(ex.getMessage.contains("shorter") ||
      Option(ex.getCause).exists(_.getMessage.contains("shorter")))
  }

  test("productQuantize: corpus-sized codebooks are lossless; small ones rank well") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = e.where(col("vec_id") =!= 0)
    val n = corpus.count().toInt

    // lossless regime: k >= distinct subvectors -> exact reconstruction
    val (enc, books) = Similarity.productQuantize(corpus, "vec_id", "embedding",
      m = 4, k = n)
    val d = books(0)(0).length
    val sample = enc.select(col("vec_id"), col("embedding"), col("pq_codes"))
      .orderBy("vec_id").limit(20).collect()
    sample.foreach { r =>
      val vec = r.getSeq[Float](1).map(_.toDouble)
      val codes = r.getSeq[Int](2)
      val rebuilt = codes.zipWithIndex.flatMap { case (c, j) => books(j)(c) }
      assert(rebuilt == vec, s"vec ${r.getLong(0)} not lossless")
    }

    // approximate regime: tiny Lloyd-refined codebooks still put the true
    // top-10 inside the ADC top-50 on this corpus (fully deterministic:
    // hash-sample init, no RNG)
    val qv = e.where(col("vec_id") === 0).select(col("embedding"))
      .collect().head.getSeq[Float](0).toArray
    val (encA, booksA) = Similarity.productQuantize(corpus, "vec_id", "embedding",
      m = 8, k = 32, lloydIters = 2)
    val cand = Similarity.pqCandidates(encA, booksA, qv, topN = 50)
      .collect().map(_.getLong(0)).toSet
    val q = array(qv.map(v => lit(v)): _*)
    val truth = corpus
      .select(col("vec_id"), Similarity.cosine(col("embedding"), q).as("cos"))
      .orderBy(col("cos").desc).limit(10).collect().map(_.getLong(0)).toSet
    val recall = truth.intersect(cand).size / 10.0
    assert(recall >= 0.5, s"ADC recall@10-in-50 too low: $recall")
  }

  /** Reference Levenshtein for the spec oracle. */
  private def levenshteinRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }
  // The "fingerprint-then-verify" production step promised by the
  // winnowing risk note: a crafted key collision (same fingerprint,
  // different bytes) must be caught, never silently merged.
  test("verifyGroups: byte-exact compare catches fingerprint collisions") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("fp", StringType), StructField("text", StringType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "k1", "same text"), Row(2L, "k1", "same text"), // true dups
      Row(3L, "k2", "text A"), Row(4L, "k2", "text B"),       // collision!
      Row(5L, "k3", "solo"))), schema)
    val v = Dedup.verifyGroups(df, "fp", "text").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(v("k1") == ((2L, 1L, true)))
    assert(v("k2") == ((2L, 2L, false))) // the collision is caught
    assert(v("k3") == ((1L, 1L, true)))
    // keepIdCol: the survivor pick rides the same pass
    val withKeep = Dedup.verifyGroups(df, "fp", "text", keepIdCol = Some("doc_id"))
      .collect().map(r => r.getString(0) -> ((r.getLong(4), r.getBoolean(3)))).toMap
    assert(withKeep == Map("k1" -> ((1L, true)), "k2" -> ((3L, false)),
      "k3" -> ((5L, true))))
  }
  // Batch kNN join ≡ per-query brute force (deterministic synthetic
  // vectors; ties and ranks must agree exactly).
  test("knnJoin equals per-query brute-force top-k") {
    import org.apache.spark.sql.types._
    val dim = 8
    def vec(seed: Long): Array[Float] =
      Array.tabulate(dim)(d => (((seed * 31 + d * 17) % 13) - 6).toFloat / 7f)
    val schema = StructType(Seq(StructField("vid", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    val all = (0L until 40L).map(i => Row(i, vec(i).toSeq))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(all), schema)
    val queries = df.where(col("vid") < 5)
    val corpus = df.where(col("vid") >= 5)
    val got = Similarity.knnJoin(queries, corpus, "vid", "v", "vid", "v",
        k = 3, margin = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    // driver-side brute force with the same exact-ranking rule
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = a.map(x => x.toDouble * x.toDouble).sum
      val nb = b.map(x => x.toDouble * x.toDouble).sum
      BigDecimal(dot / math.sqrt(na * nb))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = (0L until 5L).flatMap { q =>
      (5L until 40L).map(c => (c, cos(vec(q), vec(c))))
        .sortBy(t => (-t._2, t._1)).take(3).zipWithIndex
        .map { case ((c, _), i) => (q, c, (i + 1).toLong) }
    }.toSet
    assert(got == want)
  }
  // Blocked kNN join (no query broadcast): with every bucket probed the
  // candidate universe is the whole corpus, so the result must equal the
  // broadcast knnJoin bit-for-bit — ids, exact cosines, AND ranks —
  // including under salting and self-exclusion.
  test("knnJoinBlocked with exhaustive probing equals knnJoin exactly") {
    val dim = 8
    def vec(seed: Long): Array[Float] =
      Array.tabulate(dim)(d => (((seed * 31 + d * 17) % 13) - 6).toFloat / 7f)
    val schema = StructType(Seq(StructField("vid", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    val all = (0L until 40L).map(i => Row(i, vec(i).toSeq))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(all, 4), schema)
    val queries = df.where(col("vid") < 5)
    val corpus = df.where(col("vid") >= 5)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val exact = rows(Similarity.knnJoin(queries, corpus, "vid", "v", "vid", "v",
      k = 3, margin = 5))
    val blocked = rows(Similarity.knnJoinBlocked(queries, corpus, "vid", "v", "vid", "v",
      k = 3, nCentroids = 4, nProbe = 4, margin = 5, saltBuckets = 2))
    assert(blocked == exact)
    // self-kNN graph: queries = corpus, identity pairs excluded
    val selfG = Similarity.knnJoinBlocked(df, df, "vid", "v", "vid", "v",
      k = 2, nCentroids = 4, nProbe = 4, kmeansIters = 1, excludeSelf = true)
      .collect()
    assert(selfG.forall(r => r.getLong(0) != r.getLong(1)))
    assert(selfG.groupBy(_.getLong(0)).size == 40)
    val selfExact = rows(Similarity.knnJoin(df, df, "vid", "v", "vid", "v",
      k = 2, excludeSelf = true))
    assert(selfG.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      == selfExact)
  }
  // Persisted IVF index: the probe consumes the PARQUET artifact, not
  // the live plans — round-trip must be lossless, exhaustive probing
  // must equal the exact kNN join bit-for-bit, and unindexable vectors
  // (null / zero-norm) must vanish from postings and probe output.
  test("ivfIndex: parquet round-trip probe equals live probe; exhaustive equals knnJoin") {
    import org.apache.spark.sql.types._
    val dim = 8
    def vec(seed: Long): Array[Float] =
      Array.tabulate(dim)(d => (((seed * 31 + d * 17) % 13) - 6).toFloat / 7f)
    val schema = StructType(Seq(StructField("vid", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    val all = (0L until 40L).map(i => Row(i, vec(i).toSeq))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(all, 4), schema)
    val queries = df.where(col("vid") < 5)
    val corpus = df.where(col("vid") >= 5)
    val (cents, postings) = Similarity.ivfIndex(corpus, "vid", "v",
      nCentroids = 4, rounds = 1)
    val tmp = java.nio.file.Files.createTempDirectory("ivfidx-spec").toString
    cents.write.parquet(s"$tmp/c")
    postings.write.partitionBy("cluster").parquet(s"$tmp/p")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val live = rows(Similarity.ivfProbeIndex(queries, "vid", "v",
      cents, postings, k = 3, nProbe = 4))
    val persisted = rows(Similarity.ivfProbeIndex(queries, "vid", "v",
      spark.read.parquet(s"$tmp/c"), spark.read.parquet(s"$tmp/p"),
      k = 3, nProbe = 4))
    assert(persisted == live, "parquet round-trip must be lossless")
    val exact = rows(Similarity.knnJoin(queries, corpus, "vid", "v", "vid", "v",
      k = 3, margin = 5))
    assert(persisted == exact, "exhaustive probing (nProbe = nCentroids) must be exact")
  }

  test("ivfIndex: null/zero-norm vectors are unindexed; sub-exhaustive probe well-formed") {
    import org.apache.spark.sql.types._
    val dim = 4
    val schema = StructType(Seq(StructField("vid", LongType),
      StructField("v", ArrayType(FloatType))))
    val rows0: Seq[Row] = Seq(
      Row(1L, Seq(1f, 0f, 0f, 0f)), Row(2L, Seq(0f, 1f, 0f, 0f)),
      Row(3L, Seq(0.9f, 0.1f, 0f, 0f)), Row(4L, Seq(0f, 0.9f, 0.2f, 0f)),
      Row(5L, null),                    // null vector: unindexable
      Row(6L, Seq(0f, 0f, 0f, 0f)))     // zero norm: no direction
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows0), schema)
    val (cents, postings) = Similarity.ivfIndex(df, "vid", "v",
      nCentroids = 2, rounds = 1)
    val filed = postings.select("id").collect().map(_.getLong(0)).toSet
    assert(filed == Set(1L, 2L, 3L, 4L), "null/zero vectors must not be filed")
    // a null-vector query has no direction → absent from the output;
    // sub-exhaustive probing returns contiguous ranks with exact cosines
    val out = Similarity.ivfProbeIndex(df, "vid", "v", cents, postings,
        k = 2, nProbe = 1, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.nonEmpty)
    assert(!out.exists(t => t._1 == 5L || t._1 == 6L))
    assert(!out.exists(t => t._2 == 5L || t._2 == 6L))
    out.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._4).sorted.toSeq == (1L to g.length).toSeq) }
    // value-correctness: each returned cosine equals the exact pair cosine
    def fv(i: Long) = rows0(i.toInt - 1).getSeq[Float](1).toArray
    def cosx(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = a.map(x => x.toDouble * x.toDouble).sum
      val nb = b.map(x => x.toDouble * x.toDouble).sum
      BigDecimal(dot / math.sqrt(na * nb))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    out.foreach { case (q, n, c, _) => assert(c == cosx(fv(q), fv(n))) }
  }

  // Incremental maintenance: appending arrivals under the frozen
  // quantizer must equal a from-scratch filing of the combined corpus
  // against the SAME centroids — and never touch the old postings.
  test("ivfIndexAppend: append ≡ rebuild under frozen centroids") {
    import org.apache.spark.sql.types._
    val dim = 8
    def vec(seed: Long): Array[Float] =
      Array.tabulate(dim)(d => (((seed * 31 + d * 17) % 13) - 6).toFloat / 7f)
    val schema = StructType(Seq(StructField("vid", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    val all = (0L until 40L).map(i => Row(i, vec(i).toSeq))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(all, 4), schema)
    val old = df.where(col("vid") < 25)
    val fresh = df.where(col("vid") >= 25)
    val (cents, oldPost) = Similarity.ivfIndex(old, "vid", "v",
      nCentroids = 4, rounds = 1)
    val appended = Similarity.ivfIndexAppend(cents, fresh, "vid", "v")
    def filed(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // appended rows carry only the arrivals
    assert(filed(appended).keySet == (25L until 40L).toSet)
    // and each files exactly where the frozen quantizer would put it in
    // a from-scratch pass over everything
    val rebuilt = filed(Similarity.ivfIndexAppend(cents, df, "vid", "v"))
    val combined = filed(oldPost) ++ filed(appended)
    assert(combined == rebuilt)
  }

  // PQ-compressed persisted index: no raw vectors in the postings; in
  // the lossless regime (codebook ⊇ every distinct subvector, no Lloyd
  // noise) ADC reconstruction is exact, so exhaustive probing must
  // recover the exact top-k NEIGHBOR SETS — and the whole artifact must
  // survive a parquet round-trip.
  test("ivfPqIndex: parquet round-trip, lossless-ADC exhaustive probe recovers exact sets") {
    import org.apache.spark.sql.types._
    val dim = 8
    def vec(seed: Long): Array[Float] =
      Array.tabulate(dim)(d => (((seed * 31 + d * 17) % 13) - 6).toFloat / 7f)
    val schema = StructType(Seq(StructField("vid", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    val all = (0L until 40L).map(i => Row(i, vec(i).toSeq))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(all, 4), schema)
    val queries = df.where(col("vid") < 5)
    val corpus = df.where(col("vid") >= 5)
    val (cents, bookDf, postings) = Similarity.ivfPqIndex(corpus, "vid", "v",
      nCentroids = 4, rounds = 1, m = 4, codebookK = 64, lloydIters = 0)
    // the artifact stores codes, never vectors
    assert(postings.schema.fieldNames.toSeq ==
      Seq("id", "cluster", "pq_codes", "recon_n2"))
    val tmp = java.nio.file.Files.createTempDirectory("ivfpq-spec").toString
    cents.write.parquet(s"$tmp/c")
    bookDf.write.parquet(s"$tmp/b")
    postings.write.partitionBy("cluster").parquet(s"$tmp/p")
    def topSets(d: org.apache.spark.sql.DataFrame) =
      d.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val probed = topSets(Similarity.ivfPqProbeIndex(queries, "vid", "v",
      spark.read.parquet(s"$tmp/c"), spark.read.parquet(s"$tmp/b"),
      spark.read.parquet(s"$tmp/p"), k = 3, nProbe = 4))
    val exact = topSets(Similarity.knnJoin(queries, corpus, "vid", "v",
      "vid", "v", k = 3, margin = 5))
    assert(probed == exact,
      "lossless ADC + exhaustive probing must recover the exact top-k sets")
  }

  // Probe-limited blocked kNN: recall < 1 is the documented IVF trade —
  // but whatever IS returned must be well-formed (contiguous ranks) and
  // value-correct (each pair's cosine equals the exact pair cosine).
  test("knnJoinBlocked sub-exhaustive probing: well-formed, value-correct") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val queries = e.where(col("vec_id") < 10)
    val part = Similarity.knnJoinBlocked(queries, e, "vec_id", "embedding",
      "vec_id", "embedding", k = 3, nCentroids = 8, nProbe = 2, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(part.nonEmpty)
    part.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._4).sorted.toSeq == (1L to g.length))
    }
    // spot-check pair values against the driver-computed pair cosine
    val byId = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cosD(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = a.map(x => x.toDouble * x.toDouble).sum
      val nb = b.map(x => x.toDouble * x.toDouble).sum
      dot / math.sqrt(na * nb)
    }
    part.take(10).foreach { case (q, n, cos, _) =>
      assert(math.abs(cos - cosD(byId(q), byId(n))) < 1e-6, s"pair ($q,$n)")
    }
  }
  // IVF→PQ cascade, structurally exact regime: all lists probed,
  // codebooks big enough to be lossless, ADC keeps everything → the
  // cascade must reproduce the exact brute-force top-k.
  test("ivfPqTopK exhaustive+lossless cascade equals brute force") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = e.where(col("vec_id") === 7).select("embedding")
      .collect().head.getSeq[Float](0).toArray
    val got = Similarity.ivfPqTopK(e, "vec_id", "embedding", q, k = 5,
      nCentroids = 8, nProbe = 8, m = 8, codebookK = 512, lloydIters = 0,
      adcTopN = 500)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 5, exact = true)
      .select(col("vec_id"), round(col("cos"), 9).as("cos"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == want.toSeq)
    // probe-limited cascade returns a subset of well-formed scores
    val part = Similarity.ivfPqTopK(e, "vec_id", "embedding", q, k = 5,
      nCentroids = 8, nProbe = 2, m = 8, codebookK = 32, lloydIters = 1,
      adcTopN = 50).collect()
    assert(part.nonEmpty && part.length <= 5)
  }

  test("knnJoin edges: corpus smaller than k, empty query side") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vid", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    def mk(rows: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val queries = mk(Seq(Row(0L, Seq(1f, 0f)), Row(1L, Seq(0f, 1f))))
    val corpus = mk(Seq(Row(10L, Seq(1f, 1f)), Row(11L, Seq(-1f, 0f))))
    // k far above corpus size: every neighbor returned, ranks 1..|corpus|
    val all = Similarity.knnJoin(queries, corpus, "vid", "v", "vid", "v", k = 9)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(all.length == 4) // 2 queries × full 2-row corpus
    assert(all.groupBy(_._1).values.forall(_.map(_._2).sorted.toSeq == Seq(1L, 2L)))
    // no queries → no rows (and no failure)
    val none = Similarity.knnJoin(queries.where(col("vid") < 0), corpus,
      "vid", "v", "vid", "v", k = 3)
    assert(none.count() == 0)
  }

  test("randomProject: basis vectors read the sign matrix back; map-only plan") {
    import spark.implicits._
    // e_d projects to column d of the sign matrix scaled by 1/√outDim
    val basis = (0 until 4).map(d =>
      (d.toLong, Array.tabulate(4)(i => if (i == d) 1.0f else 0.0f).toSeq))
    val df = basis.toDF("vid", "v")
    val out = Similarity.randomProject(df, "vid", "v", inDim = 4, outDim = 4,
        seed = 7)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val scale = 0.5 // 1/√4
    for (d <- 0 until 4; j <- 0 until 4)
      assert(out((d.toLong, j)) == Similarity.jlSign(7, j, d) * scale,
        s"(d=$d j=$j)")
    // whole operator is map-only: no exchange anywhere in the plan
    val plan = Similarity.randomProject(df, "vid", "v", 4, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("hardNegatives: exact different-label top-k, dense same-label region can't starve") {
    import spark.implicits._
    // cluster of label-0 vectors near e1, one label-1 vector slightly
    // off-axis, one label-1 vector far (orthogonal)
    val rows = Seq(
      (1L, 0, Seq(1f, 0f, 0f)),
      (2L, 0, Seq(0.99f, 0.1f, 0f)),
      (3L, 0, Seq(0.98f, 0.2f, 0f)),
      (4L, 1, Seq(0.9f, 0.4f, 0f)),
      (5L, 1, Seq(0f, 0f, 1f)),
      (6L, 0, null: Seq[Float]) // null vector drops silently
    ).toDF("vid", "label", "v")
    val out = Similarity.hardNegatives(rows, "vid", "v", "label", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(5)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // query 1 (label 0): nearest different-label is 4, then 5 — even
    // though same-label 2 and 3 are closer than 4
    assert(out((1L, 1L)) == ((4L, 1L)) && out((1L, 2L)) == ((5L, 1L)))
    // query 4 (label 1): negatives are the label-0 cluster, nearest first
    assert(out((4L, 1L))._1 == 3L)
    // every returned pair crosses the label boundary
    val all = Similarity.hardNegatives(rows, "vid", "v", "label", k = 3)
      .collect()
    assert(all.forall(r => r.getLong(1) != r.getLong(3)))
    // the null-vector row neither queries nor serves
    assert(all.forall(r => r.getLong(0) != 6L && r.getLong(2) != 6L))
  }

  test("principalComponent recovers a planted dominant axis; zero-variance → zeros") {
    import spark.implicits._
    // variance diag(6.5, 1, 0): dominant axis is dim 0
    val vecs = Seq(
      Seq(3f, 1f, 0f), Seq(-3f, 1f, 0f), Seq(2f, -1f, 0f), Seq(-2f, -1f, 0f))
      .toDF("v")
    val out = Similarity.principalComponent(vecs, "v", dim = 3, rounds = 4)
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out.values.forall(_._1 == 0.0))            // mean is exactly 0
    assert(out(0)._2 == 1.0)                          // max-abs lands on dim 0
    assert(math.abs(out(1)._2) < 0.01 && out(2)._2 == 0.0)
    // zero variance: every vector identical → loadings all zero, no NaN
    val flat = Seq(Seq(2f, 2f), Seq(2f, 2f)).toDF("v")
    val z = Similarity.principalComponent(flat, "v", dim = 2, rounds = 2)
      .collect().map(_.getDouble(2))
    assert(z.forall(_ == 0.0))
  }

  test("ngramContainmentPairs catches short-in-long excerpts Jaccard misses") {
    import spark.implicits._
    val excerpt = "alpha beta gamma delta epsilon zeta"
    val long = (1 to 60).map(i => s"tok$i").mkString(" ") + " " + excerpt
    val docs = Seq(
      (1L, excerpt),                 // 2 grams (6 tokens, n=5)
      (2L, long),                    // excerpt embedded in 60+ tokens
      (3L, "totally unrelated words about something else entirely here")
    ).toDF("doc_id", "text")
    val out = Dedup.ngramContainmentPairs(docs, "doc_id", "text", 5, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    // doc 1's grams all appear in doc 2: containment 1, Jaccard tiny
    assert(out.contains((1L, 2L)))
    val (c, j) = out((1L, 2L))
    assert(c == 1.0 && j < 0.1)
    // Jaccard at the same threshold misses the pair entirely
    val jp = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 5, 0.5).count()
    assert(jp == 0L)
  }

  test("dropNearDuplicatesKeepBest keeps the highest-scored cluster member") {
    import spark.implicits._
    val docs = Seq(
      (1L, 10L, "the quick brown fox jumps over the lazy dog"),
      (2L, 99L, "the quick brown fox jumps over the lazy dog again"), // best
      (3L, 50L, "the quick brown fox jumps over the lazy dog too"),
      (4L, 1L, "unrelated standalone document with its own words")
    ).toDF("doc_id", "score", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 5, 0.5)
    val kept = Dedup.dropNearDuplicatesKeepBest(docs, "doc_id", "score", pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(2L, 4L)) // min-id policy would have kept 1
    // score tie breaks to the smaller id
    val tied = docs.withColumn("score", lit(7L))
    val keptTied = Dedup.dropNearDuplicatesKeepBest(tied, "doc_id", "score",
        Dedup.ngramJaccardPairs(tied, "doc_id", "text", 5, 0.5))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(keptTied.toSeq == Seq(1L, 4L))
  }

  test("hybridNearDupDrop: text and semantic pairs bridge into one cluster") {
    import spark.implicits._
    // 1–2 textual dups; 2–3 semantic dups (same lang, near-identical
    // vectors) but textually disjoint; 4 unrelated. Bridge ⇒ {1,2,3}
    // cluster, min id 1 survives.
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog today"),
      (2L, "en", "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "en", "completely different phrasing of the same underlying idea"),
      (4L, "en", "unrelated text about parquet file compaction strategies")
    ).toDF("doc_id", "lang", "text")
    val embs = Seq(
      (1L, Seq(1f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f)),   // 2 and 3 aligned
      (3L, Seq(0.01f, 1f, 0f)),
      (4L, Seq(0f, 0f, 1f))
    ).toDF("vec_id", "embedding")
    val kept = Dedup.hybridNearDupDrop(docs, embs, "doc_id", "text",
        "vec_id", "embedding", "lang", minJaccard = 0.5, minCos = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L))
    // doc with no embedding row still dedups textually
    val kept2 = Dedup.hybridNearDupDrop(docs, embs.where(col("vec_id") > 2),
        "doc_id", "text", "vec_id", "embedding", "lang",
        minJaccard = 0.5, minCos = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept2.toSeq == Seq(1L, 3L, 4L)) // only the text pair now merges
  }

  test("principalComponents: deflation recovers the second planted axis") {
    import spark.implicits._
    val vecs = Seq(
      Seq(3f, 1f, 0f), Seq(-3f, 1f, 0f), Seq(2f, -1f, 0f), Seq(-2f, -1f, 0f))
      .toDF("v")
    val out = Similarity.principalComponents(vecs, "v", dim = 3,
        nComponents = 2, rounds = 4)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    // PC1 = dim 0 (variance 6.5), PC2 = dim 1 (variance 1), dim 2 is dead
    assert(out((0, 0)) == 1.0 && math.abs(out((0, 1))) < 0.01)
    assert(math.abs(out((1, 1))) == 1.0 && math.abs(out((1, 0))) < 0.01)
    assert(out((0, 2)) == 0.0 && out((1, 2)) == 0.0)
    // component 0 of the multi-component API ≡ the single-component API
    val single = Similarity.principalComponent(vecs, "v", dim = 3, rounds = 4)
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    for (d <- 0 until 3) assert(single(d) == out((0, d)))
  }

  test("kmeansAssign: separates planted directions; null/zero dropped; " +
    "repartition-invariant") {
    import spark.implicits._
    // two tight direction bundles + noise-free members, a null and a zero
    val rows: Seq[(Long, Seq[Float])] = Seq(
      1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(0.9f, 0.1f, 0f, 0f),
      3L -> Seq(0.95f, 0.05f, 0f, 0f),
      4L -> Seq(0f, 0f, 1f, 0f), 5L -> Seq(0f, 0.1f, 0.9f, 0f),
      6L -> Seq(0f, 0.05f, 0.95f, 0f),
      7L -> null, 8L -> Seq(0f, 0f, 0f, 0f))
    val df = rows.toDF("id", "v")
    val out = Similarity.kmeansAssign(df, "id", "v", k = 2, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // null and zero vectors dropped, everyone else assigned
    assert(out.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    val byCluster = out.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    // the two bundles land in different clusters (seeds = ids 1 and 2,
    // round 1 pulls centroid 1 to the second bundle)
    assert(byCluster.values.toSet ==
      Set(Set(1L, 2L, 3L), Set(4L, 5L, 6L)))
    // cosine to own centroid is high and within [-1, 1]
    assert(out.forall(t => t._3 > 0.9 && t._3 <= 1.0))
    // identical output under a different physical partitioning — the
    // decimal-exact discipline makes clustering layout-independent
    val re = Similarity.kmeansAssign(df.repartition(7), "id", "v", 2, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(re.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
  }

  test("kmeansTrain: k beyond distinct members keeps empty clusters at " +
    "their seed; centroids stay unit-norm") {
    import spark.implicits._
    val df = Seq(
      1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(0f, 1f, 0f, 0f),
      3L -> Seq(0f, 0.99f, 0.01f, 0f)).toDF("id", "v")
    val cents = Similarity.kmeansTrain(df, "id", "v", k = 3, rounds = 2)
    assert(cents.length == 3 && cents.forall(_.length == 4))
    // every centroid unit-norm to round-9 tolerance
    cents.foreach { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-6, s"non-unit centroid: ${c.toSeq}")
    }
    // cluster 0's seed direction (dim 0) has exactly one member, and it
    // stays there; empty-cluster carry never produces NaN
    assert(cents.forall(_.forall(x => !x.isNaN)))
  }
}
