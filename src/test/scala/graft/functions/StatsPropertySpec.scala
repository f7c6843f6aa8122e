package graft.functions

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Properties for the distributed selection/sketch operators, sampled
  * with fixed seeds (the scalatest/scalacheck bridge isn't on the
  * offline classpath — same pattern as ReducePropertySpec).
  */
@graft.Heavy // top-tier suite by measured wall time; excluded from `sbt smoke`
class StatsPropertySpec extends SparkSpec {

  // value pools that stress each regime: continuous, heavy-duplicate,
  // near-identical magnitudes, mixed signs
  private val valuesGen: Gen[List[Double]] = for {
    n <- Gen.chooseNum(1, 120)
    pool <- Gen.oneOf(
      Gen.chooseNum(-1e6, 1e6),
      Gen.oneOf(0.0, 1.0, 2.0),
      Gen.oneOf(1e15, 1e15 + 1, 1e15 + 2),
      Gen.chooseNum(-5.0, 5.0))
    xs <- Gen.listOfN(n, pool)
  } yield xs

  private def referenceQuantile(sorted: IndexedSeq[Double], p: Double): Double = {
    val pos = p * (sorted.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi) sorted(lo) else sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
  }

  test("exactQuantiles == driver-side sort+interpolate on 12 sampled multisets") {
    import spark.implicits._
    val probs = Seq(0.0, 0.1, 0.5, 0.9, 1.0)
    (1 to 12).foreach { i =>
      val xs = valuesGen(Gen.Parameters.default, Seed(i.toLong)).get
      val df = xs.toDF("v").repartition(3)
      // tiny buckets + tiny maxCollect force multi-pass refinement
      val got = Stats.exactQuantiles(df, "v", probs, buckets = 4, maxCollect = 5)
      val sorted = xs.sorted.toIndexedSeq
      val want = probs.map(p => referenceQuantile(sorted, p))
      probs.indices.foreach { j =>
        assert(got(j) == want(j) ||
          math.abs(got(j) - want(j)) <= math.ulp(want(j)) * 4,
          s"seed=$i p=${probs(j)}: ${got(j)} vs ${want(j)} (n=${xs.size})")
      }
    }
  }

  private val streamGen: Gen[List[String]] = for {
    n <- Gen.chooseNum(1, 400)
    xs <- Gen.listOfN(n, Gen.frequency(
      5 -> Gen.const("hot"), 3 -> Gen.const("warm"),
      4 -> Gen.oneOf((1 to 50).map(i => s"t$i"))))
  } yield xs

  test("quantileBucketByGroup == driver brute force on 12 sampled grouped multisets") {
    import spark.implicits._
    (1 to 12).foreach { i =>
      val xs = valuesGen(Gen.Parameters.default, Seed(1000L + i)).get
      // 1-5 groups of uneven sizes, some smaller than nBuckets
      val nGroups = 1 + i % 5
      val rows = xs.zipWithIndex.map { case (v, j) =>
        (j.toLong, s"g${j % nGroups}", v)
      }
      val nB = 2 + i % 9
      val got = Stats.quantileBucketByGroup(
          rows.toDF("id", "g", "v").repartition(3), "v", "g", nB)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      rows.groupBy(_._2).foreach { case (g, slice) =>
        val sorted = slice.map(_._3).sorted
        val n = sorted.size.toLong
        val cuts = (1 until nB).map(i2 => (i2 * n / nB).toInt).distinct
          .map(sorted(_))
        slice.foreach { case (id, _, v) =>
          assert(got(id) == cuts.count(_ <= v).toLong,
            s"seed $i group $g id $id value $v (n=$n, nB=$nB)")
        }
      }
    }
  }

  test("misraGries superset guarantee holds on 10 sampled streams x 3 capacities") {
    import spark.implicits._
    (1 to 10).foreach { i =>
      val xs = streamGen(Gen.Parameters.default, Seed(100L + i)).get
      val ds = spark.createDataset(xs).repartition(4)
      Seq(2, 5, 11).foreach { cap =>
        val summary = ds.select(Corpus.misraGries(cap).toColumn).head().toSet
        val exact = xs.groupBy(identity).view.mapValues(_.size)
          .filter(_._2 > xs.size / (cap + 1)).keySet
        assert(exact.subsetOf(summary),
          s"seed=$i cap=$cap: missing ${exact -- summary}")
        assert(summary.size <= cap)
      }
    }
  }
  // knnJoin must equal per-query driver-side brute force for arbitrary
  // vector sets — including duplicate vectors (cosine ties resolved by
  // neighbor id) and k beyond the corpus size.
  test("knnJoin == driver brute force on 8 sampled vector sets") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val dim = 6
    val schema = StructType(Seq(StructField("vid", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    val vecGen: Gen[Array[Float]] = Gen.oneOf(
      Gen.listOfN(dim, Gen.chooseNum(-4, 4).map(_.toFloat / 3f)),
      Gen.listOfN(dim, Gen.oneOf(-1f, 0f, 1f)) // duplicates + ties likely
    ).map(_.toArray).suchThat(a => a.exists(_ != 0f))
    def cosExact(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = a.map(x => x.toDouble * x.toDouble).sum
      val nb = b.map(x => x.toDouble * x.toDouble).sum
      BigDecimal(dot / math.sqrt(na * nb))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    (1 to 8).foreach { i =>
      val params = Gen.Parameters.default
      val nQ = Gen.chooseNum(1, 4).apply(params, Seed(i * 1000L)).get
      val nC = Gen.chooseNum(1, 25).apply(params, Seed(i * 1000L + 1)).get
      val k = Gen.chooseNum(1, 6).apply(params, Seed(i * 1000L + 2)).get
      val vecs = (0 until nQ + nC).map(j =>
        vecGen.apply(params, Seed(i * 1000L + 10 + j)).get)
      val rows = vecs.zipWithIndex.map { case (v, j) => Row(j.toLong, v.toSeq) }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      val queries = df.where(col("vid") < nQ)
      val corpus = df.where(col("vid") >= nQ)
      val got = Similarity.knnJoin(queries, corpus, "vid", "v", "vid", "v",
          k, margin = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      val want = (0 until nQ).flatMap { q =>
        (nQ until nQ + nC).map(c => (c.toLong, cosExact(vecs(q), vecs(c))))
          .sortBy(t => (-t._2, t._1)).take(k).zipWithIndex
          .map { case ((c, s), r) => (q.toLong, c, s, (r + 1).toLong) }
      }.toSet
      assert(got == want, s"sample $i (nQ=$nQ nC=$nC k=$k)")
    }
  }

  // --- grouped aucPieces ≡ the O(n²) Mann–Whitney pair count -------------
  // auc_num doubles the pair statistic: 2·#{score⁺ > score⁻} + #{ties},
  // so a brute-force pair walk is an exact independent oracle. Heavy tie
  // pools, null/NaN rows, one-class and single-row groups included.
  test("aucPiecesByGroup == brute-force pair counting on 15 sampled datasets") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("g", StringType), StructField("s", DoubleType),
      StructField("y", BooleanType)))
    val rowGen: Gen[(String, Option[Double], Option[Boolean])] = for {
      g <- Gen.oneOf("a", "b", "c", "d")
      s <- Gen.oneOf(Gen.oneOf(0.0, 1.0, 2.0).map(Some(_)),
        Gen.chooseNum(-5.0, 5.0).map(Some(_)),
        Gen.const(Option.empty[Double]),
        Gen.const(Some(Double.NaN)))
      y <- Gen.oneOf(Some(true), Some(false), Option.empty[Boolean])
    } yield (g, s, y)
    (1 to 15).foreach { i =>
      val n = Gen.chooseNum(1, 60).apply(Gen.Parameters.default, Seed(i.toLong)).get
      val rows = Gen.listOfN(n, rowGen)(Gen.Parameters.default,
        Seed(500L + i)).get
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (g, s, y) =>
          Row(g, s.map(Double.box).orNull, y.map(Boolean.box).orNull) }, 3),
        schema)
      val got = Stats.aucPieces(df, "s", "y", groupCols = Seq("g"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2),
            r.getDecimal(4).longValueExact, r.getDecimal(5).longValueExact)))
        .toMap
      val eligible = rows.collect {
        case (g, Some(s), Some(y)) if !s.isNaN => (g, s, y) }
      val want = eligible.groupBy(_._1).map { case (g, rs) =>
        val pos = rs.filter(_._3).map(_._2)
        val neg = rs.filterNot(_._3).map(_._2)
        val num = pos.iterator.map(p =>
          2L * neg.count(p > _) + neg.count(p == _)).sum
        g -> ((pos.size.toLong, neg.size.toLong, num,
          2L * pos.size * neg.size))
      }
      assert(got == want, s"sample $i")
    }
  }

  // --- pslRegisteredDomains ≡ a brute-force PSL walk --------------------
  // Independent reference: enumerate every candidate suffix, apply the
  // published precedence (exception wins, else longest, else the bare
  // TLD), take one more label. Random hosts × random rule subsets.
  test("pslRegisteredDomains == brute-force PSL resolution on 12 sampled rule sets") {
    import spark.implicits._
    val rulePool = Seq("com", "io", "github.io", "co.uk", "uk", "play",
      "a.b", "*.play", "*.io", "!www.play", "!x.io", "!uk")
    val labelPool = Seq("a", "b", "github", "io", "co", "uk", "com",
      "play", "www", "x")
    val hostGen: Gen[String] = for {
      n <- Gen.choose(1, 5)
      labs <- Gen.listOfN(n, Gen.oneOf(labelPool))
      port <- Gen.oneOf("", ":80", ":8080")
    } yield labs.mkString(".") + port
    def ref(host: String, rules: Seq[String]): (String, Option[String]) = {
      val bare = host.toLowerCase.replaceAll(":[0-9]+$", "")
        .replaceAll("\\.$", "")
      val labels = bare.split("\\.", -1).toSeq
      val n = labels.size
      val parsed = rules.map(_.trim.toLowerCase)
        .filter(r => r.nonEmpty && !r.startsWith("//"))
        .map { r =>
          if (r.startsWith("!")) ("exc", r.drop(1))
          else if (r.startsWith("*.")) ("wild", r.drop(2))
          else ("plain", r)
        }.distinct
      val hits = for {
        (kind, base) <- parsed
        i <- 0 until n
        cand = labels.drop(i).mkString(".")
        clen = n - i
        hit <- kind match {
          case "plain" if cand == base => Some((clen, false))
          case "exc" if cand == base   => Some((clen - 1, true))
          case "wild" if cand.contains(".") &&
            cand.split("\\.", 2)(1) == base => Some((clen, false))
          case _ => None
        }
      } yield hit
      val exc = hits.collect { case (l, true) => l }
      val norm = hits.collect { case (l, false) => l }
      val psLen =
        if (exc.nonEmpty) exc.max else if (norm.nonEmpty) norm.max else 1
      val ps = labels.takeRight(psLen).mkString(".")
      val reg = if (n > psLen) Some(labels.takeRight(psLen + 1).mkString("."))
        else None
      (ps, reg)
    }
    (1 to 12).foreach { i =>
      val rules = Gen.someOf(rulePool)(Gen.Parameters.default,
        Seed(i.toLong)).get.toSeq
      if (rules.nonEmpty) {
        val hosts = Gen.listOfN(40, hostGen)(Gen.Parameters.default,
          Seed(700L + i)).get.distinct
        val got = Corpus.pslRegisteredDomains(
            hosts.toDF("h"), "h", rules.toDF("suffix"))
          .collect().map(r => r.getString(0) ->
            ((r.getString(1), Option(r.getString(2))))).toMap
        hosts.foreach { h =>
          assert(got(h.toLowerCase) == ref(h, rules),
            s"sample $i host '$h' rules $rules")
        }
      }
    }
  }
}
