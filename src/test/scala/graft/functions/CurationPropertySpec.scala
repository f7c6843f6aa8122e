package graft.functions

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Properties for the round-11 curation/eval operators, sampled with
  * fixed seeds (the scalatest/scalacheck bridge isn't on the offline
  * classpath — the StatsPropertySpec pattern).
  */
@graft.Heavy // top-tier suite by measured wall time; excluded from `sbt smoke`
class CurationPropertySpec extends SparkSpec {
  import spark.implicits._

  // --- urlCanonicalize: idempotence ------------------------------------
  // The canonical form is a fixed point: canonicalizing an already
  // canonical URL changes nothing. This is the property that makes the
  // column safe as a join/dedup key across pipeline stages that may
  // re-canonicalize defensively.
  private val urlGen: Gen[String] = for {
    scheme <- Gen.oneOf("http", "https", "HTTP", "ftp", "hTtPs")
    www <- Gen.oneOf("", "www.", "WWW.")
    host <- Gen.oneOf("Example.COM", "a.b.example.co.uk", "x.io",
      "cdn.site.org", "localhost", "h0st.c0m", "deep.a.b.c.example.ac.at")
    port <- Gen.oneOf("", ":80", ":443", ":8080", ":65535")
    path <- Gen.oneOf("", "/", "/A/b", "/x%20y", "/p/q/r", "/p/q/r/",
      "/CASE/Stays")
    params <- Gen.someOf(Seq("a=1", "b=2", "utm_source=x", "gclid=g",
      "z", "utm_campaign=c", "id=9", "utm_", "b=", "B=1", "fbclid=f",
      "gclidx=keepme"))
    frag <- Gen.oneOf("", "#frag", "#a/b?c")
  } yield {
    val q = if (params.isEmpty) "" else "?" + params.mkString("&")
    s"$scheme://$www$host$port$path$q$frag"
  }

  test("urlCanonicalize: canon is a fixed point on 60 sampled URLs") {
    val urls = (1 to 60).map(i => urlGen(Gen.Parameters.default,
      Seed(i.toLong)).get)
    val df = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("id", "url")
    val once = Corpus.urlCanonicalize(df, "id", "url")
      .select(col("id"), col("url_canon"), col("host"),
        col("registered_domain"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    val again = Corpus.urlCanonicalize(
        once.toSeq.map { case (i, (c, _, _)) => (i, c) }.toDF("id", "url"),
        "id", "url")
      .select(col("id"), col("url_canon"), col("host"),
        col("registered_domain"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    once.foreach { case (i, v) =>
      assert(again(i) == v, s"not a fixed point for ${urls(i.toInt - 0)}")
    }
  }

  // --- urlCanonicalize ≡ a java.net.URI-based reference ------------------
  // The resolveLinks lesson applied to the 20-regex canonicalizer: an
  // INDEPENDENT parse (java.net.URI's raw getters) re-derives every
  // output column and the fuzz compares all four. Documented exclusions
  // stay excluded by construction, not by filtering: the generator emits
  // no userinfo (stays in `host` verbatim — documented) and %-escapes
  // pass through untouched on both sides (raw getters, no decode).
  test("urlCanonicalize == java.net.URI reference on 120 sampled URLs") {
    val ccSecond = Set("co", "com", "net", "org", "gov", "ac", "edu")
    val tracking = Set("gclid", "fbclid", "msclkid")
    def ref(url: String): (Option[String], Option[String], Option[String],
        Option[Long]) = {
      val u = url.trim
      if (!u.matches("(?s)^[A-Za-z][A-Za-z0-9+.-]*://.*"))
        (None, None, None, None)
      else {
        val uri = new java.net.URI(u)
        val scheme = uri.getScheme.toLowerCase
        val rawHost = Option(uri.getHost).getOrElse(
          fail(s"URI could not parse host of $u"))
        val port = uri.getPort
        val keepPort = port != -1 &&
          !(scheme == "http" && port == 80) &&
          !(scheme == "https" && port == 443)
        val host = rawHost.toLowerCase + (if (keepPort) s":$port" else "")
        val path = Option(uri.getRawPath).filter(_.nonEmpty).getOrElse("/")
        val all = Option(uri.getRawQuery).toSeq
          .flatMap(_.split("&", -1)).filter(_.nonEmpty)
        def isTrk(p: String) = {
          val name = p.takeWhile(_ != '=')
          name.startsWith("utm_") || tracking(name)
        }
        val kept = all.filterNot(isTrk).sorted
        val canon = s"$scheme://$host$path" +
          (if (kept.nonEmpty) "?" + kept.mkString("&") else "")
        val bare = host.replaceFirst(":[0-9]+$", "")
          .replaceFirst("^www\\.", "")
        val labels = bare.split("\\.", -1)
        val regDomain =
          if (labels.length <= 2) bare
          else if (labels.last.length == 2 &&
            ccSecond(labels(labels.length - 2)))
            labels.takeRight(3).mkString(".")
          else labels.takeRight(2).mkString(".")
        (Some(canon), Some(host), Some(regDomain),
          Some((all.size - kept.size).toLong))
      }
    }
    val urls = (1 to 120).map(i => urlGen(Gen.Parameters.default,
      Seed(7000L + i)).get)
    val df = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("id", "url")
    val got = Corpus.urlCanonicalize(df, "id", "url")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.getString(2)),
          Option(r.getString(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    urls.zipWithIndex.foreach { case (u, i) =>
      assert(got(i.toLong) == ref(u), s"divergence on '$u'")
    }
  }

  // --- bpeByteEncode: losslessness on arbitrary Unicode ----------------
  // Valid-string generator spanning ASCII, Latin accents, CJK, and
  // 4-byte supplementary codepoints (built from code points, so no
  // lone surrogates — those aren't valid strings to begin with).
  private val wordGen: Gen[String] = for {
    n <- Gen.chooseNum(1, 8)
    cps <- Gen.listOfN(n, Gen.oneOf(
      Gen.chooseNum('a'.toInt, 'z'.toInt),
      Gen.oneOf("éüñßçø".map(_.toInt)),
      Gen.oneOf("漢字日本語中".map(_.toInt)),
      Gen.oneOf(0x1F989, 0x1F600, 0x10348))) // owl, grin, Gothic hwair
  } yield cps.flatMap(Character.toChars(_).toSeq).mkString

  test("bpeByteEncode: decode(encode(text)) == normalized text on 40 sampled docs") {
    val docs = (1 to 40).map { i =>
      val nWords = Gen.chooseNum(0, 6)
        .apply(Gen.Parameters.default, Seed(i.toLong)).get
      val words = Gen.listOfN(nWords, wordGen)
        .apply(Gen.Parameters.default, Seed(1000L + i)).get
      (i.toLong, words.mkString(" "))
    }
    val out = Corpus.bpeByteEncode(docs.toDF("doc_id", "text"),
        "doc_id", "text", merges = Nil)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    docs.foreach { case (i, txt) =>
      val norm = txt.trim.split("\\s+").filter(_.nonEmpty).mkString(" ")
      assert(out(i) == norm, s"doc $i: '$txt'")
    }
  }

  // --- interpolate: segment form == naive reference --------------------
  private def refInterpolate(obs: Seq[(Long, Double)], maxGap: Long)
      : Map[Long, (Option[Double], String)] = {
    val sorted = obs.sortBy(_._1)
    val byT = sorted.toMap
    if (sorted.isEmpty) Map.empty
    else (sorted.head._1 to sorted.last._1).map { t =>
      byT.get(t) match {
        case Some(v) => t -> ((Some(v), "obs"))
        case None =>
          val (pt, pv) = sorted.takeWhile(_._1 < t).last
          val (nt, nv) = sorted.dropWhile(_._1 < t).head
          if (nt - pt <= maxGap)
            t -> ((Some(pv + (nv - pv) *
              ((t - pt).toDouble / (nt - pt).toDouble)), "interp"))
          else t -> ((None, "gap"))
      }
    }.toMap
  }

  test("interpolate == naive per-bucket reference on 12 sampled series") {
    (1 to 12).foreach { seed =>
      val n = Gen.chooseNum(1, 12)
        .apply(Gen.Parameters.default, Seed(seed.toLong)).get
      val ts = Gen.listOfN(n, Gen.chooseNum(-20L, 20L))
        .apply(Gen.Parameters.default, Seed(100L + seed)).get.distinct
      val obs = ts.zipWithIndex.map { case (t, j) => (t, (j * 7 % 11).toDouble) }
      val maxGap = Gen.oneOf(2L, 3L, Long.MaxValue)
        .apply(Gen.Parameters.default, Seed(200L + seed)).get
      val df = obs.map { case (t, v) => (1L, t, v) }.toDF("k", "t", "v")
        .repartition(3)
      val got = Events.interpolate(df, "k", "t", "v", maxGap)
        .collect().map(r => r.getLong(1) ->
          ((if (r.isNullAt(2)) None else Some(r.getDouble(2)),
            r.getString(3)))).toMap
      val want = refInterpolate(obs, maxGap)
      assert(got == want, s"seed=$seed obs=$obs maxGap=$maxGap")
    }
  }

  // --- trigramNll ≡ a driver-side Stupid-Backoff reference --------------
  // Tiny-vocab random corpora maximize collisions across all four
  // backoff rungs; unseen-word docs exercise the unigram/OOV floors.
  test("trigramNll == driver-side Stupid-Backoff on 12 sampled corpora") {
    import spark.implicits._
    val b = 0.916290731874155
    def toks(s: String) = s.trim.split("\\s+").filter(_.nonEmpty).toSeq
    def ref(train: Seq[String], doc: String): (Long, Option[Double]) = {
      val tt = train.flatMap(toks)
      val c1 = tt.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = tt.size.toLong
      val c2 = train.map(toks).flatMap(_.sliding(2).filter(_.size == 2))
        .map(w => (w(0), w(1))).groupBy(identity).view
        .mapValues(_.size.toLong).toMap
      val c3 = train.map(toks).flatMap(_.sliding(3).filter(_.size == 3))
        .map(w => (w(0), w(1), w(2))).groupBy(identity).view
        .mapValues(_.size.toLong).toMap
      val tris = toks(doc).sliding(3).filter(_.size == 3).toSeq
      if (tris.isEmpty) (0L, None)
      else {
        val nlls = tris.map { w =>
          val (w1, w2, w3) = (w(0), w(1), w(2))
          c3.get((w1, w2, w3)).zip(c2.get((w1, w2))) match {
            case Some((t, bi)) =>
              math.log(bi.toDouble) - math.log(t.toDouble)
            case None => c2.get((w2, w3)).zip(c1.get(w2)) match {
              case Some((bi, u)) =>
                b + math.log(u.toDouble) - math.log(bi.toDouble)
              case None => c1.get(w3) match {
                case Some(u) =>
                  b + b + math.log(n.toDouble) - math.log(u.toDouble)
                case None => b + b + math.log(n.toDouble)
              }
            }
          }
        }
        (tris.size.toLong, Some(nlls.sum / tris.size))
      }
    }
    val docGen: Gen[String] = for {
      len <- Gen.choose(0, 9)
      ws <- Gen.listOfN(len, Gen.frequency(
        8 -> Gen.oneOf("a", "b", "c", "d"), 1 -> Gen.const("zz")))
    } yield ws.mkString(" ")
    (1 to 12).foreach { i =>
      val nTrain = Gen.choose(2, 4)
        .apply(Gen.Parameters.default, Seed(i.toLong)).get
      val nDocs = Gen.choose(1, 6)
        .apply(Gen.Parameters.default, Seed(50L + i)).get
      val texts = Gen.listOfN(nTrain + nDocs, docGen)
        .apply(Gen.Parameters.default, Seed(100L + i)).get
      val (train, docs) = texts.splitAt(nTrain)
      // a train slice with zero tokens has no model — skip that draw
      if (train.exists(t => toks(t).nonEmpty)) {
        val trainDf = train.zipWithIndex
          .map { case (t, j) => (j.toLong, t) }.toDF("doc_id", "text")
        val docsDf = docs.zipWithIndex
          .map { case (t, j) => (j.toLong, t) }.toDF("doc_id", "text")
        val got = Corpus.trigramNll(docsDf, trainDf, "doc_id", "text")
          .collect().map(r => r.getLong(0) ->
            ((r.getLong(1),
              if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
        docs.zipWithIndex.foreach { case (t, j) =>
          val (wantN, wantAvg) = ref(train, t)
          val (gotN, gotAvg) = got(j.toLong)
          assert(gotN == wantN, s"sample $i doc '$t' n")
          (gotAvg, wantAvg) match {
            case (Some(g), Some(w)) =>
              assert(math.abs(g - w) < 1e-9, s"sample $i doc '$t': $g vs $w")
            case (g, w) => assert(g == w, s"sample $i doc '$t'")
          }
        }
      }
    }
  }

  // --- knNll ≡ a driver-side interpolated Kneser–Ney reference ----------
  // The engine computes each level as the exact rational A/B and emits
  // ln B − ln A; the reference here works in PROBABILITY space — the
  // textbook Chen & Goodman recursion with float divisions — so the two
  // agree only if the rational ladder really is the same distribution.
  // Tiny vocab + an OOV word exercise all three levels, the whole-level
  // fallbacks (unseen context / unseen middle word) and the 1/V floor.
  test("knNll == driver-side interpolated Kneser-Ney on 12 sampled corpora") {
    import spark.implicits._
    def toks(s: String) = s.trim.split("\\s+").filter(_.nonEmpty).toSeq
    def ref(train: Seq[String], doc: String): (Long, Option[Double]) = {
      val tri = train.map(toks).flatMap(_.sliding(3).filter(_.size == 3))
        .map(w => (w(0), w(1), w(2)))
      val c3 = tri.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val ctx = tri.groupBy(w => (w._1, w._2)).view
        .mapValues(_.size.toLong).toMap
      val ty = tri.distinct
      val f2 = ty.groupBy(w => (w._1, w._2)).view.mapValues(_.size.toLong).toMap
      val kn2 = ty.groupBy(w => (w._2, w._3)).view.mapValues(_.size.toLong).toMap
      val bt = ty.map(w => (w._2, w._3)).distinct
      val mid = ty.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val f1 = bt.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val kn1 = bt.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val ncc = bt.size.toLong
      val v1 = bt.map(_._2).distinct.size.toLong
      val v = train.flatMap(toks).distinct.size.toLong + 1L
      val D = 0.75
      def p1(w3: String): Double =
        (math.max(kn1.getOrElse(w3, 0L) - D, 0.0) + D * v1 / v) / ncc
      def p2(w2: String, w3: String): Double = mid.get(w2) match {
        case Some(m) =>
          (math.max(kn2.getOrElse((w2, w3), 0L) - D, 0.0) +
            D * f1(w2) * p1(w3)) / m
        case None => p1(w3)
      }
      def p3(w1: String, w2: String, w3: String): Double =
        ctx.get((w1, w2)) match {
          case Some(c) =>
            (math.max(c3.getOrElse((w1, w2, w3), 0L) - D, 0.0) +
              D * f2((w1, w2)) * p2(w2, w3)) / c
          case None => p2(w2, w3)
        }
      val ts = toks(doc).sliding(3).filter(_.size == 3).toSeq
      if (ts.isEmpty) (0L, None)
      else {
        val nlls = ts.map(w => -math.log(p3(w(0), w(1), w(2))))
        (ts.size.toLong, Some(nlls.sum / ts.size))
      }
    }
    val docGen: Gen[String] = for {
      len <- Gen.choose(0, 9)
      ws <- Gen.listOfN(len, Gen.frequency(
        8 -> Gen.oneOf("a", "b", "c", "d"), 1 -> Gen.const("zz")))
    } yield ws.mkString(" ")
    (1 to 12).foreach { i =>
      val nTrain = Gen.choose(2, 4)
        .apply(Gen.Parameters.default, Seed(i.toLong)).get
      val nDocs = Gen.choose(1, 6)
        .apply(Gen.Parameters.default, Seed(950L + i)).get
      val texts = Gen.listOfN(nTrain + nDocs, docGen)
        .apply(Gen.Parameters.default, Seed(1000L + i)).get
      val (train, docs) = texts.splitAt(nTrain)
      // the model is undefined over an empty trigram type set (ln 0) —
      // knNll documents train-must-have-a-trigram; skip those draws
      if (train.exists(t => toks(t).size >= 3)) {
        val trainDf = train.zipWithIndex
          .map { case (t, j) => (j.toLong, t) }.toDF("doc_id", "text")
        val docsDf = docs.zipWithIndex
          .map { case (t, j) => (j.toLong, t) }.toDF("doc_id", "text")
        val got = Corpus.knNll(docsDf, trainDf, "doc_id", "text")
          .collect().map(r => r.getLong(0) ->
            ((r.getLong(1),
              if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
        docs.zipWithIndex.foreach { case (t, j) =>
          val (wantN, wantAvg) = ref(train, t)
          val (gotN, gotAvg) = got(j.toLong)
          assert(gotN == wantN, s"sample $i doc '$t' n")
          (gotAvg, wantAvg) match {
            case (Some(g), Some(w)) =>
              assert(math.abs(g - w) < 1e-9, s"sample $i doc '$t': $g vs $w")
            case (g, w) => assert(g == w, s"sample $i doc '$t'")
          }
        }
      }
    }
  }

  // --- mknNll ≡ a driver-side Modified Kneser–Ney reference -------------
  // Chen & Goodman's three-discount variant: the reference estimates
  // D₁/D₂/D₃₊ from count-of-counts in PROBABILITY space (double ratios,
  // textbook recursion), the engine runs the exact-rational ladder with
  // integer d/Q discounts — agreement means the data-dependent discount
  // algebra, the per-level validity decision, and the γ class counts all
  // line up. The validity check shares the engine's INTEGER forms so both
  // sides take the same estimate-or-fallback branch per level.
  private def mknRef(train: Seq[String], doc: String,
                     fallback: Boolean): (Long, Option[Double]) = {
    def toks(s: String) = s.trim.split("\\s+").filter(_.nonEmpty).toSeq
    val tri = train.map(toks).flatMap(_.sliding(3).filter(_.size == 3))
      .map(w => (w(0), w(1), w(2)))
    val c3 = tri.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ctx = tri.groupBy(w => (w._1, w._2)).view
      .mapValues(_.size.toLong).toMap
    val ty = tri.distinct
    val kn2 = ty.groupBy(w => (w._2, w._3)).view.mapValues(_.size.toLong).toMap
    val bt = ty.map(w => (w._2, w._3)).distinct
    val mid = ty.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val kn1 = bt.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val ncc = bt.size.toLong
    val v = train.flatMap(toks).distinct.size.toLong + 1L
    def disc(vals: Iterable[Long]): (Double, Double, Double) = {
      val n1 = vals.count(_ == 1L).toLong; val n2 = vals.count(_ == 2L).toLong
      val n3 = vals.count(_ == 3L).toLong; val n4 = vals.count(_ == 4L).toLong
      val s = n1 + 2 * n2; val q = s * n2 * n3
      val d1 = n1 * n2 * n3
      val d2 = (2 * n2 * s - 3 * n1 * n3) * n3
      val d3 = (3 * n3 * s - 4 * n1 * n4) * n2
      val valid = n1 > 0 && n2 > 0 && n3 > 0 && n4 > 0 &&
        d1 > 0 && d2 > 0 && d3 > 0 &&
        d1 <= q && d2 <= 2 * q && d3 <= 3 * q
      if (valid) (d1.toDouble / q, d2.toDouble / q, d3.toDouble / q)
      else if (fallback) (0.5, 1.0, 1.5)
      else throw new IllegalStateException("degenerate count-of-counts")
    }
    val (e31, e32, e33) = disc(c3.values)
    val (e21, e22, e23) = disc(kn2.values)
    val (e11, e12, e13) = disc(kn1.values)
    def dOf(c: Long, d1: Double, d2: Double, d3: Double): Double =
      if (c == 1L) d1 else if (c == 2L) d2 else d3
    def gamma(cnts: Iterable[Long], d1: Double, d2: Double,
              d3: Double): Double =
      d1 * cnts.count(_ == 1L) + d2 * cnts.count(_ == 2L) +
        d3 * cnts.count(_ >= 3L)
    val g1 = gamma(kn1.values, e11, e12, e13)
    def p1(w3: String): Double = {
      val c = kn1.getOrElse(w3, 0L)
      (math.max(c - dOf(c, e11, e12, e13), 0.0) + g1 / v) / ncc
    }
    def p2(w2: String, w3: String): Double = mid.get(w2) match {
      case Some(m) =>
        val c = kn2.getOrElse((w2, w3), 0L)
        val g = gamma(kn2.collect { case ((a, _), n) if a == w2 => n },
          e21, e22, e23)
        (math.max(c - dOf(c, e21, e22, e23), 0.0) + g * p1(w3)) / m
      case None => p1(w3)
    }
    def p3(w1: String, w2: String, w3: String): Double =
      ctx.get((w1, w2)) match {
        case Some(ct) =>
          val c = c3.getOrElse((w1, w2, w3), 0L)
          val g = gamma(
            c3.collect { case ((a, b, _), n) if a == w1 && b == w2 => n },
            e31, e32, e33)
          (math.max(c - dOf(c, e31, e32, e33), 0.0) + g * p2(w2, w3)) / ct
        case None => p2(w2, w3)
      }
    val ts = toks(doc).sliding(3).filter(_.size == 3).toSeq
    if (ts.isEmpty) (0L, None)
    else {
      val nlls = ts.map(w => -math.log(p3(w(0), w(1), w(2))))
      (ts.size.toLong, Some(nlls.sum / ts.size))
    }
  }

  test("mknNll == driver-side modified Kneser-Ney on 12 sampled corpora") {
    import spark.implicits._
    def toks(s: String) = s.trim.split("\\s+").filter(_.nonEmpty).toSeq
    val docGen: Gen[String] = for {
      len <- Gen.choose(0, 9)
      ws <- Gen.listOfN(len, Gen.frequency(
        8 -> Gen.oneOf("a", "b", "c", "d"), 1 -> Gen.const("zz")))
    } yield ws.mkString(" ")
    (1 to 12).foreach { i =>
      val nTrain = Gen.choose(2, 4)
        .apply(Gen.Parameters.default, Seed(i.toLong)).get
      val nDocs = Gen.choose(1, 6)
        .apply(Gen.Parameters.default, Seed(2950L + i)).get
      val texts = Gen.listOfN(nTrain + nDocs, docGen)
        .apply(Gen.Parameters.default, Seed(3000L + i)).get
      val (train, docs) = texts.splitAt(nTrain)
      if (train.exists(t => toks(t).size >= 3)) {
        val trainDf = train.zipWithIndex
          .map { case (t, j) => (j.toLong, t) }.toDF("doc_id", "text")
        val docsDf = docs.zipWithIndex
          .map { case (t, j) => (j.toLong, t) }.toDF("doc_id", "text")
        // tiny corpora are degenerate at most levels — the fuzz drives
        // the per-level fallback CASE; the estimated branch is pinned by
        // the crafted-corpus test below
        val got = Corpus.mknNll(docsDf, trainDf, "doc_id", "text",
            discountFallback = true)
          .collect().map(r => r.getLong(0) ->
            ((r.getLong(1),
              if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
        docs.zipWithIndex.foreach { case (t, j) =>
          val (wantN, wantAvg) = mknRef(train, t, fallback = true)
          val (gotN, gotAvg) = got(j.toLong)
          assert(gotN == wantN, s"sample $i doc '$t' n")
          (gotAvg, wantAvg) match {
            case (Some(g), Some(w)) =>
              assert(math.abs(g - w) < 1e-9, s"sample $i doc '$t': $g vs $w")
            case (g, w) => assert(g == w, s"sample $i doc '$t'")
          }
        }
      }
    }
  }

  // A corpus searched offline to have HEALTHY count-of-counts at all
  // three levels (n₁..n₄ > 0 and every estimated discount in (0, j]):
  // with discountFallback = false nothing may throw, and the scores must
  // equal the reference running the ESTIMATED discounts everywhere — the
  // data-dependent d/Q algebra exercised end-to-end, no fallback anywhere.
  test("mknNll: estimated discounts at every level on a crafted corpus") {
    import spark.implicits._
    val train = Seq(
      "b a d d g b a d d", "a b b c d h c d h g g f", "d g c g a a",
      "a a c h g g", "e b f g c g b a", "c h h g g h a h c d d c",
      "e c b c b h c d h e b", "d e c h c d c")
    val docs = Seq("b a d d q", "h g g", "c d", "q q b a d")
    val trainDf = train.zipWithIndex
      .map { case (t, j) => (j.toLong, t) }.toDF("doc_id", "text")
    val docsDf = docs.zipWithIndex
      .map { case (t, j) => (j.toLong, t) }.toDF("doc_id", "text")
    val got = Corpus.mknNll(docsDf, trainDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    docs.zipWithIndex.foreach { case (t, j) =>
      // fallback = false: the reference throws if ANY level is
      // degenerate, so a green run certifies all-estimated
      val (wantN, wantAvg) = mknRef(train, t, fallback = false)
      val (gotN, gotAvg) = got(j.toLong)
      assert(gotN == wantN, s"doc '$t' n")
      (gotAvg, wantAvg) match {
        case (Some(g), Some(w)) =>
          assert(math.abs(g - w) < 1e-9, s"doc '$t': $g vs $w")
        case (g, w) => assert(g == w, s"doc '$t'")
      }
    }
    // discountFallback only replaces DEGENERATE levels — with all three
    // healthy it must be a no-op, not a blanket 0.5/1.0/1.5 swap
    val fb = Corpus.mknNll(docsDf, trainDf, "doc_id", "text",
        discountFallback = true)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(fb(0L) == got(0L)._2,
      "healthy levels must keep their estimates under discountFallback")
  }

  test("mknNll: degenerate count-of-counts fail loudly by default") {
    import spark.implicits._
    val train = Seq((1L, "a b c a b c"), (2L, "a b c d")).toDF("doc_id", "text")
    val docs = Seq((10L, "a b c d")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Corpus.mknNll(docs, train, "doc_id", "text").collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("degenerate count-of-counts"), chain)
  }

  test("mknNll: trigram-free train fails loudly instead of silent nulls") {
    import spark.implicits._
    val train = Seq((1L, "a b"), (2L, "x")).toDF("doc_id", "text")
    val docs = Seq((10L, "a b c d")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Corpus.mknNll(docs, train, "doc_id", "text",
        discountFallback = true).collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("no trigram"), chain)
  }

  // the documented train-must-have-a-trigram contract is ENFORCED: an
  // all-short train must die loudly, not emit nulls indistinguishable
  // from legitimate <3-token nulls
  test("knNll: trigram-free train fails loudly instead of silent nulls") {
    import spark.implicits._
    val train = Seq((1L, "a b"), (2L, "x")).toDF("doc_id", "text")
    val docs = Seq((10L, "a b c d")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Corpus.knNll(docs, train, "doc_id", "text").collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("no trigram"), chain)
  }

  // --- resolveLinks: regex fixpoint ≡ RFC 3986 §5.2.4 stack walk --------
  // An INDEPENDENT implementation of remove_dot_segments (the RFC's own
  // left-to-right stack algorithm, transcribed) fuzzed against the
  // engine's six-rule replace-all fixpoint over adversarial segment soup
  // — dot runs, empty segments, dotted-name segments, trailing slashes.
  private def rfcRemoveDots(path: String): String = {
    val out = new StringBuilder
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) {
        in = "/" + in.substring(4)
        val i = out.lastIndexOf("/")
        out.setLength(if (i >= 0) i else 0)
      } else if (in == "/..") {
        in = "/"
        val i = out.lastIndexOf("/")
        out.setLength(if (i >= 0) i else 0)
      } else if (in == "." || in == "..") in = ""
      else {
        val i = in.indexOf('/', 1)
        val seg = if (i == -1) in else in.substring(0, i)
        out.append(seg)
        in = if (i == -1) "" else in.substring(i)
      }
    }
    out.toString
  }

  private val segGen: Gen[String] =
    Gen.oneOf("a", "b", "cc", "", ".", "..", "...", ".x", "x.", "..y")

  private val rootedPathGen: Gen[String] = for {
    n <- Gen.choose(0, 7)
    segs <- Gen.listOfN(n, segGen)
    trail <- Gen.oneOf("", "/")
  } yield "/" + segs.mkString("/") + trail

  test("resolveLinks dot-collapse ≡ the RFC stack walk on 400 fuzzed rooted paths") {
    val paths = (1 to 400).map(i =>
      rootedPathGen(Gen.Parameters.default, Seed(i.toLong)).get).distinct
      // '//'-led strings are network-path references (protocol-relative
      // authority), not rooted paths — a different, correct branch
      .filterNot(_.startsWith("//"))
    val df = paths.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("id", "href").withColumn("base", lit("http://h"))
    val got = Corpus.resolveLinks(df, "href", "base")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    paths.zipWithIndex.foreach { case (p, i) =>
      assert(got(i.toLong) == "http://h" + rfcRemoveDots(p),
        s"path '$p'")
    }
  }

  test("resolveLinks relative merge ≡ the RFC reference on 300 fuzzed (base, href) pairs") {
    def refResolve(basePath: String, href: String): String = {
      val (hp, hq) = href.span(_ != '?')
      val merged =
        if (hp.startsWith("/")) hp
        else {
          val i = basePath.lastIndexOf('/')
          (if (i == -1) "/" else basePath.take(i + 1)) + hp
        }
      "http://h" + rfcRemoveDots(merged) + hq
    }
    val relGen: Gen[(String, String)] = for {
      bp <- rootedPathGen
      n <- Gen.choose(1, 5)
      segs <- Gen.listOfN(n, segGen)
      q <- Gen.oneOf("", "?k=1", "?y/./x")
    } yield (bp, segs.mkString("/") + q)
    val cases = (1 to 300).map(i =>
      relGen(Gen.Parameters.default, Seed(1000L + i)).get)
      .distinct
      // an href that is empty or query-only before '?' takes the
      // same-document branch, and '//'-led hrefs the network-path
      // branch — both covered by the RFC example spec
      .filter { case (_, h) => h.takeWhile(_ != '?').nonEmpty }
      .filterNot { case (_, h) => h.startsWith("//") }
    val df = cases.zipWithIndex.map { case ((bp, h), i) =>
      (i.toLong, h, "http://h" + bp) }.toDF("id", "href", "base")
    val got = Corpus.resolveLinks(df, "href", "base")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    cases.zipWithIndex.foreach { case ((bp, h), i) =>
      assert(got(i.toLong) == refResolve(bp, h), s"base '$bp' href '$h'")
    }
  }

  // --- htmlExtract ≡ an independent character-level scanner --------------
  // The resolveLinks/urlCanonicalize lesson applied to the third big
  // regex chain: the reference below implements htmlExtract's DOCUMENTED
  // semantics with indexOf/regionMatches scanning — no java.util.regex —
  // so a regex-semantics surprise (greediness, alternation-prefix
  // matching, unclosed constructs) diverges instead of being silently
  // shared. Counting is in CODE POINTS (Spark's length()), not UTF-16
  // units.

  /** Remove every `open[^>]*> … close` span (open matched case-
    * insensitively as a PREFIX, tag ending at the first '>'; close is a
    * literal). Unclosed constructs stay verbatim — regex `.*?` with a
    * required terminator matches nothing without one.
    */
  private def refRemoveSpans(s: String, open: String, close: String,
                             openNeedsGt: Boolean): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val start = indexOfCi(s, open, i)
      if (start < 0) { sb.append(s.substring(i)); i = s.length }
      else {
        val afterOpen =
          if (!openNeedsGt) start + open.length
          else {
            val gt = s.indexOf('>', start + open.length)
            if (gt < 0) -1 else gt + 1
          }
        val closeAt =
          if (afterOpen < 0) -1 else indexOfCi(s, close, afterOpen)
        if (closeAt < 0) { sb.append(s.substring(i)); i = s.length }
        else {
          sb.append(s.substring(i, start)).append(' ')
          i = closeAt + close.length
        }
      }
    }
    sb.toString
  }

  private def indexOfCi(s: String, needle: String, from: Int): Int = {
    var i = math.max(from, 0)
    while (i <= s.length - needle.length) {
      if (s.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  private val refBlockNames = Seq("p", "div", "br", "li", "ul", "ol",
    "h1", "h2", "h3", "h4", "h5", "h6", "tr", "td", "th", "table",
    "section", "article", "header", "footer", "nav", "blockquote", "pre")

  /** The scanner reference for htmlExtract's whole chain. */
  private def refExtract(html: String, minBlockChars: Int,
                         charsPerLink: Int): (String, Long, Long, Boolean) = {
    val raw = Option(html).getOrElse("")
    val noScript = refRemoveSpans(raw, "<script", "</script>",
      openNeedsGt = true)
    val noStyle = refRemoveSpans(noScript, "<style", "</style>",
      openNeedsGt = true)
    val noComment = refRemoveSpans(noStyle, "<!--", "-->",
      openNeedsGt = false)
    // block boundaries: '<' '/'? (blockName-as-PREFIX) [^>]* '>' → '\n'
    // (regex alternation matches the name as a prefix — <pre>, <lie>,
    // <person> are all boundaries via pre/li/p + [^>]*)
    val sb = new StringBuilder
    var i = 0
    while (i < noComment.length) {
      val c = noComment.charAt(i)
      if (c != '<') { sb.append(c); i += 1 }
      else {
        val j = if (i + 1 < noComment.length &&
          noComment.charAt(i + 1) == '/') i + 2 else i + 1
        val named = refBlockNames.exists(n =>
          noComment.regionMatches(true, j, n, 0, n.length))
        val gt = noComment.indexOf('>', j)
        if (named && gt >= 0) { sb.append('\n'); i = gt + 1 }
        else { sb.append(c); i += 1 }
      }
    }
    val blocks = sb.toString.split("\n", -1)
    def codePoints(s: String): Int = s.codePointCount(0, s.length)
    def blockText(b: String): String = {
      // inline tags → ' ' (unclosed '<' stays), whitespace runs → ' ',
      // then trim SPACES only (post-normalization ends are spaces)
      val t = new StringBuilder
      var k = 0
      while (k < b.length) {
        val ch = b.charAt(k)
        if (ch == '<') {
          val gt = b.indexOf('>', k + 1)
          if (gt < 0) { t.append(b.substring(k)); k = b.length }
          else { t.append(' '); k = gt + 1 }
        } else { t.append(ch); k += 1 }
      }
      val norm = new StringBuilder
      var inWs = false
      t.toString.foreach { ch =>
        if (ch == ' ' || ch == '\t' || ch == '\r' || ch == '\n') {
          if (!inWs) norm.append(' '); inWs = true
        } else { norm.append(ch); inWs = false }
      }
      norm.toString.stripPrefix(" ").stripSuffix(" ")
    }
    def linkChars(b: String): Int = {
      var k = 0; var cnt = 0
      while (k >= 0) {
        k = b.indexOf("<a ", k)
        if (k >= 0) { cnt += 1; k += 3 }
      }
      cnt * 3
    }
    val cleaned = blocks.map(b => (blockText(b), linkChars(b)))
    val kept = cleaned.filter { case (txt, lc) =>
      codePoints(txt) >= minBlockChars &&
        lc.toLong * charsPerLink <= codePoints(txt).toLong * 3
    }
    val joined = kept.map(_._1).mkString("\n")
    val unescaped = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(joined) { case (s, (e, ch)) => s.replace(e, ch) }
    (unescaped, cleaned.count(_._1.nonEmpty).toLong, kept.length.toLong,
      kept.nonEmpty)
  }

  private val htmlFragGen: Gen[String] = Gen.oneOf(
    Gen.oneOf("lorem ipsum dolor sit amet", "x", "a longer run of prose " +
      "that comfortably clears the block minimum on its own merits",
      "short &amp; sweet", "tabs\tand\r\nnewlines", "&lt;tag&gt;",
      "&amp;lt;double&nbsp;escape&#39;", "stray < bracket", "dangling >",
      "ünïcödé prose with enough characters to keep a block alive"),
    Gen.oneOf("<a href=\"u\">link text</a>", "<A HREF='u'>CAPS LINK</A>",
      "<a  href='v'>double space</a>", "<a>bare anchor</a>",
      "<a href=\"w\">l1</a> <a href=\"w\">l2</a> <a href=\"w\">l3</a>"),
    Gen.oneOf("<p>", "</p>", "<div class='c'>", "</div>", "<br/>",
      "<LI>", "<h3>", "</H6>", "<person>", "<pre>", "<lie>", "<hz>",
      "<table >", "<div title=\"a>b\">", "<blockquote cite='q'>",
      "<nav>", "</article>"),
    Gen.oneOf("<script type='t'>var a = '<p>not content</p>';</script>",
      "<script>if (a < b) { x() }</script>", "<scripty>still a script</script>",
      "<SCRIPT>CAPS</SCRIPT>", "<script>unclosed script tail",
      "<style>p { color: red }</style>", "<style media=x>h1{}</style>",
      "<style>unclosed style tail"),
    Gen.oneOf("<!-- a comment -->", "<!-- <div>hidden</div> -->",
      "<!-- unclosed comment tail", "<!---->", "<!-- > -->"))

  test("htmlExtract == independent scanner reference on 80 sampled documents") {
    val docGen: Gen[String] = for {
      n <- Gen.choose(1, 24)
      frags <- Gen.listOfN(n, htmlFragGen)
      sep <- Gen.oneOf(" ", "", "\n")
    } yield frags.mkString(sep)
    val docs = (1 to 80).map(i =>
      docGen(Gen.Parameters.default, Seed(7000L + i)).get)
    val df = docs.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      .toDF("id", "html")
    val got = Corpus.htmlExtract(df, "id", "html")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    docs.zipWithIndex.foreach { case (h, i) =>
      assert(got(i.toLong) == refExtract(h, 30, 10),
        s"doc $i: ${h.take(200)}")
    }
  }

  // --- spread callers: same answer however the input arrives ------------
  // The per-row kernels and knnJoinBlocked spread an exchange-free input
  // with fewer partitions than cores (GraftSession.spreadScan); shuffled
  // inputs keep AQE's partitioning. Neither choice may change a value,
  // and neither may run a job while the operator is being built. Every
  // fifth document's text is null, so the null path rides along.
  private lazy val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    .select(col("doc_id"),
      when(col("doc_id") % 5 =!= 0, col("text")).as("text"), col("lang"))
  private lazy val embs = spark.read.parquet(s"${sf()}/embeddings.parquet")

  private def knn(queries: DataFrame, corpus: DataFrame): DataFrame =
    Similarity.knnJoinBlocked(queries.where(col("vec_id") % 10 === 0), corpus,
      "vec_id", "embedding", "vec_id", "embedding",
      k = 5, nCentroids = 16, nProbe = 4, margin = 10, saltBuckets = 2)

  // each kernel applies the input shape to its own inputs
  private val spreadCallers: Seq[(String, (DataFrame => DataFrame) => DataFrame)] = Seq(
    "gopherGate" -> (f => Corpus.gopherGate(f(docs), "doc_id", "text")),
    "fastTextScore" -> (f => Corpus.fastTextScore(f(docs), "doc_id", "text",
      (0 until 32).map(b => (((b * 37) % 13) - 6) / 8.0))),
    "mojibakeRepair" -> (f => Corpus.mojibakeRepair(f(docs), "doc_id", "text")),
    "readabilityCensus" -> (f => Corpus.readabilityCensus(f(docs), "doc_id", "text")),
    "langIdScored" -> (f => TextFunctions.langIdScored(f(docs), "doc_id", "text")),
    "knnJoinBlocked" -> (f => knn(f(embs), f(embs))))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  // the non-empty input shapes every invariance case runs
  private val shapes: Seq[(String, DataFrame => DataFrame)] = Seq(
    "repartition(1)" -> (_.repartition(1)),
    "repartition(7)" -> (_.repartition(7)),
    // joined + aggregated on the row key keeps every row exactly once
    "joined+aggregated" -> { df =>
      val key = df.columns.head
      df.join(df.groupBy(key).agg(count(lit(1)).as("__n")), key).drop("__n")
        .select(df.columns.map(col): _*)
    })

  test("spread callers: identical rows over 1 / 7 partitions, a joined+aggregated upstream, empty") {
    spreadCallers.foreach { case (name, run) =>
      val base = rows(run(identity))
      assert(base.nonEmpty, name)
      shapes.foreach { case (shape, f) =>
        assert(rows(run(f)) == base, s"$name over $shape")
      }
    }
    // empty input, empty answer (knnJoinBlocked: no queries, and an
    // empty corpus, which has no centroids to sample)
    spreadCallers.init.foreach { case (name, run) =>
      assert(run(_.where(lit(false))).isEmpty, s"$name over an empty frame")
    }
    assert(knn(embs.where(lit(false)), embs).isEmpty)
    assert(knn(embs, embs.where(lit(false))).isEmpty)
  }

  test("spread callers: building over a shuffled input runs no job") {
    def jobsDuring(build: => Any): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        build
        // job-start events reach listeners asynchronously
        Thread.sleep(1000)
      } finally spark.sparkContext.removeSparkListener(listener)
      jobs.get
    }
    // documents ⋈ documents.groupBy(lang): an AQE-wrapped input
    def shuffled(df: DataFrame): DataFrame = {
      val key = df.columns.last
      df.join(df.groupBy(key).count(), key).drop("count")
    }
    docs.schema; embs.schema // file listing and footers belong to the read
    spreadCallers.init.foreach { case (name, run) =>
      assert(jobsDuring(run(shuffled)) == 0, s"$name ran jobs while being built")
    }
    // knnJoinBlocked samples its centroids with one action by design
    // (ivfAssign); the spread decisions must add no job to it
    val corpus = shuffled(embs)
    val sample = jobsDuring(Similarity.ivfAssign(
      corpus.select(col("vec_id"), col("embedding")), "vec_id", "embedding", 16))
    assert(jobsDuring(knn(corpus, corpus)) == sample)
  }

  // --- LM family: same scores however docs and train arrive -------------
  // Per-document sums accumulate in DECIMAL and every ln input is a
  // count, so no partitioning or upstream shape may move a bit. The
  // scorers train on four fifths of the documents (the board's split)
  // and score all of them, null texts included.
  private val lmScorers: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "unigramNll" -> ((d, _) => Corpus.unigramNll(d, "doc_id", "text")),
    "bigramNll" -> ((d, tr) => Corpus.bigramNll(d, tr, "doc_id", "text")),
    "jmNll" -> ((d, tr) => Corpus.jmNll(d, tr, "doc_id", "text")),
    "trigramNll" -> ((d, tr) => Corpus.trigramNll(d, tr, "doc_id", "text")),
    "knNll" -> ((d, tr) => Corpus.knNll(d, tr, "doc_id", "text")),
    "mknNll" -> ((d, tr) => Corpus.mknNll(d, tr, "doc_id", "text",
      discountFallback = true)),
    "perplexityBuckets" -> ((d, _) =>
      Corpus.perplexityBuckets(d, "doc_id", "text", "lang")))

  test("LM scorers: identical rows over 1 / 7 partitions, a joined+aggregated upstream, empty docs") {
    val train = docs.where(col("doc_id") % 10 < 8)
    val nDocs = docs.count()
    lmScorers.foreach { case (name, run) =>
      val got = run(docs, train).collect()
      // every doc kept; a null text scores like an empty one
      assert(got.length == nDocs, name)
      assert(got.forall(r => r.getAs[Long]("doc_id") % 5 != 0 ||
        r.isNullAt(r.fieldIndex("avg_nll"))), s"$name scored a null text")
      val base = got.map(_.toString).toSeq.sorted
      shapes.foreach { case (shape, f) =>
        assert(rows(run(f(docs), f(train))) == base, s"$name over $shape")
      }
      assert(run(docs.where(lit(false)), train).isEmpty, s"$name over empty docs")
    }
  }

  // --- Similarity family: same answer however the embeddings arrive -----
  // The driver-side seed samples (kmeansTrain's smallest ids, the PQ
  // codebook's hash rank) and every decimal sum must not depend on the
  // input's partitioning. About 60 vectors keep the case small; queries
  // are every third of them.
  private lazy val smallEmbs = embs.where(col("vec_id") % 8 === 0)

  private val similarityOps: Seq[(String, (DataFrame => DataFrame) => DataFrame)] = Seq(
    "kmeansAssign" -> (f => Similarity.kmeansAssign(f(smallEmbs),
      "vec_id", "embedding", k = 4, rounds = 2)),
    "ivfIndex→ivfProbeIndex" -> { f =>
      val (cents, postings) = Similarity.ivfIndex(f(smallEmbs),
        "vec_id", "embedding", nCentroids = 4, rounds = 1)
      Similarity.ivfProbeIndex(f(smallEmbs.where(col("vec_id") % 3 === 0)),
        "vec_id", "embedding", cents, postings, k = 3, nProbe = 2,
        excludeSelf = true)
    },
    "ivfPqIndex→ivfPqProbeIndex" -> { f =>
      val (cents, books, postings) = Similarity.ivfPqIndex(f(smallEmbs),
        "vec_id", "embedding", nCentroids = 4, rounds = 0, m = 8,
        codebookK = 16, lloydIters = 0)
      Similarity.ivfPqProbeIndex(f(smallEmbs.where(col("vec_id") % 3 === 0)),
        "vec_id", "embedding", cents, books, postings, k = 3, nProbe = 2)
    },
    "productQuantize" -> (f => Similarity.productQuantize(f(smallEmbs),
        "vec_id", "embedding", m = 8, k = 16, lloydIters = 1)._1
      .select("vec_id", "pq_codes")),
    "hardNegatives" -> (f => Similarity.hardNegatives(f(smallEmbs),
      "vec_id", "embedding", "label", k = 3)),
    "knnJoin" -> (f => Similarity.knnJoin(
      f(smallEmbs.where(col("vec_id") % 3 === 0)), f(smallEmbs),
      "vec_id", "embedding", "vec_id", "embedding", k = 3)),
    "principalComponents" -> (f => Similarity.principalComponents(f(smallEmbs),
      "embedding", dim = 64, nComponents = 2, rounds = 1)))

  test("Similarity family: identical rows over 1 / 7 partitions, a joined+aggregated upstream, empty") {
    similarityOps.foreach { case (name, run) =>
      val base = rows(run(identity))
      assert(base.nonEmpty, name)
      shapes.foreach { case (shape, f) =>
        assert(rows(run(f)) == base, s"$name over $shape")
      }
    }
    // empty input: an empty answer where there is nothing to search, a
    // loud failure where a model must be trained from the vectors, and
    // the all-zero mean and loadings for PCA
    val empty: DataFrame => DataFrame = _.where(lit(false))
    val op = similarityOps.toMap
    Seq("kmeansAssign", "hardNegatives", "knnJoin").foreach { name =>
      assert(op(name)(empty).isEmpty, s"$name over an empty frame")
    }
    val (cents, postings) = Similarity.ivfIndex(smallEmbs, "vec_id", "embedding",
      nCentroids = 4, rounds = 1)
    assert(Similarity.ivfProbeIndex(smallEmbs.where(lit(false)), "vec_id", "embedding",
      cents, postings, k = 3, nProbe = 2).isEmpty)
    val noCentroids = intercept[IllegalArgumentException](
      op("ivfIndex→ivfProbeIndex")(empty))
    assert(noCentroids.getMessage.contains("empty centroid table"), noCentroids.getMessage)
    Seq("ivfPqIndex→ivfPqProbeIndex", "productQuantize").foreach { name =>
      val e = intercept[IllegalArgumentException](op(name)(empty))
      assert(e.getMessage.contains("no non-null vector"), s"$name: ${e.getMessage}")
    }
    val pca = op("principalComponents")(empty).collect()
    assert(pca.length == 128 &&
      pca.forall(r => r.getDouble(2) == 0.0 && r.getDouble(3) == 0.0))
  }

  // --- Stats family: same answer however the documents arrive ----------
  // Every count, rank and cut is exact and every sum accumulates in
  // DECIMAL, so no partitioning or upstream shape may move a bit. Each
  // op derives its inputs from the shaped documents.
  private lazy val statDocs = spark.read.parquet(s"${sf()}/documents.parquet")
    .select("doc_id", "lang", "source", "n_chars")

  private def scored(d: DataFrame): DataFrame =
    d.select(col("lang"), col("n_chars").cast("double").as("score"),
      (pmod(col("doc_id"), lit(2)) === 0).as("label"),
      (col("n_chars") >= 200).as("pred"),
      (pmod(col("n_chars"), lit(100)).cast("double") / lit(100.0)).as("p"))

  private val statsOps: Seq[(String, (DataFrame => DataFrame) => DataFrame)] = {
    val lang = Seq("lang")
    def auc(g: Seq[String]): (DataFrame => DataFrame) => DataFrame =
      f => Stats.aucPieces(scored(f(statDocs)), "score", "label", g)
    def conf(g: Seq[String]): (DataFrame => DataFrame) => DataFrame =
      f => Stats.confusionStats(scored(f(statDocs)), "pred", "label", g)
    def rel(g: Seq[String]): (DataFrame => DataFrame) => DataFrame =
      f => Stats.reliabilityDiagram(scored(f(statDocs)), "p", "label", 10, 0.0, 1.0, g)
    def drift(g: Seq[String]): (DataFrame => DataFrame) => DataFrame = { f =>
      val d = f(statDocs)
      Stats.histogramDrift(d.where(pmod(col("doc_id"), lit(3)) =!= 0),
        d.where(pmod(col("doc_id"), lit(2)) === 0), "n_chars", 12, 0.0, 600.0, g)
    }
    // a null in every seventh value, so imputation has holes to fill
    def holes(d: DataFrame): DataFrame = d.withColumn("v",
      when(pmod(col("doc_id"), lit(7)) =!= 0, col("n_chars").cast("double")))
    def raters(d: DataFrame): DataFrame = d.select(col("lang"), col("doc_id"),
      pmod(col("n_chars"), lit(3)).as("r1"), pmod(col("doc_id"), lit(3)).as("r2"))
    Seq(
      "aucPieces" -> auc(Nil), "aucPieces by lang" -> auc(lang),
      "confusionStats" -> conf(Nil), "confusionStats by lang" -> conf(lang),
      "reliabilityDiagram" -> rel(Nil), "reliabilityDiagram by lang" -> rel(lang),
      "histogramDrift" -> drift(Nil), "histogramDrift by lang" -> drift(lang),
      "spearmanPieces" -> (f => Stats.spearmanPieces(f(statDocs), "doc_id", "n_chars")),
      "quantileBucket" -> (f => Stats.quantileBucket(f(statDocs), "n_chars", 4)),
      "quantileBucketByGroup" -> (f =>
        Stats.quantileBucketByGroup(f(statDocs), "n_chars", "lang", 3)),
      "winsorize" -> (f => Stats.winsorize(f(statDocs), "n_chars", 0.05, 0.95)),
      "winsorizeByGroup" -> (f =>
        Stats.winsorizeByGroup(f(statDocs), "n_chars", "lang", 0.05, 0.95)),
      "madOutliers" -> (f => Stats.madOutliers(f(statDocs), "n_chars", "lang")),
      "imputeByGroup median" -> (f => Stats.imputeByGroup(holes(f(statDocs)), "v", "lang")),
      "imputeByGroup mode" -> (f =>
        Stats.imputeByGroup(holes(f(statDocs)), "v", "lang", strategy = "mode")),
      "ksStatistic" -> (f => Stats.ksStatistic(f(statDocs), "n_chars", "lang", "en", "de")),
      "contingency" -> (f => Stats.contingency(f(statDocs), "lang", "source")),
      "cramersV" -> (f => Stats.cramersV(f(statDocs), "lang", "source")),
      "categoricalMI" -> (f => Stats.categoricalMI(f(statDocs), "lang", "source")),
      "cohenKappaByGroup" -> (f =>
        Stats.cohenKappaByGroup(raters(f(statDocs)), "lang", "r1", "r2")),
      // a complete three-rater panel per document
      "fleissKappaByGroup" -> (f => Stats.fleissKappaByGroup(
        raters(f(statDocs)).select(col("lang"), col("doc_id"),
          explode(array(col("r1"), col("r2"), pmod(col("r1") + col("r2"), lit(3))))
            .as("label")),
        "lang", "doc_id", "label")))
  }

  test("Stats family: identical rows over 1 / 7 partitions, a joined+aggregated upstream, empty") {
    statsOps.foreach { case (name, run) =>
      val base = rows(run(identity))
      assert(base.nonEmpty, name)
      shapes.foreach { case (shape, f) =>
        assert(rows(run(f)) == base, s"$name over $shape")
      }
    }
    // empty input: GROUP BY () keeps its one row (or its full bin grid),
    // grouped forms and censuses answer nothing, and the two bisection
    // ops that need a value fail naming the column
    val empty: DataFrame => DataFrame = _.where(lit(false))
    val op = statsOps.toMap
    val oneRow = Seq("aucPieces", "confusionStats", "spearmanPieces")
    val grids = Map("reliabilityDiagram" -> 10, "histogramDrift" -> 12)
    val loud = Seq("quantileBucket", "winsorize")
    statsOps.map(_._1).filterNot(loud.contains).foreach { name =>
      val want = if (oneRow.contains(name)) 1 else grids.getOrElse(name, 0)
      assert(op(name)(empty).count() == want, s"$name over an empty frame")
    }
    loud.foreach { name =>
      val e = intercept[IllegalArgumentException](op(name)(empty))
      assert(e.getMessage.contains("no non-null values in n_chars"), s"$name: ${e.getMessage}")
    }
  }
}
