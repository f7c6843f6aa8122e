package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale document pipelines.
  *
  * Everything here is built from `org.apache.spark.sql.functions._` so the
  * expressions stay inside whole-stage codegen (no UDFs) and survive
  * Catalyst optimization (pushdown/pruning) untouched.
  *
  * Capability target: the row-closure text munging users write in the
  * reference's `Map` operations (go-sif/sif `operations/transform/map.go:25-35`)
  * expressed as declarative, codegen'd columns — plus the language-ID /
  * quality / token-count / fingerprint surface a training-data pipeline
  * needs.
  */
object TextFunctions {

  /** Whitespace tokens of trimmed text. Null/empty/blank text → empty
    * array — total by design: a 100 TB crawl always contains null text,
    * and a NULL token count would propagate through every downstream
    * aggregate (offsets, budgets, vocab) as silent row loss.
    */
  def tokens(text: Column): Column =
    when(text.isNull || length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Number of whitespace-delimited tokens. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word-pieces + digits + punctuation as separate
    * tokens (a cheap, deterministic stand-in for a real tokenizer's token
    * count — scales linearly, no vocab lookups).
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Count of tokens that appear in `words` — case-insensitive (profiles
    * are lowercase; "The" at a sentence start must still count).
    */
  def stopwordCount(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => lower(t).isin(words.map(lit(_)): _*)))

  /** Ratio of punctuation characters to total characters (0 for empty). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(
        length(regexp_replace(text, "[^.,!?;:'\"()-]", "")).cast("double") /
          length(text).cast("double"))

  /** English-ish stopword ratio — fraction of tokens that are common
    * function words. High-quality prose sits around 0.3–0.6; word salad and
    * boilerplate fall outside.
    */
  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")

  def stopwordRatio(text: Column): Column = {
    val tc = tokenCount(text)
    when(tc === 0, lit(0.0))
      .otherwise(stopwordCount(text, EnglishStopwords).cast("double") / tc.cast("double"))
  }

  /** Composite quality score in [0, 1]:
    * length factor (saturates at 100 tokens) × (1 − punctuation ratio).
    * Deterministic, monotone, cheap — a filterable proxy for "real prose".
    */
  def qualityScore(text: Column): Column =
    least(lit(1.0), tokenCount(text).cast("double") / lit(100.0)) *
      (lit(1.0) - punctRatio(text))

  /** Per-language stopword profiles for the n-gram-free language-ID
    * heuristic. Tiny on purpose: broadcast-free, codegen'd, O(tokens).
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "est"),
    "es" -> Seq("el", "los", "las", "de", "y", "que", "un"),
    "zh" -> Seq("的", "是", "了", "不", "在", "我", "有"),
  )

  /** Heuristic language ID: argmax of per-language stopword hits, ties
    * broken by profile order, zero hits → "und" (undetermined). Backed by
    * the single-pass [[graft.plans.StopwordProfileArgmax]] expression.
    */
  def langId(text: Column): Column =
    graft.plans.HashExpressions.stopwordProfileArgmax(
      tokens(text), LangProfiles.map(_._1), LangProfiles.map(_._2))

  /** Scored language ID — [[langId]]'s verdict plus the CONFIDENCE a
    * routing pipeline needs (the CCNet pattern: high-margin docs take
    * the cheap path, low-margin docs route to a heavier identifier or
    * quarantine). Per language, `hits` counts tokens in that
    * language's stopword profile (case-insensitive, [[LangProfiles]]);
    * the verdict is the argmax with ties resolved by profile order
    * (the [[langId]] contract — spec-pinned equal to the codegen'd
    * kernel on fuzzed text), `n_hits` is the winner's count and
    * `margin = top − second` over the full hit vector (a tie at the
    * top reads margin 0 — exactly the "don't trust this" signal).
    * Zero hits anywhere → ("und", 0, 0).
    *
    * All-integer outputs, so the oracle reproduces them exactly; the
    * second-best hit count comes from a 5-element array sort, not a
    * pairwise CASE pyramid. Map-only: |profiles| array filters inside
    * one scan projection, zero shuffles.
    *
    * @return (idCol, lang, n_hits, margin)
    */
  def langIdScored(df: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val toks = tokens(coalesce(col(textCol), lit("")))
    val hits = LangProfiles.map { case (lang, words) =>
      lang -> size(filter(toks, t => lower(t).isin(words: _*)))
    }
    val hitArr = array(hits.map(_._2.cast("long")): _*)
    val sorted = sort_array(hitArr, asc = false)
    val top = element_at(sorted, 1)
    val second = element_at(sorted, 2)
    val lang = hits.foldRight(lit("und"): Column) { case ((l, h), acc) =>
      when(h.cast("long") === top && top > 0L, lit(l)).otherwise(acc)
    }
    // foldRight keeps the FIRST profile-order winner: later whens wrap
    // earlier ones as the otherwise branch, so en beats de on a tie
    graft.GraftSession.spreadScan(df)
      .select(col(idCol), lang.as("lang"),
        when(top > 0L, top).otherwise(0L).as("n_hits"),
        when(top > 0L, top - second).otherwise(0L).as("margin"))
  }

  /** Unicode-script census per document — the multilingual routing
    * prefilter that runs BEFORE any tokenizer choice (stopword langid
    * assumes you already know roughly which scripts to try; a CJK doc
    * routed through whitespace tokenization scores garbage). One
    * codegen'd map pass ([[graft.plans.ScriptProfile]]: explicit
    * integer code-point ranges, engine-portable), zero shuffles.
    *
    * `main_script` is the dominant non-whitespace block — each candidate
    * in fixed priority order (latin, digit, cyrillic, cjk, arabic,
    * other) wins iff its count is positive and ≥ every other block, so
    * ties resolve to the earlier label; all-whitespace/empty docs are
    * "und". The when-chain is mirrored clause-for-clause in the oracle.
    *
    * @return (idCol, n_chars, n_latin, n_digit, n_cyrillic, n_cjk,
    *          n_arabic, n_space, n_other, main_script)
    */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = graft.plans.HashExpressions
      .scriptProfile(coalesce(col(textCol), lit("")))
    val counts = Seq("latin", "digit", "cyrillic", "cjk", "arabic", "other")
    def dominant(c: String): Column =
      counts.filter(_ != c).map(o => col(s"__s.$c") >= col(s"__s.$o"))
        .reduce(_ && _) && col(s"__s.$c") > 0
    df.select(col(idCol), st.as("__s"))
      .select(col(idCol),
        col("__s.n").as("n_chars"),
        col("__s.latin").as("n_latin"), col("__s.digit").as("n_digit"),
        col("__s.cyrillic").as("n_cyrillic"), col("__s.cjk").as("n_cjk"),
        col("__s.arabic").as("n_arabic"), col("__s.space").as("n_space"),
        col("__s.other").as("n_other"),
        counts.foldRight(lit("und"): Column)((c, acc) =>
          when(dominant(c), lit(c)).otherwise(acc)).as("main_script"))
  }

  /** Mixed-script token census — the Unicode TR39-style confusable
    * signal: a token mixing letters from two of the THREE mutually
    * confusable alphabets (Latin, Greek, Cyrillic) is the classic
    * spoof/typosquat/encoding-damage shape ("pаypal" with a Cyrillic а
    * survives every ASCII filter and poisons dedup keys and URL
    * joins). Exactly these three scripts mix: Latin+Han, Latin+kana,
    * Han+Hangul etc. are LEGITIMATE bilingual text (TR39's
    * highly-restrictive profile allows them) and stay unflagged.
    *
    * Script membership is decided by EXPLICIT code-point ranges (the
    * [[scriptProfile]] portability discipline — no engine's Unicode
    * script table is consulted, so Java and RE2 agree by construction):
    * Latin = ASCII letters + Latin-1/Extended letters (× ÷ carved
    * out), Greek = U+0370–03FF, Cyrillic = U+0400–04FF. Detection is
    * three `\x{...}`-range regex containment tests per token — the one
    * regex spelling Java and RE2 share.
    *
    * Map-only: tokens, three rlikes inside an array filter, a count
    * and a lexicographic min — zero shuffles, bodies never move.
    *
    * @return (idCol, n_tokens, n_mixed, mixed_example) —
    *         mixed_example is the lexicographically smallest flagged
    *         token (deterministic witness), null when none
    */
  def mixedScriptCensus(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val toks = tokens(coalesce(col(textCol), lit("")))
    val latin = "[A-Za-z\\x{00C0}-\\x{00D6}\\x{00D8}-\\x{00F6}" +
      "\\x{00F8}-\\x{024F}]"
    val greek = "[\\x{0370}-\\x{03FF}]"
    val cyr = "[\\x{0400}-\\x{04FF}]"
    def mixed(t: Column): Column = {
      val l = t.rlike(latin); val g = t.rlike(greek); val c = t.rlike(cyr)
      (l && g) || (l && c) || (g && c)
    }
    val flagged = filter(toks, mixed _)
    df.select(col(idCol),
      size(toks).cast("long").as("n_tokens"),
      size(flagged).cast("long").as("n_mixed"),
      when(size(flagged) > 0, array_min(flagged)).as("mixed_example"))
  }

  /** 64-bit document fingerprint: xxhash64 of the full text. Stable across
    * runs/partitions; join-able; the exact-dedup key of choice at 100 TB
    * (8 bytes shuffled instead of the document body).
    */
  def fingerprint(text: Column): Column = xxhash64(text)

  /** Winnowing-style robust fingerprint: minimum xxhash64 over the
    * document's word `n`-shingles — stable under small edits at either end.
    */
  def minShingleFingerprint(text: Column, n: Int): Column =
    array_min(transform(wordShingles(text, n), g => xxhash64(g)))

  /** Full winnowing fingerprint set (rolling k-gram hash + w-window
    * minima, native [[graft.plans.WinnowFingerprints]] expression):
    * `array<long>` of selected hashes. Two documents sharing a substring
    * of ≥ w+k−1 characters share at least one fingerprint — the local
    * (partial-overlap) detection [[fingerprint]] can't give. Set size is
    * ~2/(w+1) of text length: shuffle-light, usable as an inverted-index
    * join key for plagiarism-style containment search at corpus scale.
    */
  def winnowFingerprints(text: Column, k: Int = 5, w: Int = 8): Column =
    graft.plans.HashExpressions.winnowFingerprints(text, k, w)

  /** Canonical text normalization for dedup keys and downstream matching:
    * lowercase, strip ASCII control characters, collapse every whitespace
    * run to one space, trim. Pure codegen'd string expressions — runs
    * inside the scan projection, nothing shuffles.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[\\x00-\\x1f]", " "), "\\s+", " "))

  /** PII scrub: mask e-mail addresses, then 9+-digit runs (SSN-ish /
    * account-number-ish), then 7+-digit phone-ish runs allowing common
    * separators. Order matters — e-mails first so their digit runs aren't
    * half-masked. Deterministic regex replacement, codegen'd, map-only;
    * the conservative patterns favor recall over precision, the right
    * trade for training-data redaction.
    *
    * Column-level, so CollapseProject CAN re-inline the 3-regex chain
    * into every downstream reference — cheap enough here (3 nodes, vs
    * the ~800 of a URL-resolution chain), but a caller that fans a
    * scrubbed column out to many consumers should wrap the projection
    * in [[graft.functions.Pin.pin]].
    */
  def scrubPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val longDigits = regexp_replace(email, "[0-9]{9,}", "<ID>")
    regexp_replace(longDigits, "\\+?[0-9][0-9() .-]{5,}[0-9]", "<PHONE>")
  }

  /** Luhn checksum validity (ISO/IEC 7812 mod-10) of a pure-digit
    * string — the standard payment-card check digit, the precision gate
    * a PII census needs to separate real card numbers from arbitrary
    * digit runs. Declarative (transform + aggregate over the reversed
    * digits), codegen-friendly, map-only; an empty or non-digit input
    * yields null (not false) — callers AND it with their own shape
    * checks, where null collapses to "drop" on both engines.
    */
  def luhnValid(digits: Column): Column = {
    val rev = reverse(digits)
    val total = aggregate(
      transform(sequence(lit(1), length(digits)), i => {
        val d = rev.substr(i, lit(1)).cast("int")
        when(i % 2 === 1, d).otherwise(d * 2 - when(d > 4, 9).otherwise(0))
      }),
      lit(0), (acc, x) => acc + x)
    total % 10 === 0
  }

  /** Deflate compression ratio (compressed/raw bytes) as a codegen'd
    * native expression ([[graft.plans.DeflateRatio]]) — the
    * Gopher-lineage quality tail-cutter: boilerplate/repetition
    * compresses far below prose, noise/minified/encoded blobs sit near
    * 1.0. Empty → 1.0 (neutral), null → null. No SQL oracle exists for
    * a codec — property-pinned in spec, like the other real codecs.
    */
  def compressionRatio(text: Column, level: Int = 6): Column =
    graft.plans.CompressExpressions.deflateRatio(text, level)

  /** Unicode normalization as a codegen'd native expression
    * ([[graft.plans.UnicodeNormalize]]): form ∈ NFC/NFD/NFKC/NFKD.
    * Run before [[fingerprint]]/dedup — composed and decomposed
    * encodings of the same text are different byte strings to every
    * hash until normalized. ASCII rows take a scan-only fast path.
    */
  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    graft.plans.UnicodeExpressions.unicodeNormalize(text, form)

  /** Per-phrase occurrence counts for a fixed blocklist in ONE
    * Aho–Corasick pass: `array<long>` aligned with `phrases` (element i =
    * non-overlapping occurrences of phrase i, `replace()`-count
    * semantics). O(|text|) per document no matter how many phrases the
    * list holds — the `contains`-per-phrase formulation this replaces is
    * O(|text|·#phrases) and dominates a curation pass at the 10k-phrase
    * blocklists (C4's badwords list, Dolma's filter lists) production
    * pipelines actually run. Native codegen'd expression
    * ([[graft.plans.MultiMatchCounts]]); map-only, nothing shuffles.
    */
  def blocklistCounts(text: Column, phrases: Seq[String]): Column =
    graft.plans.MatchExpressions.multiMatchCounts(text, phrases)

  /** Total blocklist hits per document (sum over [[blocklistCounts]]). */
  def blocklistHits(text: Column, phrases: Seq[String]): Column =
    aggregate(blocklistCounts(text, phrases), lit(0L), (acc, x) => acc + x)

  /** Overlapping word `n`-grams with multiplicity (NOT de-duplicated —
    * unlike [[wordShingles]]) — the frequency-counting form used by
    * repetition scoring. Documents with fewer than `n` tokens produce an
    * empty array (they have no complete n-gram).
    */
  def wordNgrams(text: Column, n: Int): Column = {
    val tok = tokens(text)
    when(size(tok) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), size(tok) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(tok, i + k)): _*)))
  }

  /** Split a document into overlapping token-window chunks — the
    * context-length preprocessing step before sequence packing: chunk `i`
    * covers tokens `[i·stride, i·stride + chunkLen)`, so consecutive
    * chunks share `chunkLen − stride` tokens of context. The final chunk
    * may be short; a document emits `ceil(max(n − chunkLen, 0) / stride)
    * + 1` chunks, and empty docs emit none.
    *
    * Returns an array of structs (chunk_idx int, token_start long,
    * chunk_text string) — callers `inline`/`explode` to rows. The per-doc
    * lambda runs once per CHUNK (a handful), not per token: `slice` +
    * `array_join` do the token work natively.
    */
  def chunkTokens(text: Column, chunkLen: Int, stride: Int): Column = {
    require(chunkLen > 0 && stride > 0 && stride <= chunkLen,
      s"need 0 < stride <= chunkLen, got chunkLen=$chunkLen stride=$stride")
    val tok = tokens(text)
    val n = size(tok)
    val nChunks =
      greatest(ceil((n - lit(chunkLen)).cast("double") / lit(stride)), lit(0L))
        .cast("int") + 1
    val chunks = transform(sequence(lit(0), nChunks - 1),
      i => struct(
        i.cast("int").as("chunk_idx"),
        (i * stride).cast("long").as("token_start"),
        array_join(slice(tok, i * stride + 1, lit(chunkLen)), " ").as("chunk_text")))
    // empty docs: sequence(0, -1) would count DOWN — emit no chunks
    when(n === 0, array().cast(
      "array<struct<chunk_idx:int,token_start:bigint,chunk_text:string>>"))
      .otherwise(chunks)
  }

  /** Non-overlapping `w`-word spans (the partial tail span included) —
    * the "unit" decomposition [[Corpus.removeFrequentUnits]] uses on
    * corpora without natural line breaks. Plain projection of
    * [[chunkTokens]] with stride = width.
    */
  def wordSpans(text: Column, w: Int): Column =
    transform(chunkTokens(text, chunkLen = w, stride = w),
      c => c.getField("chunk_text"))

  /** Overlapping word `n`-grams ("shingles"), space-joined, de-duplicated.
    * Documents with fewer than `n` tokens get a single shingle of the whole
    * text so they still participate in similarity joins.
    */
  def wordShingles(text: Column, n: Int): Column = {
    val tok = tokens(text)
    val joined = concat_ws(" ", tok)
    when(size(tok) < n, array(joined)).otherwise(
      array_distinct(
        transform(sequence(lit(1), size(tok) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(tok, i + k)): _*))))
  }

  /** American Soundex code (the official rule set incl. H/W
    * transparency — Knuth TAOCP vol. 3 §6 / the US archives spec):
    * first letter + three digits from b f p v→1, c g j k q s x z→2,
    * d t→3, l→4, m n→5, r→6; vowels (and y) separate equal codes, h/w
    * do NOT (Ashcraft → A261, not A226), runs of equal codes collapse,
    * the first letter's own code is dropped, zero-padded to 4.
    *
    * The classic phonetic BLOCKING key for record linkage: spelling
    * variants of the same name land in one bucket, so candidate
    * generation is an equi-join on the code — the [[Dedup]] band-key
    * discipline applied to names. Built as a translate + bounded
    * regexp_replace chain over the shared Java/RE2 regex subset (no
    * backreferences, no lookahead), so a SQL oracle reproduces every
    * code bit-for-bit. Non-ASCII-letter chars are stripped BEFORE
    * upper-casing (locale-proof); tokens with no ASCII letter → null.
    *
    * H/W transparency is ONE greedy merge pass per digit —
    * `d[d9]*d → dd` collapses any maximal run of {d, 9} delimited by
    * d's in a single scan (an alternating `d9d9…d` chain of any depth
    * matches whole), then same-digit runs collapse. The head CHARACTER
    * (the first letter's own code — a digit, 0, or the 9 of an H/W
    * initial) is dropped before 9/0 removal, so an H-initial word
    * keeps its first consonant digit (Honeyman → H555) while a
    * first-letter run collapses into the head (Pfister → P236). 13
    * regexes total — this replaced a 4-round interleaved formulation
    * (48 regexes) whose codegen compile constant dominated the query
    * (~6.5 s scoped at sf0.1 for vocabulary-sized actual work).
    */
  def soundexCode(token: Column): Column = {
    val up = upper(regexp_replace(token, "[^A-Za-z]", ""))
    val d0 = translate(up, "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
      "01230129022455012623019202")
    val merged = (1 to 6).foldLeft(d0)((acc, d) =>
      regexp_replace(acc, s"$d[${d}9]*$d", s"$d$d"))
    val collapsed = (1 to 6).foldLeft(merged)((acc, d) =>
      regexp_replace(acc, s"$d{2,}", s"$d"))
    val digits = regexp_replace(regexp_replace(
      regexp_replace(collapsed, "^.", ""), "9", ""), "0", "")
    when(length(up) === 0, lit(null).cast("string"))
      .otherwise(concat(substring(up, 1, 1),
        substring(rpad(digits, 3, "0"), 1, 3)))
  }
}
