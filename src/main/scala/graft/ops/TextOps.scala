package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}

/** Text-analysis building blocks for large-scale training-data
  * pipelines: tokenization, shingling, quality stats, language ID,
  * document fingerprinting.
  *
  * Everything here is a pure Catalyst `Column` expression (built-in
  * functions + higher-order array functions) — no UDFs, so whole-stage
  * codegen and column pruning stay intact, and each transform is
  * embarrassingly parallel per row: the 100 TB path is a plain
  * map-only stage with no shuffle.
  */
object TextOps {

  /** Whitespace tokenizer (ref analog: the engine-side counterpart of
    * the reference's pandas text cleaning; SURVEY.md §2.8 X4). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column =
    size(tokens(text)).cast(IntegerType)

  /** Exact average token length: integer sums then one double divide,
    * so results are bit-stable and oracle-matchable. */
  def avgTokenLen(text: Column): Column = {
    val t = tokens(text)
    val totalLen = aggregate(t, lit(0L), (acc, x) => acc + length(x))
    (totalLen.cast(DoubleType) / size(t)).cast(DoubleType)
  }

  /** Ratio of tokens found in a small stopword list (quality signal). */
  val stopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")

  def stopwordCount(text: Column): Column = {
    val sw = array(stopwords.map(lit): _*)
    size(filter(tokens(text), t => array_contains(sw, lower(t))))
      .cast(IntegerType)
  }

  def stopwordRatio(text: Column): Column =
    (stopwordCount(text).cast(DoubleType) /
      size(tokens(text)).cast(DoubleType)).cast(DoubleType)

  /** Heuristic quality score in [0,1]: length sweet-spot + stopword
    * presence + token-length sanity. Deterministic arithmetic only. */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast(DoubleType)
    val lenScore = least(n / lit(50.0), lit(1.0))
    val swScore = least(stopwordRatio(text) * lit(5.0), lit(1.0))
    val atl = avgTokenLen(text)
    val atlScore =
      when(atl.between(2.0, 12.0), lit(1.0)).otherwise(lit(0.0))
    ((lenScore + swScore + atlScore) / lit(3.0)).cast(DoubleType)
  }

  /** Canonical text normalization used for fingerprinting/dedup:
    * lowercase, strip non-alphanumerics, collapse whitespace. */
  def normalized(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Content fingerprint over normalized text (ref: the md5 content
    * keys of copy_into_*.sql, generalized to document identity). */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Word n-gram shingles as a DISTINCT set (for Jaccard / MinHash),
    * first-occurrence order. Native one-pass expression
    * (graft.functions.ShingleSet); `shinglesHof` is the built-in
    * formulation kept for the bit-compatibility cross-check. */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.ShingleSet.shingle_set(tokens(text), n)

  /** Built-in-functions fallback of `shingles` (same semantics).
    * Built by zipping n shifted slices of the token array — NOT by
    * indexing `element_at(tokens(text), i)` inside a lambda, which
    * would re-evaluate the split for every element (O(n·tokens)
    * splits per row instead of O(n)). Guarded so docs shorter than n
    * yield an empty set. */
  def shinglesHof(text: Column, n: Int = 3): Column = {
    val t = tokens(text)
    val cnt = size(t) - (n - 1)
    val slices = (0 until n).map(k => slice(t, lit(k + 1), cnt))
    val zipped = slices.reduce((acc, s) =>
      zip_with(acc, s, (a, b) => concat(a, lit(" "), b)))
    array_distinct(
      when(size(t) >= n, zipped).otherwise(array().cast("array<string>")))
  }

  /** Exact Jaccard similarity of two shingle sets; |A∩B| and set
    * sizes are ints, so the single double division is deterministic. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    (inter / (size(a) + size(b) - size(array_intersect(a, b)))
      .cast(DoubleType)).cast(DoubleType)
  }

  /** Winnowing document fingerprints (Schleimer et al., MOSS): hash
    * every n-gram shingle, slide a window of `w` hashes, keep each
    * window's minimum — the classic rolling-hash fingerprint set that
    * guarantees shared fingerprints for sufficiently long shared
    * substrings. Pure array expressions over a bound hash column;
    * map-only at scale. Overlap(fingerprints) is a plagiarism/overlap
    * signal robust to position shifts. */
  def shingleHashes(text: Column, n: Int = 3): Column =
    transform(shingles(text, n), s => xxhash64(s))

  /** POSITIONAL n-gram shingle sequence — NOT deduplicated, one entry
    * per token position, in document order. This is the sequence
    * faithful winnowing slides over (repeated shingles keep their
    * positions); `shingles` is the distinct SET the set-similarity
    * ops (Jaccard / MinHash) consume. Same zipped-slice build as
    * `shinglesHof`, minus the distinct. */
  def shingleSeq(toks: Column, n: Int = 3): Column = {
    val cnt = size(toks) - (n - 1)
    val slices = (0 until n).map(k => slice(toks, lit(k + 1), cnt))
    val zipped = slices.reduce((acc, s) =>
      zip_with(acc, s, (a, b) => concat(a, lit(" "), b)))
    when(size(toks) >= n, zipped).otherwise(array().cast("array<string>"))
  }

  /** Oracle-expressible 60-bit content hash: the first 15 hex digits
    * of md5, read as an integer. Unlike xxhash64 (Spark-private
    * seed/variant), any engine with md5 reproduces it bit-for-bit —
    * so fingerprint pipelines built on it are cross-checkable against
    * a SQL oracle. 2^60 space keeps birthday collisions negligible at
    * corpus scale (~10^9 shingles → ~3e-4 collision odds per pair
    * set); codegen'd md5 + conv, no UDF. */
  def polyHash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast(LongType)

  /** Kirsch–Mitzenmacher double hashing for SQL-replayable minhash:
    * ONE md5 per shingle yields TWO independent bases — h1 = hex
    * digits 1..15 (60 bits), h2 = digits 16..29 (56 bits) — and
    * permutation i is g_i = (h1 + i·h2) mod (2^61 − 1). md5 (digest
    * + hex + conv) is ~the entire per-permutation cost, so deriving
    * k permutations from one digest cuts the hash stage k-fold; the
    * derivation itself is three primitive long ops that stay inside
    * whole-stage codegen. Overflow-audited for BOTH engines at the
    * k <= 64 bound Dedup enforces (i <= 63):
    * i·h2 < 64·2^56 = 2^62, + h1 < 2^62 + 2^60 < 2^63 — inside
    * signed-64 range (pinned by the GraftProps permHash property), so
    * Spark long arithmetic and DuckDB BIGINT compute the identical
    * value (an earlier decimal(38) mulmod variant was exact too but
    * BigDecimal-backed: measured 13.5 s vs 6.4 s baseline — wrong
    * direction; this one is pure primitive ops). */
  val MinHashMod: Long = 2305843009213693951L // 2^61 - 1 (Mersenne)

  /** 60-bit base 1 from a bound md5-hex column. */
  def mdBase1(m: Column): Column =
    conv(substring(m, 1, 15), 16, 10).cast(LongType)

  /** 56-bit base 2 from the same bound md5-hex column. */
  def mdBase2(m: Column): Column =
    conv(substring(m, 16, 14), 16, 10).cast(LongType)

  /** g_i over bound long base columns (i is the 0-based perm index). */
  def permHash(i: Column, h1: Column, h2: Column): Column =
    pmod(h1 + i.cast(LongType) * h2, lit(MinHashMod))

  /** Winnow from a BOUND hash-array column. Callers on big data must
    * bind `shingleHashes` to a named column first — passing the hash
    * expression directly re-evaluates it per window (the nested-HOF
    * trap). */
  def winnowFromHashes(hs: Column, w: Int = 4): Column = {
    val windows = transform(
      sequence(lit(1), greatest(size(hs) - (w - 1), lit(0))),
      i => array_min(slice(hs, i, lit(w))))
    array_distinct(when(size(hs) >= w, windows)
      .otherwise(array_distinct(hs)))
  }

  /** Convenience form for small frames/tests. */
  def winnowingFingerprints(text: Column, n: Int = 3, w: Int = 4): Column =
    winnowFromHashes(shingleHashes(text, n), w)

  /** Language-ID heuristic: score each candidate language by hits of
    * its characteristic stopwords / character classes; best score wins
    * (ties broken by fixed language order; default "en"). Pure column
    * arithmetic — a real model would plug in the same shape.
    * [Not oracle-expressible — checked by ScalaTest.] */
  private val langMarkers: Seq[(String, Seq[String])] =
    graft.functions.TextLang.markers // single source of truth

  /** Native one-pass language ID (graft.functions.TextLang) — the
    * codegen'd scan that replaced the interpreted `aggregate` lambda
    * on the hot path (x4_kappa 3.7 s → map-bound; same semantics,
    * OpsSpec pins native == [[langIdHof]] on the real corpus). */
  def langId(text: Column): Column =
    graft.functions.TextLang.lang_id(text)

  /** Built-in-functions formulation of [[langId]] (same semantics) —
    * kept as the bit-compatibility cross-check, same pattern as
    * `shinglesHof` next to the native ShingleSet. */
  def langIdHof(text: Column): Column =
    langIdFromTokens(text, tokens(lower(text)))

  private val wordLangs = langMarkers.filter(_._2.nonEmpty)

  /** All four stopword scores in ONE `aggregate` pass, packed into
    * 16-bit lanes of a single long (the marker lists are disjoint, so
    * each token increments at most one lane; a doc would need 65k+
    * stopword hits to overflow a lane). Higher-order lambdas are
    * interpreted per element, so one pass beats four
    * `filter(...)`+`size` passes ~4x. Bind this to a named column
    * before extracting lanes so it evaluates once per row. */
  def langPacked(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => {
      val hit = wordLangs.zipWithIndex.foldLeft(when(lit(false), lit(0L))) {
        case (w, ((_, words), i)) =>
          w.when(array_contains(array(words.map(lit): _*), t),
            lit(1L << (16 * i)))
      }
      acc + coalesce(hit, lit(0L))
    })

  /** langId with the lowercased token array precomputed as a column —
    * bind `tokens(lower(text))` to a named column first so the split
    * runs once per row, not once per language score. Convenience form:
    * evaluates `langPacked` inline (fine for tests/small frames; big
    * scans should bind it — see `langIdFromPacked`). */
  def langIdFromTokens(text: Column, toks: Column): Column =
    langIdFromPacked(text, langPacked(toks))

  /** langId from a BOUND packed-score column (see `langPacked`). */
  def langIdFromPacked(text: Column, packed: Column): Column = {
    val laneOf: Map[String, Int] = wordLangs.map(_._1).zipWithIndex.toMap
    val scores: Seq[(String, Column)] = langMarkers.map {
      case ("zh", _) =>
        // CJK presence: count of Han characters in a single regex scan
        // (regexp_count builds no intermediate string, unlike the
        // strip-and-measure regexp_replace formulation).
        "zh" -> regexp_count(text, lit("[\\u4e00-\\u9fff]")).cast(DoubleType)
      case (lang, _) =>
        lang -> shiftright(packed, 16 * laneOf(lang)).bitwiseAND(lit(0xFFFFL))
          .cast(DoubleType)
    }
    // argmax with deterministic tie-break = first in langMarkers order
    val best = scores.tail.foldLeft(
      struct(scores.head._2.as("score"), lit(scores.head._1).as("lang"))) {
      case (acc, (lang, score)) =>
        when(score > acc.getField("score"),
          struct(score.as("score"), lit(lang).as("lang"))).otherwise(acc)
    }
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("en"))
  }

  // ---- encoding repair (mojibake) ----------------------------------

  /** Chars that can only be UTF-8 LEAD bytes misread as Latin-1
    * (0xC2–0xF4) followed by a char in the continuation-byte range
    * (0x80–0xBF) — the signature of UTF-8 text decoded as
    * ISO-8859-1/Windows-1252 ("Ã©" for é, "â€™" for a curly quote). */
  private val MojibakeMarker = "[\\u00C2-\\u00F4][\\u0080-\\u00BF]"

  /** True Latin-1-decoded mojibake contains ONLY chars ≤ U+00FF (every
    * byte maps to one such char); ANY code point above — BMP or
    * supplementary (emoji) — proves the string is NOT a Latin-1
    * misread and must never be "repaired" (encoding it to ISO-8859-1
    * would destroy those chars). Negated class, not [\\u0100-\\uFFFF]:
    * a range capped at U+FFFF misses supplementary-plane code points,
    * and web text is full of them. */
  private val NonLatin1 = "[^\\u0000-\\u00FF]"

  /** CREATE the corruption (for fixtures/oracles): re-read the
    * string's UTF-8 bytes as ISO-8859-1. Total and lossless for any
    * input (Latin-1 decodes every byte), so `fixMojibake` inverts it
    * exactly. */
  def mojibake(text: Column): Column =
    decode(encode(text, "UTF-8"), "ISO-8859-1")

  /** One repair pass: IF the string bears the mojibake signature
    * (marker pair present, no char above U+00FF, and its Latin-1
    * bytes re-parse as valid UTF-8) re-decode those bytes as UTF-8;
    * otherwise pass through untouched. The validity gate runs BEFORE
    * the decode (CaseWhen evaluates only the taken branch), so the
    * strict UTF-8 decoder can never throw, and false positives are
    * bounded the same way ftfy bounds them: plain text that happens
    * to contain a real "Ã©" AND nothing outside Latin-1 AND parses as
    * UTF-8 end-to-end. All built-ins — codegen'd, map-only. */
  def fixMojibakeOnce(text: Column): Column = {
    val bytes = encode(text, "ISO-8859-1")
    when(text.rlike(MojibakeMarker) && !text.rlike(NonLatin1) &&
        is_valid_utf8(bytes),
      decode(bytes, "UTF-8")).otherwise(text)
  }

  /** Encoding repair, ftfy-shape: iterate [[fixMojibakeOnce]] to also
    * unwind DOUBLE-encoded text (corrupted twice reads back in two
    * passes); a pass over already-clean text is the identity, so
    * extra passes are harmless. */
  def fixMojibake(text: Column, passes: Int = 2): Column =
    (1 to passes).foldLeft(text)((acc, _) => fixMojibakeOnce(acc))
  // NOTE each pass references its input ~4x (two rlike, encode,
  // otherwise), so the expression tree grows 4^passes — fine at the
  // default 2 passes under codegen subexpression elimination; for
  // more passes bind each pass to a named column instead.
}
