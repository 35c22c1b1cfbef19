package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines — north-star extension
  * (SURVEY §7.2 step 7). The reference has no scalar-function catalog
  * at all (SURVEY §2.7); these are the operations an LLM-data pipeline
  * needs over a `documents`-shaped table. All columnar/codegen'd.
  */
object TextFunctions {

  import org.apache.spark.sql.{DataFrame => DF}

  /** Whitespace tokens (empty tokens dropped).
    *
    * CROSS-ENGINE CONTRACT (r14 advice): Java's `\s` matches U+000B
    * (vertical tab) — RE2's (DuckDB's) does NOT, the same char-class
    * divergence rakeDelimiterPattern dodges with an explicit class.
    * ~15 oracles replay this tokenizer with DuckDB `\s+`, which is
    * only sound because the test corpus contains no VT (asserted by
    * CorpusSpec's no-VT gate); a NEW oracle over text that may carry
    * VT must either pre-strip U+000B on both sides or use an explicit
    * shared class, not inherit this pairing. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * non-space symbols — a cheap, deterministic proxy for subword
    * tokenizers. */
  def tokenCountBpeish(text: Column): Column =
    size(call_function("regexp_extract_all", lower(text),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long")

  /** UTF-8-decoded-as-Latin-1/CP1252 artifact markers (ftfy's core
    * cases), written as explicit escapes so no tool in the chain can
    * re-mangle them: U+00C3/U+00C2 (lead bytes of misdecoded Latin-1
    * letters and NBSP), U+00E2+U+20AC (the misdecoded smart-quote/
    * dash family), U+00F0+U+009F (misdecoded emoji lead bytes F0 9F),
    * U+00EF+U+00B8 (misdecoded variation-selector lead bytes EF B8),
    * and U+FFFD itself (a decoder already gave up). Each is
    * literal-matched, no regex, so occurrence counts replay exactly
    * in any engine as `(len(t) - len(replace(t, m, ''))) / len(m)`.
    * These are prefix HEURISTICS: a bare U+00C3 also occurs in
    * legitimate text ("S\u00c3O" mojibake vs Portuguese), which is
    * why the signal is a fraction to gate on, not a proof. */
  val defaultMojibakeMarkers: Seq[String] =
    Seq("\u00c3", "\u00c2", "\u00e2\u20ac", "\u00f0\u009f",
      "\u00ef\u00b8", "\ufffd")

  /** Total mojibake-marker occurrences in `text` — the
    * encoding-damage signal web-scale curation pipelines gate on
    * (double-encoded CP1252/UTF-8 is the dominant corruption class in
    * crawl data; ftfy documents the marker set). Pure projection,
    * exact integer arithmetic. */
  def mojibakeHits(text: Column,
                   markers: Seq[String] = defaultMojibakeMarkers): Column = {
    require(markers.nonEmpty && markers.forall(_.nonEmpty),
      "markers must be non-empty strings")
    markers.map { m =>
      (length(text) - length(call_function("replace", text, lit(m)))) /
        lit(m.length)
    }.reduce(_ + _).cast("long")
  }

  /** [[mojibakeHits]] per character — 0.0 for empty text; an exact
    * IEEE quotient of two ints (cross-engine stable, the containment
    * convention). */
  def mojibakeFraction(text: Column,
                       markers: Seq[String] = defaultMojibakeMarkers): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(mojibakeHits(text, markers).cast("double") /
        length(text).cast("double"))

  /** Maximal `[aeiouy]+` group count of the lowercased text — the
    * classic syllable-count proxy (vowel groups never span
    * whitespace, so the whole-text count equals the per-word sum).
    * Exact integer; trivially engine-portable. */
  def syllableCountApprox(text: Column): Column =
    size(call_function("regexp_extract_all", lower(text),
      lit("[aeiouy]+"), lit(0))).cast("long")

  /** Sentence count proxy: maximal `[.!?]+` runs, floored at 1 (a
    * fragment with no terminal punctuation is one sentence — the
    * readability-formula convention). Exact integer. */
  def sentenceCountApprox(text: Column): Column =
    greatest(lit(1L), size(call_function("regexp_extract_all", text,
      lit("[.!?]+"), lit(0))).cast("long"))

  /** Flesch reading ease — the published-pipeline readability gate
    * (traditional quality filters drop both extremes):
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`
    * over the whitespace-token, [[sentenceCountApprox]] and
    * [[syllableCountApprox]] counts. Every operation is a correctly-
    * rounded IEEE op on exact integers in a FIXED order, so the score
    * is bit-identical in any engine — no rounding needed. Texts with
    * zero words score null (no content to rate). */
  def fleschReadingEase(text: Column): Column = {
    val w = size(tokens(text)).cast("double")
    val s = sentenceCountApprox(text).cast("double")
    val sy = syllableCountApprox(text).cast("double")
    when(w === 0.0, lit(null).cast("double"))
      .otherwise(lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (sy / w))
  }

  /** Flesch-Kincaid grade level — the companion scale:
    * `0.39·(words/sentences) + 11.8·(syllables/words) − 15.59`.
    * Same exactness argument as [[fleschReadingEase]]. */
  def fleschKincaidGrade(text: Column): Column = {
    val w = size(tokens(text)).cast("double")
    val s = sentenceCountApprox(text).cast("double")
    val sy = syllableCountApprox(text).cast("double")
    when(w === 0.0, lit(null).cast("double"))
      .otherwise(lit(0.39) * (w / s) + lit(11.8) * (sy / w) - lit(15.59))
  }

  // shared run-length entropy fold: H = ln(N) - (sum c*ln(c)) / N in
  // nats over the element distribution of a SORTED array — each ln
  // argument is an exact small integer, so the only cross-engine fp
  // wobble is summation order (collapsed by the caller's round(6), the
  // collocations recipe). One O(len log len) sort + O(len) fold per
  // row, zero-shuffle.
  private def runEntropy(arr: Column): Column = {
    val sorted = sort_array(arr)
    val n = size(sorted)
    val folded = aggregate(sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0.0).as("acc")),
      (st, x) => when(x === st.getField("prev"),
        struct(st.getField("prev").as("prev"),
          (st.getField("run") + 1L).as("run"), st.getField("acc").as("acc")))
        .otherwise(struct(x.as("prev"), lit(1L).as("run"),
          (st.getField("acc") + when(st.getField("run") > 0,
            st.getField("run") * log(st.getField("run"))).otherwise(0.0))
            .as("acc"))),
      st => st.getField("acc") + when(st.getField("run") > 0,
        st.getField("run") * log(st.getField("run"))).otherwise(0.0))
    val h = log(n.cast("double")) - folded / n.cast("double")
    // entropy is >= 0 mathematically, but the all-equal case computes
    // ln(n) - (n·ln(n))/n, which lands within an ulp of ±0.0 — clamp
    // so neither -0.0 nor -1e-16 reaches the output (a -0.0 would
    // hash-mismatch an oracle's +0.0); mirror the clamp in oracles
    when(n === 0 || h <= 0.0, lit(0.0)).otherwise(h)
  }

  /** Shannon entropy (nats) of the text's code-point distribution —
    * the gibberish/low-diversity signal (keyboard mash and repeated
    * filler score near 0; natural prose sits in a tight band).
    * Empty text → 0.0. Round to 6 before comparing across engines
    * (ln summation order). Rides the [[graft.plans.ShannonEntropy]]
    * one-pass kernel — bit-identical to the columnar run-length fold
    * (same sorted accumulation order; spec-asserted), which was
    * interpretation-bound at one lambda frame per character. */
  def charEntropy(text: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.ShannonEntropy(Bridge.expression(text),
      overTokens = false))
  }

  /** Shannon entropy (nats) of the whitespace-token distribution —
    * the repeated-phrase/template counterpart of [[charEntropy]]
    * (a page of one word repeated scores 0 at any length). */
  def tokenEntropy(text: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.ShannonEntropy(Bridge.expression(text),
      overTokens = true))
  }

  /** The pre-kernel columnar entropy forms — kept PRIVATE[graft] as
    * the differential-spec references for
    * [[graft.plans.ShannonEntropy]] (bit-equal assertions). */
  private[graft] def charEntropyColumnar(text: Column): Column =
    runEntropy(split(text, ""))
  private[graft] def tokenEntropyColumnar(text: Column): Column =
    runEntropy(tokens(text))

  /** Language ID by stopword voting: score each candidate language by
    * its stopword hits, pick the argmax (deterministic tie-break by
    * list order). N-gram-free heuristic; swap the word lists per
    * deployment. */
  /** Ordered (deterministic tie-break = earlier entry wins). */
  val defaultStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "ein", "nicht"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "las", "por"))

  def langId(toks: Column, stopwords: Seq[(String, Seq[String])] = defaultStopwords): Column = {
    // r16: one-pass LangVotes kernel — the columnar form ran one
    // interpreted filter() HOF per language over the token array
    // (bit-compat spec-asserted against langIdColumnar below). A null
    // token array yields a null index; the columnar fold returned the
    // FIRST language there (no candidate's null score ever strictly
    // beats the initial) — the coalesce mirrors it.
    import org.apache.spark.sql.graft.Bridge
    val idx = Bridge.column(graft.plans.LangVotes(
      Bridge.expression(toks), stopwords.map(_._2)))
    val langs = array(stopwords.map(p => lit(p._1)): _*)
    coalesce(element_at(langs, idx + lit(1)), lit(stopwords.head._1))
  }

  /** Pre-kernel columnar form — private differential reference for
    * [[graft.plans.LangVotes]] (equality assertions incl. ties, null
    * elements, null/empty arrays). */
  private[graft] def langIdColumnar(toks: Column,
      stopwords: Seq[(String, Seq[String])] = defaultStopwords): Column = {
    val scored = stopwords.map { case (lang, words) =>
      struct(size(filter(toks, t => t.isin(words: _*))).as("score"), lit(lang).as("lang"))
    }
    // left fold keeping the strictly-greater candidate: a language wins
    // iff its score strictly exceeds every earlier language's score.
    scored.reduceLeft((best, cand) =>
      when(cand.getField("score") > best.getField("score"), cand).otherwise(best))
      .getField("lang")
  }

  /** All char trigrams of the lowercased text, per occurrence (not
    * deduplicated — Naive Bayes counts occurrences). A text shorter
    * than 3 chars contributes its single short prefix (the
    * `greatest(…, 1)` guard — mirrored in the q_lang_id_ngram
    * oracle). Character-based (code points), engine-portable. */
  def charTrigrams(text: Column): Column =
    transform(sequence(lit(1), greatest(length(lower(text)) - 2, lit(1))),
      i => call_function("substring", lower(text), i, lit(3)))

  /** Fit char-trigram Naive Bayes language profiles from a seed corpus
    * (`lang`, `text`) — the upgrade tier over the [[langId]] stopword
    * heuristic (VERDICT-r7 item 7; fastText-style langid without the
    * model dependency). Add-one smoothing over the seed's shared
    * trigram vocabulary:
    *
    *   logp(l, t)  = ln((c_l(t) + 1) / (N_l + V))
    *   floor(l)    = ln(1 / (N_l + V))          (unseen trigram)
    *
    * Output: (lang, tri, logp, floor) — `floor` repeated per row so
    * one table carries the full model. The fit is two narrow count
    * aggregates over the SEED (tiny by construction: profile corpora
    * are curated samples, not the corpus being labeled). */
  def fitLangTrigramProfiles(seed: DF, lang: Column, text: Column): DF = {
    val tris = seed.select(lang.as("lang"), explode(charTrigrams(text)).as("tri"))
    val cnt = tris.groupBy("lang", "tri").agg(count(lit(1)).as("__c"))
    val nl = cnt.groupBy("lang").agg(sum(col("__c")).as("__n"))
    val v = tris.agg(count_distinct(col("tri")).as("__v"))
    cnt.join(nl, "lang").crossJoin(broadcast(v))
      .select(col("lang"), col("tri"),
        log((col("__c") + 1).cast("double") /
          (col("__n") + col("__v")).cast("double")).as("logp"),
        log(lit(1.0) / (col("__n") + col("__v")).cast("double")).as("floor"))
  }

  /** Label each document with the argmax-likelihood language under
    * [[fitLangTrigramProfiles]] profiles. The naive shape (every
    * trigram occurrence × every language, coalescing misses to the
    * floor) multiplies the corpus's trigram stream by #langs; here the
    * unseen mass is folded in arithmetically instead:
    *
    *   score(d,l) = Σ_seen cnt(d,t)·logp(l,t) + (n_d − n_seen(d,l))·floor(l)
    *
    * so the heavy work is the fused per-row
    * [[graft.plans.ShingleHashCounts]] kernel (one pass per doc, one
    * 12-byte struct per DISTINCT trigram) inner-joined to the profile
    * table on the 8-byte trigram hash (Zipf-small — AQE broadcasts
    * it); the language grid exists only at (doc, lang) granularity
    * (#docs × #langs rows, never trigram-level). Argmax = min of the
    * (-score, lang) struct — deterministic lang-ascending tiebreak.
    * Measured 5.1 → 1.2 s at sf0.1 vs the naive
    * occurrence-explode × langs form (tools/NewQueryProbe). Output:
    * (`id`, lang). */
  def langIdNgram(df: DF, id: String, text: Column, profiles: DF): DF =
    langScoreTable(df, id, text, profiles)
      .groupBy(col("__id"))
      .agg(min(struct((-col("__score")).as("s"), col("lang").as("l"))).as("__best"))
      .select(col("__id").as(id), col("__best.l").as("lang"))

  /** Per-(doc, lang) rounded trigram-NB scores + the doc trigram total
    * — the shared core of [[langIdNgram]] (argmax) and
    * [[langIdNgramScored]] (argmax + margin). */
  private def langScoreTable(df: DF, id: String, text: Column,
                             profiles: DF): DF = {
    import org.apache.spark.sql.graft.Bridge
    // fused kernel: (xxhash64, count) per distinct trigram in one pass
    // — no per-occurrence substring rows, hash-only join keys (the
    // composable explode form was O(len²) in character seeks and
    // shuffled trigram STRINGS; measured 5.1 -> 1.2 s at sf0.1)
    val triCnt = df
      .select(col(id).as("__id"), explode(Bridge.column(
        graft.plans.ShingleHashCounts(Bridge.expression(lower(text)), 3))).as("__e"))
      .select(col("__id"), col("__e.h").as("__th"),
        col("__e.c").cast("long").as("__cnt"))
    val docTotals = triCnt.groupBy("__id").agg(sum(col("__cnt")).as("__ntot"))
    val prof = profiles.select(col("lang"), xxhash64(col("tri")).as("__th"),
      col("logp"))
    val matched = triCnt.join(prof, "__th")
      .groupBy(col("__id"), col("lang"))
      .agg(sum(col("__cnt") * col("logp")).as("__sseen"),
        sum(col("__cnt")).as("__nseen"))
    val floors = profiles.groupBy("lang").agg(first(col("floor")).as("__floor"))
    // round-before-argmax (the tfidf/bm25 determinism recipe): the
    // refactored sum is not FP-identical to the oracle's
    // per-occurrence sum (3·logp ≠ logp+logp+logp in doubles, and
    // engines aggregate in different orders), and argmax is discrete —
    // rounding to 6 collapses near-ties to exact equality so the
    // lang-ascending tiebreak decides identically everywhere
    docTotals.crossJoin(broadcast(floors))
      .join(matched, Seq("__id", "lang"), "left")
      .select(col("__id"), col("lang"), col("__ntot"),
        round(coalesce(col("__sseen"), lit(0.0)) +
          (col("__ntot") - coalesce(col("__nseen"), lit(0L))) * col("__floor"), 6)
          .as("__score"))
  }

  /** [[langIdNgram]] plus a CONFIDENCE margin — the CCNet-style
    * language-confidence gate needs a number to threshold, not just
    * the argmax: `margin` = (best − runner-up rounded log-likelihood)
    * / doc trigram count, i.e. the per-trigram mean log-likelihood
    * ratio between the top two languages (0 = tie, higher = more
    * confident). Emitted UNROUNDED: the subtraction and division are
    * correctly-rounded ops on values both engines already agree on
    * bit-for-bit (the rounded scores), so a final round() would only
    * add the HALF_UP-vs-C boundary risk. Output: (`id`, lang,
    * margin). */
  def langIdNgramScored(df: DF, id: String, text: Column, profiles: DF): DF = {
    // a margin needs a runner-up; with one language element_at(_, 2)
    // would throw INVALID_ARRAY_INDEX under ANSI mid-job — fail fast
    // with a real message instead (the profile table is small by
    // contract, the count is cheap)
    require(profiles.select(col("lang")).distinct().count() >= 2,
      "langIdNgramScored needs >= 2 languages in the profile table " +
        "(no runner-up to measure a margin against); use langIdNgram")
    langScoreTable(df, id, text, profiles)
      .groupBy(col("__id"))
      .agg(array_sort(collect_list(
          struct((-col("__score")).as("s"), col("lang").as("l")))).as("__a"),
        first(col("__ntot")).as("__n"))
      .select(col("__id").as(id),
        element_at(col("__a"), 1).getField("l").as("lang"),
        ((element_at(col("__a"), 2).getField("s") -
          element_at(col("__a"), 1).getField("s")) /
          col("__n").cast("double")).as("margin"))
  }

  /** Heuristic quality score in [0,1]: penalizes very short docs, low
    * alphabetic ratio, and high repetition. Deterministic and
    * SQL-expressible for oracle checks. */
  def qualityScore(text: Column, toks: Column): Column = {
    val nTok = size(toks).cast("double")
    val lenScore = least(nTok / 32.0, lit(1.0))
    val alphaRatio = length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")
    val uniqRatio = size(array_distinct(toks)).cast("double") / greatest(nTok, lit(1.0))
    round(lenScore * 0.3 + alphaRatio * 0.3 + uniqRatio * 0.4, 6)
  }

  /** Rolling polynomial document fingerprint: fold (acc*31 + codepoint)
    * mod 1e9+7 over the characters. Small modulus keeps every
    * intermediate well inside 63 bits so the same fold is expressible
    * in engines with checked integer arithmetic. */
  def fingerprint(text: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    // one-pass kernel (r15): the columnar fold below seeks each code
    // point from the string start (substring is not random-access on
    // UTF-8) — O(len²) byte scans per document; bit-compat is
    // spec-asserted against [[fingerprintColumnar]]
    Bridge.column(graft.plans.Fingerprint(Bridge.expression(text)))
  }

  /** Pre-kernel columnar form — private differential reference for
    * [[graft.plans.Fingerprint]] (bit-equal assertions). */
  private[graft] def fingerprintColumnar(text: Column): Column =
    aggregate(
      transform(sequence(lit(1), greatest(length(text), lit(1))),
        i => call_function("ascii", call_function("substring", text, i, lit(1))).cast("long")),
      lit(0L),
      (acc, c) => (acc * 31L + c) % 1000000007L)

  /** Shared winnowing selector: per-position k-gram hashes, then the
    * minimum VALUE in each sliding window of `w` hashes, distinct and
    * sorted. Emitting values (not positions) makes the fingerprint set
    * independent of the window tie-break rule — the property that lets
    * the md5 twin oracle-check exactly; position-carrying variants add
    * the rightmost-min rule on top (unit-spec'd, not oracled).
    *
    * Rides the [[graft.plans.WinnowAnchors]] deque kernel (one O(len)
    * pass; value set = distinct anchor hashes — an anchor exists
    * exactly where a window's min site changes, so the hash-value sets
    * coincide). The original columnar form
    * (`transform(starts, s => array_min(slice(hashes, s, w)))`)
    * re-evaluated the ENTIRE per-gram hash array once per window start
    * — Catalyst inlines the `hashes` expression into the outer
    * lambda, the CLAUDE.md CollapseProject hazard — i.e. O(len²) gram
    * hashes per document; caught by the r13 census bench tier
    * (q_winnow 202 s → sub-second at sf0.01). Short docs keep the
    * columnar clamp semantics: 1 ≤ sites < w emits the single min
    * over all grams (slice truncation made that ONE window); the
    * kernel itself returns empty below w sites. */
  private def winnowSet(text: Column, k: Int, w: Int,
                        md5Tier: Boolean): Column = {
    import org.apache.spark.sql.graft.Bridge
    val nh = length(text) - (k - 1)  // number of k-grams
    def gramHash(g: Column): Column =
      if (md5Tier) conv(substring(md5(g), 1, 15), 16, 10).cast("long")
      else xxhash64(g)
    // one-window pass for w = 1 (every gram its own window) and the
    // short-doc clamp: a single O(len) transform, no sliding window
    def allGramHashes =
      transform(sequence(lit(1), greatest(nh, lit(1))),
        i => gramHash(text.substr(i, lit(k))))
    if (w == 1)
      when(nh >= 1, array_sort(array_distinct(allGramHashes)))
        .otherwise(array().cast("array<bigint>"))
    else {
      val anchors = Bridge.column(
        graft.plans.WinnowAnchors(Bridge.expression(text), k, w, md5Tier))
      when(nh >= w,
          array_sort(array_distinct(transform(anchors, a => a.getField("h")))))
        .when(nh >= 1, array(array_min(allGramHashes)))
        .otherwise(array().cast("array<bigint>"))
    }
  }

  /** Winnowing fingerprints (Schleimer et al. — the MOSS algorithm):
    * the minimum k-gram hash of every w-window, deduplicated. The
    * guarantee: any shared substring of length >= w + k - 1 between
    * two documents yields at least one shared fingerprint, while the
    * selected set is ~2/(w+1) of all grams — robust partial-overlap
    * detection (clone/plagiarism/quotation) at a fraction of the
    * full shingle set's size. xxhash64 grams — the fast in-engine
    * form; pair generation over these is
    * [[graft.functions.Dedup.winnowingSharedPairs]]. */
  def winnowingFingerprints(text: Column, k: Int = 5, w: Int = 4): Column = {
    require(k >= 1 && w >= 1, s"k $k and w $w must be >= 1")
    winnowSet(text, k, w, md5Tier = false)
  }

  /** Oracle twin of [[winnowingFingerprints]]: 60-bit md5-prefix gram
    * hashes (the [[graft.operators.Grouping.sampleByHash]] md5 trick),
    * so a DuckDB list comprehension reproduces the set exactly. Same
    * selection, different hash — use only where cross-engine
    * differential testing matters. */
  def winnowingFingerprintsByMd5(text: Column, k: Int = 5, w: Int = 4): Column = {
    require(k >= 1 && w >= 1, s"k $k and w $w must be >= 1")
    winnowSet(text, k, w, md5Tier = true)
  }

  /** Split a token array into fixed-size chunks with overlap — the
    * standard long-document segmentation for training pipelines.
    * Chunk i covers tokens [1 + i*step, 1 + i*step + size); the tail
    * chunk may be shorter; step = size - overlap.
    *
    * Behavior note (r15 kernel switch): negative `overlap` (step >
    * chunkSize, gapped chunking) now throws where the old columnar
    * form produced degenerate gapped output; no call site ever passed
    * one — use [[chunkTokensColumnar]]'s shape directly if gapped
    * chunking is ever wanted. */
  def chunkTokens(toks: Column, chunkSize: Int, overlap: Int = 0): Column = {
    require(overlap < chunkSize, "overlap must be < chunkSize")
    require(overlap >= 0, "overlap must be >= 0")
    val step = chunkSize - overlap
    // r15: strided TokenGrams kernel — the columnar HOF form
    // re-evaluated the captured computed `toks` once per chunk
    // (O(len²/step) bytes per doc; bit-compat spec-asserted against
    // chunkTokensColumnar)
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.TokenGrams(Bridge.expression(toks),
      chunkSize, step))
  }

  /** Pre-kernel columnar form — private differential reference for
    * the strided [[graft.plans.TokenGrams]] (bit-equal assertions). */
  private[graft] def chunkTokensColumnar(toks: Column, chunkSize: Int,
                                         overlap: Int = 0): Column = {
    require(overlap < chunkSize, "overlap must be < chunkSize")
    val step = chunkSize - overlap
    transform(
      sequence(lit(1), greatest(size(toks) - overlap, lit(1)), lit(step)),
      i => concat_ws(" ", slice(toks, i, lit(chunkSize))))
  }

  /** Count of code points belonging to the given Unicode script
    * (a Java regex script name: "Latin", "Cyrillic", "Han", "Arabic",
    * "Hangul", "Greek", …) — the mC4/CCNet-style script signal for
    * multilingual curation (script-vs-declared-language mismatch is a
    * standard mislabel filter). Pure codegen'd projection; Spark's
    * `length` counts code points, so supplementary-plane scripts
    * count correctly. */
  def scriptCount(text: Column, script: String): Column =
    length(regexp_replace(text, s"[^\\p{Is$script}]", "")).cast("long")

  /** Fraction of code points in the given script; 0.0 on empty text
    * (no division by zero). Exact IEEE division of two integer counts
    * — no rounding needed cross-engine. */
  def scriptFraction(text: Column, script: String): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(scriptCount(text, script).cast("double") /
        length(text).cast("double"))

  /** The first-listed script attaining the maximum code-point count —
    * "none" when no listed script occurs at all. Earlier scripts win
    * ties (strict-greater fold), so the caller's list order is the
    * priority order. */
  def dominantScript(text: Column,
                     scripts: Seq[String] = Seq("Latin", "Cyrillic",
                       "Greek", "Arabic", "Hangul", "Han")): Column = {
    require(scripts.nonEmpty, "dominantScript needs at least one script")
    val (best, _) = scripts.foldLeft((lit("none"), lit(0L))) {
      case ((bs, bc), s) =>
        val c = scriptCount(text, s)
        (when(c > bc, lit(s)).otherwise(bs),
         when(c > bc, c).otherwise(bc))
    }
    best
  }

  /** Repetition/format signals in the style of the published Gopher
    * data-quality rules (Rae et al. 2021, §A1.1): the per-document
    * statistics those filters threshold — mean word length, duplicate
    * line fraction, symbol-to-character ratio, fraction of tokens with
    * at least one alphabetic character. Returned as one struct so a
    * curation pass computes them in a single projection; every field
    * is independently SQL-expressible for differential testing.
    * Thresholding is the caller's policy (e.g. keep docs with
    * 3 ≤ mean_word_len ≤ 10, dup_line_frac ≤ 0.3, alpha_tok_frac ≥
    * 0.8). */
  def gopherSignals(text: Column, toks: Column): Column = {
    val nTok = greatest(size(toks), lit(1)).cast("double")
    val meanWordLen = round(
      aggregate(transform(toks, t => length(t).cast("double")), lit(0.0), _ + _) / nTok, 6)
    val lines = filter(split(text, "\n"), l => length(trim(l)) > 0)
    // no non-empty lines → nothing is duplicated (0.0), not "all
    // duplicated" — 1 - 0/1 would report the opposite of the data
    val dupLineFrac = when(size(lines) === 0, lit(0.0)).otherwise(
      round(lit(1.0) - size(array_distinct(lines)).cast("double") /
        size(lines).cast("double"), 6))
    // explicit whitespace class, NOT \s: Java \s includes vertical tab
    // \x0B where RE2/DuckDB \s does not — the explicit class keeps the
    // value identical across dialects (the struct is differential-tested)
    val symbolRatio = round(
      length(regexp_replace(text, "[A-Za-z0-9 \\t\\n\\f\\r]", "")).cast("double") /
        greatest(length(text), lit(1)).cast("double"), 6)
    val alphaTokFrac = round(
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") / nTok, 6)
    // remaining published Gopher format rules: bullet-started and
    // ellipsis-ended line fractions ("≥90% of lines not bullets,
    // ≤30% not ellipses"), and raw word/char counts for the min/max
    // document-length gates — thresholds stay caller policy.
    // ltrim/rtrim strip spaces only in BOTH dialects (parity); the
    // bullet/ellipsis classes include the unicode forms.
    val bulletLineFrac = when(size(lines) === 0, lit(0.0)).otherwise(
      round(size(filter(lines, l => ltrim(l).rlike("^[-*•]"))).cast("double") /
        size(lines).cast("double"), 6))
    val ellipsisLineFrac = when(size(lines) === 0, lit(0.0)).otherwise(
      round(size(filter(lines, l => rtrim(l).rlike("(\\.\\.\\.|…)$"))).cast("double") /
        size(lines).cast("double"), 6))
    // duplicate-unit CHARACTER fractions (Gopher A1.1's char-weighted
    // repetition tier): chars carried by occurrences beyond a unit's
    // first = 1 - distinct-unit chars / total unit chars. Paragraph
    // unit = blank-line-separated ("\n\n" split, trim-nonempty —
    // single-\n corpora report paragraphs == document).
    def unitChars(u: Column) =
      aggregate(transform(u, x => length(x).cast("double")), lit(0.0), _ + _)
    def dupCharFrac(u: Column) = when(size(u) === 0, lit(0.0)).otherwise(
      round(lit(1.0) - unitChars(array_distinct(u)) /
        greatest(unitChars(u), lit(1.0)), 6))
    val paras = filter(split(text, "\n\n"), p => length(trim(p)) > 0)
    val dupParaFrac = when(size(paras) === 0, lit(0.0)).otherwise(
      round(lit(1.0) - size(array_distinct(paras)).cast("double") /
        size(paras).cast("double"), 6))
    struct(meanWordLen.as("mean_word_len"), dupLineFrac.as("dup_line_frac"),
      symbolRatio.as("symbol_ratio"), alphaTokFrac.as("alpha_tok_frac"),
      bulletLineFrac.as("bullet_line_frac"), ellipsisLineFrac.as("ellipsis_line_frac"),
      dupParaFrac.as("dup_para_frac"),
      dupCharFrac(lines).as("dup_line_char_frac"),
      dupCharFrac(paras).as("dup_para_char_frac"),
      size(toks).cast("long").as("n_words"), length(text).cast("long").as("n_chars"))
  }

  /** Default whole-token keyword list for [[codeSignals]] — the
    * high-precision intersection of C-family / Python / JS / JVM
    * keywords that almost never appear as English prose tokens. */
  val codeKeywords: Seq[String] = Seq(
    "def", "return", "import", "class", "void", "int", "var", "val",
    "let", "const", "function", "public", "private", "static", "elif",
    "lambda", "struct", "enum", "typedef", "println")

  /** Code-vs-prose signals — the standard pre-filter when assembling
    * code vs natural-language training mixes (a brace-dense,
    * semicolon-terminated, keyword-bearing document is code long
    * before a classifier needs to run). Four densities, each an EXACT
    * IEEE quotient of two integer counts (like [[scriptFraction]] —
    * no rounding needed cross-engine), zero-shuffle, one projection:
    *
    *  - brace_frac: {}()[] code points / all code points
    *  - semi_line_frac: non-blank lines ending ';' after stripping
    *    trailing spaces AND line terminators (CR, NEL U+0085, LS
    *    U+2028, PS U+2029 -- lines split on \n can legitimately end
    *    in \r on CRLF text, and Java's non-MULTILINE `$` matches
    *    BEFORE a final line terminator while RE2's matches only
    *    end-of-string; stripping first keeps the two dialects exact)
    *  - indent_line_frac: non-blank lines starting with ≥2 spaces or
    *    a tab (the indent-run signature of formatted code)
    *  - keyword_tok_frac: whole tokens in `keywords`
    *
    * Empty text / no lines / no tokens → 0.0 (no division by zero).
    * Thresholding is caller policy (e.g. code if brace_frac > 0.01 ∧
    * keyword_tok_frac > 0.02, or as features to a trained gate).
    * rtrim/regex classes are dialect-parity-safe: rtrim strips spaces
    * only in both Spark and DuckDB, and the indent class is explicit
    * (no `\s` — Java's includes \x0B where RE2's does not). */
  def codeSignals(text: Column,
                  keywords: Seq[String] = codeKeywords): Column = {
    require(keywords.nonEmpty, "codeSignals needs at least one keyword")
    val n = length(text)
    val braceFrac = when(n === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "[^{}()\\[\\]]", "")).cast("double") /
        n.cast("double"))
    val lines = filter(split(text, "\n"), l => length(trim(l)) > 0)
    val nl = size(lines)
    val semiLineFrac = when(nl === 0, lit(0.0))
      .otherwise(size(filter(lines, l =>
        regexp_replace(l, "[ \\r\\x{0085}\\x{2028}\\x{2029}]+$", "")
          .endsWith(";"))).cast("double") /
        nl.cast("double"))
    val indentLineFrac = when(nl === 0, lit(0.0))
      .otherwise(size(filter(lines, l => l.rlike("^(  |\\t)"))).cast("double") /
        nl.cast("double"))
    val toks = tokens(text)
    val nt = size(toks)
    val kwFrac = when(nt === 0, lit(0.0))
      .otherwise(size(filter(toks, t => t.isin(keywords.map(k => k: Any): _*)))
        .cast("double") / nt.cast("double"))
    struct(braceFrac.as("brace_frac"), semiLineFrac.as("semi_line_frac"),
      indentLineFrac.as("indent_line_frac"), kwFrac.as("keyword_tok_frac"))
  }

  /** The 8 "required stopwords" of the Gopher quality rule: a document
    * must contain at least `minRequiredStopwords` of these (Rae et
    * al. 2021, A1.1). */
  val gopherRequiredStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** One-call Gopher document-quality gate (Rae et al. 2021, A1.1) —
    * the published per-document format rules as a flag struct over
    * [[gopherSignals]]: word count in [`minWords`, `maxWords`], mean
    * word length in [3, 10], symbol ratio ≤ 0.1 (the per-char
    * adaptation of the hash/ellipsis symbol-to-word rule — documented
    * deviation), ≤ 90% bullet-started and ≤ 30% ellipsis-ended lines,
    * ≥ 80% of words with an alphabetic character, ≥ 2 of the 8
    * [[gopherRequiredStopwords]], and duplicate-line fraction ≤ 0.30
    * (the line-level repetition rule; the n-gram repetition rules are
    * the separate aggregation-shaped [[topNgramFraction]] — compose
    * downstream, they need a shuffle this per-row expression must not
    * hide). Flags compare the ROUNDED signal fields, so the gate is
    * cross-engine exact wherever the signals are. Returns a struct of
    * per-rule booleans plus `pass` (their conjunction) — keep the
    * flags for curation audits ("what did each rule cost?"), filter
    * with [[gopherQualityFilter]]. */
  def gopherFlags(text: Column, toks: Column,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  maxBulletLineFrac: Double = 0.9,
                  maxEllipsisLineFrac: Double = 0.3,
                  minAlphaTokFrac: Double = 0.8,
                  minRequiredStopwords: Int = 2,
                  maxDupLineFrac: Double = 0.3): Column = {
    val s = gopherSignals(text, toks)
    val nStop = size(array_intersect(
      array_distinct(transform(toks, t => lower(t))),
      array(gopherRequiredStopwords.map(lit).toIndexedSeq: _*)))
    val wordsOk = s.getField("n_words").between(minWords, maxWords)
    val wordLenOk = s.getField("mean_word_len")
      .between(minMeanWordLen, maxMeanWordLen)
    val symbolOk = s.getField("symbol_ratio") <= maxSymbolRatio
    val bulletOk = s.getField("bullet_line_frac") <= maxBulletLineFrac
    val ellipsisOk = s.getField("ellipsis_line_frac") <= maxEllipsisLineFrac
    val alphaOk = s.getField("alpha_tok_frac") >= minAlphaTokFrac
    val stopwordOk = nStop >= minRequiredStopwords
    val dupLineOk = s.getField("dup_line_frac") <= maxDupLineFrac
    struct(wordsOk.as("words_ok"), wordLenOk.as("word_len_ok"),
      symbolOk.as("symbol_ok"), bulletOk.as("bullet_ok"),
      ellipsisOk.as("ellipsis_ok"), alphaOk.as("alpha_ok"),
      stopwordOk.as("stopword_ok"), dupLineOk.as("dup_line_ok"),
      (wordsOk && wordLenOk && symbolOk && bulletOk && ellipsisOk &&
        alphaOk && stopwordOk && dupLineOk).as("pass"))
  }

  /** Keep only documents passing every [[gopherFlags]] rule at the
    * published default thresholds — the one-call Gopher gate. For
    * custom thresholds or rule audits, filter on [[gopherFlags]]
    * directly. Pure per-row projection + filter: no shuffle. */
  def gopherQualityFilter(df: DF, text: Column): DF =
    df.where(gopherFlags(text, tokens(text)).getField("pass"))

  /** The remaining Gopher repetition rule: the fraction of a document's
    * word n-grams taken by its single most frequent n-gram (high →
    * boilerplate/spam). DataFrame-shaped (explode + two aggregations on
    * (id, gram) keys) rather than a per-row expression, because the
    * per-doc gram frequency map can exceed row memory on pathological
    * docs — as an aggregation, partial (map-side) combine and spilling
    * handle that for free. N-grams here are NOT deduplicated (unlike
    * `Dedup.tokenShingles`) — frequency is the point. Output:
    * (doc_id, top_ngram_frac); a doc shorter than n tokens is one
    * (short) gram → fraction 1.0. */
  /** Per-position (NON-dedup) word n-grams of a token array — rides
    * the [[graft.plans.TokenGrams]] kernel. The columnar HOF form
    * ([[positionalGramsColumnar]], kept as the differential-spec
    * reference) re-evaluates the captured `toks` EXPRESSION once per
    * gram position when the caller passes a computed column
    * (`tokens(text)` at every current call site) — interpreted HOFs
    * re-tokenize the document per element, O(len²) bytes per doc (the
    * r13 winnowSet / TokenShingles mechanism; q_top_ngram and
    * q_top_ngrams each measured ~10 s at sf0.1 on exactly this).
    * Bit-compat is spec-asserted (TokenGramsSpec, array equality). */
  private def positionalGrams(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.TokenGrams(Bridge.expression(toks), n))
  }

  /** Pre-kernel HOF form — private differential reference for
    * [[graft.plans.TokenGrams]] (bit-equal assertions). */
  private[graft] def positionalGramsColumnar(toks: Column, n: Int): Column =
    transform(sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n))))

  def topNgramFraction(df: org.apache.spark.sql.DataFrame, id: Column, toks: Column,
                       n: Int): org.apache.spark.sql.DataFrame = {
    val grams = df.select(id.as("doc_id"),
      explode(positionalGrams(toks, n)).as("__g"))
    grams.groupBy("doc_id", "__g").agg(count(lit(1)).as("__c"))
      .groupBy("doc_id")
      .agg(round(max(col("__c")).cast("double") / sum(col("__c")), 6)
        .as("top_ngram_frac"))
  }

  /** Corpus-wide top-k word-n-gram heavy hitters (exact): the audit
    * that surfaces boilerplate candidates BEFORE choosing strip
    * thresholds for [[graft.functions.Dedup.stripRepeatedLines]] /
    * `stripRepeatedBlocks`. N-grams are per-position (not deduplicated
    * within a doc — frequency is the point; a doc shorter than n
    * tokens contributes its single short gram, matching
    * [[topNgramFraction]]). One aggregation on the gram string with
    * map-side partial combine — a viral gram collapses to one row per
    * map partition before the exchange, so heavy hitters are exactly
    * the rows that shuffle LEAST; the top-k sort runs on the already
    * aggregated (gram, count) set. Deterministic: count desc, gram asc.
    * Output: (ngram, cnt). */
  def topNgramsCorpus(df: org.apache.spark.sql.DataFrame, text: Column,
                      n: Int, k: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 1 && k >= 1, s"n $n and k $k must be >= 1")
    val toks = tokens(text)
    // zero-token docs are dropped BEFORE the generator: greatest(…, 1)
    // would force one sequence element whose slice of the empty token
    // array concat_ws's to "" — a meaningless gram in heavy-hitter output
    df.where(size(toks) >= 1)
      .select(explode(positionalGrams(toks, n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(k)
  }

  /** PII redaction: emails then phone-number-shaped digit runs replaced
    * with placeholder tags — the standard scrub pass before a corpus
    * ships to training. The patterns are deliberately conservative and
    * dialect-portable (plain character classes and greedy counted
    * repetition behave identically in Java regex and RE2) so the pass
    * is differential-testable; swap in deployment-grade patterns per
    * corpus. */
  def redactPii(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"
    regexp_replace(regexp_replace(text, email, "<EMAIL>"), phone, "<PHONE>")
  }

  /** N-gram diversity audit: per group, total word n-gram occurrences,
    * distinct n-grams, and their ratio — the corpus-diversity number
    * (low ratio = templated/repetitive feed; the distinct-n-gram
    * fraction underlying self-BLEU-style diversity reports). One
    * explode + a (keys) aggregate with `count_distinct` (map-side
    * partial aggregation; the distinct runs as the standard two-phase
    * expand — no driver materialization). N-grams are per-occurrence
    * (frequency is the point), built map-side by the same slice walk
    * as [[topNgramFraction]]; docs shorter than `n` tokens contribute
    * their single short gram. Distinct-counting `xxhash64(gram)`
    * instead of the gram string (narrower expand shuffle) was probed
    * and REJECTED — measured neutral at sf0.1 (3.14 vs 3.20 s mins,
    * sign flips across runs; `tools/DiversityProbe`,
    * bench/diversityprobe_r9.txt): count_distinct's partial
    * aggregation already dedups map-side before the shuffle, so the
    * narrower key saves nothing and would add a collision caveat.
    * Output: (keys..., n_grams, n_distinct, diversity rounded 6). */
  def ngramDiversity(df: DF, keys: Seq[String], toks: Column,
                     n: Int): DF = {
    require(n >= 1, s"n $n must be >= 1")
    val grams = df.select(keys.map(col) :+
        explode(positionalGrams(toks, n)).as("__g"): _*)
    grams.groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("n_grams"),
        countDistinct(col("__g")).as("n_distinct"))
      .withColumn("diversity",
        round(col("n_distinct").cast("double") / col("n_grams"), 6))
  }

  /** Deflate compression ratio of the text's UTF-8 bytes — the cheap
    * whole-document repetitiveness signal published pipelines ship
    * alongside the Gopher battery (Dolma / RedPajama-v2 attributes):
    * templated or boilerplate text compresses far below prose; filter
    * on a low-ratio cutoff or keep the value as a feature. Codegen'd
    * kernel ([[graft.plans.CompressionRatio]], SQL
    * `compression_ratio`); deterministic within a zlib build (fixed
    * level, raw deflate — NOT pinned across JDK/zlib versions, see
    * the expression Scaladoc), spec-only by declared design — no
    * oracle engine exposes deflate. */
  def compressionRatio(text: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.CompressionRatio(Bridge.expression(text)))
  }

  /** Gopher A1.1 duplicate n-gram CHARACTER fraction — the last tier
    * of the published repetition battery (dup lines/paragraphs and
    * their char fractions live in [[gopherSignals]]; the top-n-gram
    * fraction is [[topNgramFraction]]): per document, the fraction of
    * token characters covered by ANY occurrence of a WITHIN-DOC
    * duplicated token n-gram (overlapping coverage counted once —
    * true position coverage, not the occurrence-weighted
    * approximation). Aggregation-shaped by necessity (per-gram counts
    * need a shuffle a per-row expression must not hide): grams
    * explode to narrow (doc, gram, start) rows, duplicate grams keep
    * their occurrence starts (one (doc, gram) aggregate), starts
    * expand to covered token positions, dedup, and join back the
    * per-position token lengths. Denominator = total token chars
    * (separators excluded, documented). Docs with fewer than `n`
    * tokens (no grams) report 0.0; no row is dropped. Output:
    * (`id`, dup_ngram_char_frac rounded 6). */
  def dupNgramCharFraction(df: DF, id: String, toks: Column, n: Int): DF = {
    require(n >= 1, s"n $n must be >= 1")
    val base = df.select(col(id), toks.as("__ts"))
    val tokInfo = base
      .select(col(id), posexplode(col("__ts")).as(Seq("__p", "__t")))
      .select(col(id), col("__p"), length(col("__t")).cast("long").as("__len"))
    val totals = tokInfo.groupBy(col(id)).agg(sum(col("__len")).as("__total"))
    // grams are keyed by the sliced token ARRAY itself, not a
    // separator-joined string: the API accepts an arbitrary toks
    // column, and tokens containing the separator would alias
    // distinct gram tuples under a string key (the hashRankBy
    // key-aliasing class); array grouping keys need no escaping
    val grams = base.where(size(col("__ts")) >= n)
      .select(col(id), posexplode(transform(
          sequence(lit(1), size(col("__ts")) - (n - 1)),
          i => slice(col("__ts"), i, lit(n))))
        .as(Seq("__i", "__g")))
    val covered = grams.groupBy(col(id), col("__g"))
      .agg(count(lit(1)).as("__c"), collect_list(col("__i")).as("__is"))
      .where(col("__c") >= 2)
      .select(col(id), explode(col("__is")).as("__s"))
      .select(col(id), explode(sequence(col("__s"), col("__s") + (n - 1))).as("__p"))
      .distinct()
    val coveredChars = covered.join(tokInfo, Seq(id, "__p"))
      .groupBy(col(id)).agg(sum(col("__len")).as("__cov"))
    base.select(col(id))
      .join(totals, Seq(id), "left")
      .join(coveredChars, Seq(id), "left")
      .select(col(id),
        round(coalesce(col("__cov"), lit(0L)).cast("double") /
          greatest(coalesce(col("__total"), lit(0L)), lit(1L)).cast("double"), 6)
          .as("dup_ngram_char_frac"))
  }

  /** PII detection counts — the audit companion to [[redactPii]]:
    * per-doc email/phone match counts with the SAME regexes the scrub
    * replaces, so `n_emails + n_phones == 0` after a scrub pass is an
    * invariant (spec-asserted). Counts, not booleans, because curation
    * audits track PII density ("how much did the scrub touch?"), and
    * phone counting runs on the email-scrubbed text exactly as the
    * scrub's second pass does (digit runs inside an email must not
    * double-count as a phone). Pure projection. */
  def piiStats(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"
    val afterEmail = regexp_replace(text, email, "<EMAIL>")
    struct(
      size(call_function("regexp_extract_all", text, lit(email), lit(0)))
        .cast("long").as("n_emails"),
      size(call_function("regexp_extract_all", afterEmail, lit(phone), lit(0)))
        .cast("long").as("n_phones"))
  }

  /** Corpus-statistical quality score — the CCNet recipe's shape with
    * a unigram proxy for the language model: score each document by
    * the mean natural-log probability of its tokens under the
    * corpus's OWN unigram distribution (higher = more typical text;
    * rare-garbage-heavy documents score low). CCNet buckets documents
    * by KenLM perplexity; no LM ships in a Spark job's classpath, so
    * the unigram estimate is the honest distributable stand-in — the
    * pipeline shape (corpus-wide model fit, then per-doc scoring) is
    * identical, and a real LM drops in by replacing the frequency
    * table with externally-trained scores.
    *
    * Scale shape: tokens explode map-side; the frequency fit is ONE
    * narrow (token, count) aggregate with map-side partials; scoring
    * re-joins tokens to the fitted table on the token key (Zipf keeps
    * the vocabulary tiny relative to the corpus — AQE broadcasts it
    * when it fits; not forced, so a pathological vocabulary still
    * shuffle-joins safely) and partial-aggregates the per-doc mean.
    * The corpus total rides a broadcast 1-row scalar. Rounded to 6
    * per the cross-dialect double convention (SparkEntry Scaladoc).
    * Output: (`id`, uni_logprob). */
  def unigramLogProbScore(df: DF, id: String, text: Column): DF = {
    val toks = df.select(col(id).as("__id"), explode(tokens(text)).as("__t"))
    val freq = toks.groupBy("__t").agg(count(lit(1)).as("__c"))
    val total = freq.agg(sum(col("__c")).as("__n"))
    toks.join(freq, "__t")
      .crossJoin(broadcast(total))
      .groupBy(col("__id"))
      .agg(avg(log(col("__c").cast("double"))).as("__a"),
        first(col("__n")).as("__n"))
      .select(col("__id").as(id),
        round(col("__a") - log(col("__n").cast("double")), 6).as("uni_logprob"))
  }

  /** Interpolated-bigram LM quality score — one step closer to the
    * CCNet perplexity recipe than [[unigramLogProbScore]]: score each
    * document by the mean natural-log probability of its tokens under
    * a Jelinek-Mercer-interpolated bigram model fit on the corpus's
    * OWN text:
    *
    *   P(t_i | t_{i-1}) = λ · c(t_{i-1}, t_i)/c(t_{i-1})
    *                    + (1-λ) · c(t_i)/N
    *
    * (first token of a doc has no context → pure unigram). The bigram
    * maximum-likelihood term backs off through the unigram term, so an
    * unseen bigram never yields ln 0. Context counts use the token's
    * corpus frequency (the standard simplification; a doc-final token
    * also counts as a context).
    *
    * Scale shape mirrors the unigram form: (prev, cur) pairs are built
    * MAP-SIDE (the shifted-array zip — no per-doc window shuffle), the
    * bigram fit is one (prev, tok) count aggregate with map-side
    * partials, and scoring joins tokens back to the two fitted tables
    * (Zipf-small; AQE broadcasts when they fit) before one per-doc
    * partial-aggregated mean. Corpus total rides a broadcast 1-row
    * scalar. Output: (`id`, bi_logprob rounded to 6). */
  def bigramLogProbScore(df: DF, id: String, text: Column,
                         lambda: Double = 0.5): DF = {
    require(lambda >= 0 && lambda <= 1, s"lambda $lambda outside [0,1]")
    val toks = tokens(text)
    // shifted zip: prev(pos 0) = null, prev(pos i) = toks[i-1]; built
    // inline so the explode stays a single map-side generator
    val shifted = concat(array(lit(null).cast("string")),
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))))
    val pairs = df
      .where(size(toks) >= 1)
      .select(col(id).as("__id"),
        explode(arrays_zip(shifted.as("p"), toks.as("t"))).as("__pt"))
      .select(col("__id"), col("__pt.p").as("__p"), col("__pt.t").as("__t"))
    val uni = pairs.groupBy("__t").agg(count(lit(1)).as("__c"))
    val total = uni.agg(sum(col("__c")).as("__n"))
    val bi = pairs.where(col("__p").isNotNull)
      .groupBy("__p", "__t").agg(count(lit(1)).as("__c2"))
    val ctx = uni.select(col("__t").as("__p"), col("__c").as("__cp"))
    val punct = col("__c").cast("double") / col("__n").cast("double")
    val pbi = col("__c2").cast("double") / col("__cp").cast("double")
    val p = when(col("__p").isNull, punct)
      .otherwise(lit(lambda) * coalesce(pbi, lit(0.0)) + lit(1 - lambda) * punct)
    pairs
      .join(uni, "__t")
      .join(bi, Seq("__p", "__t"), "left")
      .join(ctx, Seq("__p"), "left")
      .crossJoin(broadcast(total))
      .groupBy(col("__id"))
      .agg(round(avg(log(p)), 6).as("bi_logprob"))
      .select(col("__id").as(id), col("bi_logprob"))
  }

  /** Interpolated Kneser-Ney bigram LM quality score — the smoothing
    * family KenLM (and therefore CCNet's published scorer) actually
    * uses, completing the unigram → Jelinek-Mercer → KN ladder
    * ([[unigramLogProbScore]], [[bigramLogProbScore]]): absolute
    * discounting with CONTINUATION-count backoff,
    *
    *   P(t|p)  = (c(p,t) − D)⁺/c(p,·) + D·N1+(p,·)/c(p,·) · P1(t)
    *   P1(t)   = (N1+(·,t) − D)⁺/N1+(·,·) + D·N1+(·,·distinct t)/N1+(·,·) · 1/V
    *
    * where N1+ are distinct-continuation counts and the unigram level
    * interpolates down to uniform over the V distinct tokens, so no
    * in-corpus event ever scores ln 0 (a token appearing ONLY at
    * document starts has zero continuation count — the uniform floor
    * covers it). First token of a doc has no context → P1. Context
    * totals are bigram-event sums (the proper KN denominator), not
    * token frequencies. Degenerate corpora with zero bigrams anywhere
    * score uniformly (1/V).
    *
    * Scale shape is [[bigramLogProbScore]]'s: map-side shifted-zip
    * pair generation, ONE (prev, tok) count aggregate from which
    * every KN statistic derives (context totals, fertilities,
    * continuation counts — three narrow Zipf-small aggregates of the
    * bigram table, never a second corpus pass), scoring re-joins on
    * token keys (AQE broadcasts when they fit) + one per-doc
    * partial-aggregated mean; the two scalar totals ride a broadcast
    * 1-row cross join. Output: (`id`, kn_logprob rounded to 6). */
  def kneserNeyLogProbScore(df: DF, id: String, text: Column,
                            discount: Double = 0.75): DF = {
    require(discount > 0 && discount < 1, s"discount $discount outside (0,1)")
    val toks = tokens(text)
    val shifted = concat(array(lit(null).cast("string")),
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))))
    val pairs = df
      .where(size(toks) >= 1)
      .select(col(id).as("__id"),
        explode(arrays_zip(shifted.as("p"), toks.as("t"))).as("__pt"))
      .select(col("__id"), col("__pt.p").as("__p"), col("__pt.t").as("__t"))
    // r16 probe: materializing this gram table was measured and
    // REJECTED — the initial plan shows 12 parquet scans, but AQE
    // stage reuse already dedups the identical gram exchanges at
    // runtime, so the checkpoint write only ADDED 0.3-0.4 s
    // (bench/abprobe_textlang_r16.txt; same result for the trigram/4-gram
    // siblings at 16/20 initial-plan scans).
    val bi = pairs.where(col("__p").isNotNull)
      .groupBy("__p", "__t").agg(count(lit(1)).as("__c2"))
    val ctx = bi.groupBy("__p")
      .agg(sum(col("__c2")).as("__cp"), count(lit(1)).as("__fert"))
    val cont = bi.groupBy("__t").agg(count(lit(1)).as("__cont"))
    val scalars = bi
      .agg(count(lit(1)).as("__nbt"), count_distinct(col("__t")).as("__V2"))
      .crossJoin(pairs.agg(count_distinct(col("__t")).as("__V")))
    val d = lit(discount)
    // expression shapes (operation order, cast points) mirror the
    // DuckDB oracle EXACTLY — cross-dialect double determinism
    val p1 = when(col("__nbt") === 0, lit(1.0) / col("__V").cast("double"))
      .otherwise(
        greatest(coalesce(col("__cont"), lit(0L)).cast("double") - d, lit(0.0)) /
          col("__nbt").cast("double") +
          d * col("__V2").cast("double") / col("__nbt").cast("double") /
            col("__V").cast("double"))
    val pbi = greatest(col("__c2").cast("double") - d, lit(0.0)) /
      col("__cp").cast("double") +
      d * col("__fert").cast("double") / col("__cp").cast("double") * p1
    val p = when(col("__p").isNull, p1).otherwise(pbi)
    pairs
      .join(cont, Seq("__t"), "left")
      .join(bi, Seq("__p", "__t"), "left")
      .join(ctx, Seq("__p"), "left")
      .crossJoin(broadcast(scalars))
      .groupBy(col("__id"))
      .agg(round(avg(log(p)), 6).as("kn_logprob"))
      .select(col("__id").as(id), col("kn_logprob"))
  }

  /** Interpolated TRIGRAM Kneser-Ney LM quality score — the order
    * production KenLM filtering actually runs at (4-5-gram models
    * prune toward this shape; the bigram form
    * [[kneserNeyLogProbScore]] is the pedagogical rung below). Every
    * statistic derives from ONE (w₂, w₁, w) trigram count table, the
    * Chen & Goodman convention that lower-order distributions are
    * CONTINUATION distributions of the order above:
    *
    *   P(w|u,v) = (c(uvw) − D)⁺/c(uv·) + D·N1+(uv·)/c(uv·) · P(w|v)
    *   P(w|v)   = (N1+(·vw) − D)⁺/N1+(·v·) + D·N1+(v·)/N1+(·v·) · P1(w)
    *   P1(w)    = (N1+(··w) − D)⁺/N1+(··) + D·V₂/N1+(··) · 1/V
    *
    * where N1+(·vw) counts distinct u's preceding (v,w) in the
    * trigram table, N1+(··w) counts distinct v's over those
    * continuation types, N1+(··) is the total continuation-type
    * count, V₂ the distinct w's among them, and V the corpus
    * vocabulary. Each Σ_w telescopes to 1 per context class
    * (spec-asserted), so no in-corpus event scores ln 0: a doc's
    * first token scores P1, its second P(w|v), the rest the full
    * trigram equation; a (v,w) never inside any trigram backs off
    * through the discount mass, and a corpus with no trigrams at all
    * degenerates to uniform 1/V by declared design (real corpora
    * with ≥3-token docs never hit it).
    *
    * Scale shape is [[kneserNeyLogProbScore]]'s: map-side
    * double-shifted-zip event generation (no per-doc window shuffle),
    * ONE (u, v, w) count aggregate from which four narrow Zipf-small
    * aggregates derive every KN statistic (never a second corpus
    * pass), scoring re-joins on token keys (AQE broadcasts when they
    * fit) + one per-doc partial-aggregated mean; the scalar totals
    * ride a broadcast 1-row cross join. Expression shapes (operation
    * order, cast points) mirror the DuckDB oracle EXACTLY. Output:
    * (`id`, kn3_logprob rounded to 6). */
  def kneserNey3LogProbScore(df: DF, id: String, text: Column,
                             discount: Double = 0.75): DF = {
    require(discount > 0 && discount < 1, s"discount $discount outside (0,1)")
    val toks = tokens(text)
    // prepend-then-truncate (NOT pad-then-concat): a 1-token doc's
    // 2-shifted array must still have length n, or arrays_zip pads
    // the zip with a phantom all-null event
    val shift1 = slice(concat(array(lit(null).cast("string")), toks),
      lit(1), size(toks))
    val shift2 = slice(concat(
      array(lit(null).cast("string"), lit(null).cast("string")), toks),
      lit(1), size(toks))
    val events = df
      .where(size(toks) >= 1)
      .select(col(id).as("__id"),
        explode(arrays_zip(shift2.as("u"), shift1.as("v"), toks.as("t"))).as("__e"))
      .select(col("__id"), col("__e.u").as("__u"), col("__e.v").as("__v"),
        col("__e.t").as("__t"))
    // r16: gram-table materialization probed and REJECTED — AQE stage
    // reuse already dedups the repeated gram exchanges at runtime
    // (bench/abprobe_textlang_r16.txt; the initial-plan scan count is an
    // artifact, not real recompute)
    val tri = events.where(col("__u").isNotNull)
      .groupBy("__u", "__v", "__t").agg(count(lit(1)).as("__c3"))
    val ctx3 = tri.groupBy("__u", "__v")
      .agg(sum(col("__c3")).as("__c3p"), count(lit(1)).as("__f3"))
    val contBi = tri.groupBy("__v", "__t").agg(count(lit(1)).as("__cb"))
    val ctx2 = contBi.groupBy("__v")
      .agg(sum(col("__cb")).as("__cbp"), count(lit(1)).as("__f2"))
    val contUni = contBi.groupBy("__t").agg(count(lit(1)).as("__cu"))
    // NB the vocab scalar must NOT be named "__V": Spark resolves
    // column names case-INSENSITIVELY, so "__V" and the context
    // column "__v" become two-way ambiguous (found the hard way —
    // the bigram sibling has no "__v" column so its "__V" is safe)
    val scalars = contBi
      .agg(count(lit(1)).as("__nct"), count_distinct(col("__t")).as("__nv2"))
      .crossJoin(events.agg(count_distinct(col("__t")).as("__nvoc")))
    val d = lit(discount)
    val p1 = when(col("__nct") === 0, lit(1.0) / col("__nvoc").cast("double"))
      .otherwise(
        greatest(coalesce(col("__cu"), lit(0L)).cast("double") - d, lit(0.0)) /
          col("__nct").cast("double") +
          d * col("__nv2").cast("double") / col("__nct").cast("double") /
            col("__nvoc").cast("double"))
    val p2 = when(col("__cbp").isNull, p1)
      .otherwise(
        greatest(coalesce(col("__cb"), lit(0L)).cast("double") - d, lit(0.0)) /
          col("__cbp").cast("double") +
          d * col("__f2").cast("double") / col("__cbp").cast("double") * p1)
    val p3 = when(col("__c3p").isNull, p2)
      .otherwise(
        greatest(coalesce(col("__c3"), lit(0L)).cast("double") - d, lit(0.0)) /
          col("__c3p").cast("double") +
          d * col("__f3").cast("double") / col("__c3p").cast("double") * p2)
    val p = when(col("__v").isNull, p1)
      .when(col("__u").isNull, p2)
      .otherwise(p3)
    // stat tables are all derived from `events` THROUGH each other
    // (tri → contBi → ctx2/contUni), so name-based using-column joins
    // hit AMBIGUOUS_REFERENCE on the shared lineage — join on
    // explicitly renamed keys instead
    events
      .join(contUni.select(col("__t").as("__kut"), col("__cu")),
        col("__t") === col("__kut"), "left")
      .join(contBi.select(col("__v").as("__kbv"), col("__t").as("__kbt"),
          col("__cb")),
        col("__v") === col("__kbv") && col("__t") === col("__kbt"), "left")
      .join(ctx2.select(col("__v").as("__k2v"), col("__cbp"), col("__f2")),
        col("__v") === col("__k2v"), "left")
      .join(tri.select(col("__u").as("__k3u"), col("__v").as("__k3v"),
          col("__t").as("__k3t"), col("__c3")),
        col("__u") === col("__k3u") && col("__v") === col("__k3v") &&
          col("__t") === col("__k3t"), "left")
      .join(ctx3.select(col("__u").as("__kcu"), col("__v").as("__kcv"),
          col("__c3p"), col("__f3")),
        col("__u") === col("__kcu") && col("__v") === col("__kcv"), "left")
      .crossJoin(broadcast(scalars))
      .groupBy(col("__id"))
      .agg(round(avg(log(p)), 6).as("kn3_logprob"))
      .select(col("__id").as(id), col("kn3_logprob"))
  }

  /** Interpolated 4-GRAM Kneser-Ney LM quality score — the order
    * production KenLM data filtering actually ships (4-5-gram);
    * [[kneserNey3LogProbScore]] is the rung below and the template:
    * every statistic still derives from ONE count table — here the
    * (w₃, w₂, w₁, w) 4-gram table — with each lower order the
    * CONTINUATION distribution of the order above (Chen & Goodman):
    *
    *   P(w|s,u,v) = (c(suvw) − D)⁺/c(suv·) + D·N1+(suv·)/c(suv·) · P(w|u,v)
    *   P(w|u,v)   = (N1+(·uvw) − D)⁺/N1+(·uv·) + D·N1+(uv·)/N1+(·uv·) · P(w|v)
    *   P(w|v)     = (N1+(··vw) − D)⁺/N1+(··v·) + D·N1+(v·)/N1+(··v·) · P1(w)
    *   P1(w)      = (N1+(···w) − D)⁺/N1+(···) + D·V₂/N1+(···) · 1/V
    *
    * where N1+(·uvw) counts distinct s's preceding (u,v,w) in the
    * 4-gram table, N1+(··vw) counts distinct u's over THOSE
    * continuation types, and so on down — each table a groupBy of the
    * one above, never a second corpus pass. Σ_w P = 1 per context
    * class at every level (spec-asserted). Scoring: a doc's first
    * token scores P1, second P(w|v), third P(w|u,v), the rest the
    * full 4-gram equation. Gotchas inherited from the trigram build
    * (r11): shifted arrays prepend-then-TRUNCATE, and internal names
    * stay case-distinct (Spark resolves case-insensitively).
    *
    * Scale shape identical to [[kneserNey3LogProbScore]] with one
    * more narrow derived aggregate and two more token-key joins
    * (AQE broadcasts the Zipf-small stat tables when they fit).
    * Output: (`id`, kn4_logprob rounded to 6). */
  def kneserNey4LogProbScore(df: DF, id: String, text: Column,
                             discount: Double = 0.75): DF = {
    require(discount > 0 && discount < 1, s"discount $discount outside (0,1)")
    val toks = tokens(text)
    def shifted(k: Int): Column = slice(concat(
      array((1 to k).map(_ => lit(null).cast("string")): _*), toks),
      lit(1), size(toks))
    val events = df
      .where(size(toks) >= 1)
      .select(col(id).as("__id"),
        explode(arrays_zip(shifted(3).as("s"), shifted(2).as("u"),
          shifted(1).as("v"), toks.as("t"))).as("__e"))
      .select(col("__id"), col("__e.s").as("__s"), col("__e.u").as("__u"),
        col("__e.v").as("__v"), col("__e.t").as("__t"))
    // r16: gram-table materialization probed and REJECTED — the
    // initial plan shows 20 parquet scans / 62 exchanges, but AQE
    // stage reuse already dedups the identical gram exchanges at
    // runtime: checkpointing four/contTri/contBi measured flat on the
    // 4-gram and trigram tiers and 0.3-0.4 s WORSE on the bigram
    // (order-alternating TimeQ vs the pinned pre-change worktree,
    // bench/abprobe_textlang_r16.txt)
    val four = events.where(col("__s").isNotNull)
      .groupBy("__s", "__u", "__v", "__t").agg(count(lit(1)).as("__c4"))
    val ctx4 = four.groupBy("__s", "__u", "__v")
      .agg(sum(col("__c4")).as("__c4p"), count(lit(1)).as("__f4"))
    val contTri = four.groupBy("__u", "__v", "__t")
      .agg(count(lit(1)).as("__ct"))
    val ctx3 = contTri.groupBy("__u", "__v")
      .agg(sum(col("__ct")).as("__ctp"), count(lit(1)).as("__f3"))
    val contBi = contTri.groupBy("__v", "__t").agg(count(lit(1)).as("__cb"))
    val ctx2 = contBi.groupBy("__v")
      .agg(sum(col("__cb")).as("__cbp"), count(lit(1)).as("__f2"))
    val contUni = contBi.groupBy("__t").agg(count(lit(1)).as("__cu"))
    val scalars = contBi
      .agg(count(lit(1)).as("__nct"), count_distinct(col("__t")).as("__nv2"))
      .crossJoin(events.agg(count_distinct(col("__t")).as("__nvoc")))
    val d = lit(discount)
    val p1 = when(col("__nct") === 0, lit(1.0) / col("__nvoc").cast("double"))
      .otherwise(
        greatest(coalesce(col("__cu"), lit(0L)).cast("double") - d, lit(0.0)) /
          col("__nct").cast("double") +
          d * col("__nv2").cast("double") / col("__nct").cast("double") /
            col("__nvoc").cast("double"))
    val p2 = when(col("__cbp").isNull, p1)
      .otherwise(
        greatest(coalesce(col("__cb"), lit(0L)).cast("double") - d, lit(0.0)) /
          col("__cbp").cast("double") +
          d * col("__f2").cast("double") / col("__cbp").cast("double") * p1)
    val p3 = when(col("__ctp").isNull, p2)
      .otherwise(
        greatest(coalesce(col("__ct"), lit(0L)).cast("double") - d, lit(0.0)) /
          col("__ctp").cast("double") +
          d * col("__f3").cast("double") / col("__ctp").cast("double") * p2)
    val p4 = when(col("__c4p").isNull, p3)
      .otherwise(
        greatest(coalesce(col("__c4"), lit(0L)).cast("double") - d, lit(0.0)) /
          col("__c4p").cast("double") +
          d * col("__f4").cast("double") / col("__c4p").cast("double") * p3)
    val p = when(col("__v").isNull, p1)
      .when(col("__u").isNull, p2)
      .when(col("__s").isNull, p3)
      .otherwise(p4)
    events
      .join(contUni.select(col("__t").as("__kut"), col("__cu")),
        col("__t") === col("__kut"), "left")
      .join(contBi.select(col("__v").as("__kbv"), col("__t").as("__kbt"),
          col("__cb")),
        col("__v") === col("__kbv") && col("__t") === col("__kbt"), "left")
      .join(ctx2.select(col("__v").as("__k2v"), col("__cbp"), col("__f2")),
        col("__v") === col("__k2v"), "left")
      .join(contTri.select(col("__u").as("__k3u"), col("__v").as("__k3v"),
          col("__t").as("__k3t"), col("__ct")),
        col("__u") === col("__k3u") && col("__v") === col("__k3v") &&
          col("__t") === col("__k3t"), "left")
      .join(ctx3.select(col("__u").as("__kcu"), col("__v").as("__kcv"),
          col("__ctp"), col("__f3")),
        col("__u") === col("__kcu") && col("__v") === col("__kcv"), "left")
      .join(four.select(col("__s").as("__k4s"), col("__u").as("__k4u"),
          col("__v").as("__k4v"), col("__t").as("__k4t"), col("__c4")),
        col("__s") === col("__k4s") && col("__u") === col("__k4u") &&
          col("__v") === col("__k4v") && col("__t") === col("__k4t"), "left")
      .join(ctx4.select(col("__s").as("__kds"), col("__u").as("__kdu"),
          col("__v").as("__kdv"), col("__c4p"), col("__f4")),
        col("__s") === col("__kds") && col("__u") === col("__kdu") &&
          col("__v") === col("__kdv"), "left")
      .crossJoin(broadcast(scalars))
      .groupBy(col("__id"))
      .agg(round(avg(log(p)), 6).as("kn4_logprob"))
      .select(col("__id").as(id), col("kn4_logprob"))
  }

  /** jusText-lite boilerplate stripping: classify each LINE of a doc
    * as content vs boilerplate by three cheap signals — word count,
    * stopword density, and a link marker — and keep only the content
    * lines. Published block-level extractors (jusText, trafilatura,
    * the C4 line filters) gate on exactly these densities; this is the
    * line-granularity columnar form: split → per-line classify →
    * re-join all inside ONE projection (codegen'd array lambdas, no
    * explode, no shuffle) — at 100 TB the pass is embarrassingly
    * parallel. Contrast [[graft.functions.Dedup.stripRepeatedLines]]:
    * that one drops lines by CORPUS-WIDE repetition (needs a count
    * shuffle); this one drops lines by LOCAL density signals.
    *
    * A line is kept iff it has >= `minWords` whitespace words, its
    * stopword count >= `minStopFrac` · word count (stopwords matched
    * on the lowercased raw word — punctuation-attached words don't
    * match, deliberately, same as the oracle), and (when
    * `dropLinkLines`) it doesn't contain "http". The default
    * `minStopFrac` 0.125 is binary-exact so the density compare is
    * cross-engine exact. Output: (`id`, clean_text, n_kept,
    * n_dropped); docs whose every line drops keep a row with
    * clean_text = "" — the caller decides whether empty docs survive,
    * no row is silently lost here. */
  def stripBoilerplate(df: DF, id: String, text: Column,
                       stopwords: Seq[String] = defaultStopwords.flatMap(_._2),
                       minWords: Int = 3, minStopFrac: Double = 0.125,
                       dropLinkLines: Boolean = true): DF = {
    require(minWords >= 0 && minStopFrac >= 0)
    val sw = array(stopwords.map(lit).toIndexedSeq: _*)
    val lines = split(text, "\n")
    val isKept: Column => Column = l => {
      val ws = filter(split(l, "\\s+"), t => length(t) > 0)
      val nstop = size(filter(ws, w => array_contains(sw, lower(w))))
      val base = (size(ws) >= minWords) &&
        (nstop.cast("double") >= lit(minStopFrac) * size(ws).cast("double"))
      if (dropLinkLines) base && !l.contains("http") else base
    }
    val kept = filter(lines, isKept)
    df.select(col(id),
      array_join(kept, "\n").as("clean_text"),
      size(kept).cast("long").as("n_kept"),
      (size(lines) - size(kept)).cast("long").as("n_dropped"))
  }

  /** DSIR-style hashed-n-gram importance weights (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * select raw documents by how much more likely their hashed unigram
    * features are under a TARGET corpus's distribution than under the
    * raw corpus's own. The pipeline is three pieces:
    *
    *  1. [[fitHashedBucketCounts]] — bucket counts over a corpus's
    *     token stream (one explode + `buckets`-row count aggregate
    *     with map-side partials; the collected "model" is `buckets`
    *     longs, driver-held by construction).
    *  2. [[dsirLogRatios]] — per-bucket add-one-smoothed natural-log
    *     likelihood ratios `ln(p_target(b) / p_raw(b))`, computed on
    *     the driver from a (target, raw) count pair.
    *  3. [[dsirScore]] — per-doc mean of `lr[bucket(tok)]`, applied
    *     MAP-SIDE as a literal lookup array: zero joins and zero
    *     shuffles on the scoring pass at any corpus size (a model
    *     this small belongs in the plan, unlike
    *     [[hashedLogisticScore]]'s externally-trained weights, which
    *     stay a DataFrame join because `dim` is unbounded there).
    *
    * The per-doc fold runs in SORTED bucket order (`array_sort` before
    * the left fold), so the fp sum is order-fixed — repartition-
    * invariant and cross-engine reproducible. Two bucket hashers,
    * [[hashedLogisticScore]]'s convention: xxhash64 (production) and
    * the 60-bit md5 prefix (`...ByMd5`, oracle-computable as
    * `('0x' || substr(md5(tok || seed), 1, 15))::BIGINT % buckets`).
    * Resample step: rank/threshold on `dsir_score` (e.g.
    * [[graft.functions.Corpus.bucketByRank]] or a quantile gate) —
    * the published Gumbel-top-k draw is a nondeterministic variant of
    * the same ordering. Zero-token docs are dropped (no feature
    * evidence either way; mirror the filter downstream). */
  def fitHashedBucketCounts(df: DF, text: Column, buckets: Int,
                            seed: Long = 42L): Array[Long] =
    fitBucketCore(df, text, buckets, dsirBucketXx(buckets, seed))

  /** Oracle/differential twin of [[fitHashedBucketCounts]] (md5-prefix
    * buckets). */
  def fitHashedBucketCountsByMd5(df: DF, text: Column, buckets: Int,
                                 seed: Long = 42L): Array[Long] =
    fitBucketCore(df, text, buckets, dsirBucketMd5(buckets, seed))

  private def dsirBucketXx(buckets: Int, seed: Long): Column => Column =
    t => pmod(xxhash64(t, lit(seed)), lit(buckets.toLong))

  private def dsirBucketMd5(buckets: Int, seed: Long): Column => Column =
    t => pmod(conv(substring(md5(concat(t, lit(seed.toString))), 1, 15),
      16, 10).cast("long"), lit(buckets.toLong))

  private def fitBucketCore(df: DF, text: Column, buckets: Int,
                            bucketOf: Column => Column): Array[Long] = {
    require(buckets >= 1, s"buckets $buckets must be >= 1")
    val counts = df.select(explode(tokens(text)).as("__t"))
      .select(bucketOf(col("__t")).as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    Array.tabulate(buckets)(b => counts.getOrElse(b, 0L))
  }

  /** One-pass (target, raw) bucket-count fit: when target and raw are
    * PARTITIONS of the same table (the common DSIR setup — "src0 vs
    * the rest"), fitting them separately scans the corpus twice;
    * this form tags each doc with `isTarget` and aggregates both
    * distributions in a single explode + (bucket, flag) count — at
    * 100 TB the fit cost halves. Counts are identical to the two
    * separate fits (same tokens, same hash). xxhash64 production
    * hasher; `...ByMd5` the oracle twin. */
  def fitHashedBucketCountsSplit(df: DF, text: Column, isTarget: Column,
                                 buckets: Int,
                                 seed: Long = 42L): (Array[Long], Array[Long]) =
    fitSplitCore(df, text, isTarget, buckets, dsirBucketXx(buckets, seed))

  /** Oracle/differential twin of [[fitHashedBucketCountsSplit]]. */
  def fitHashedBucketCountsSplitByMd5(df: DF, text: Column, isTarget: Column,
                                      buckets: Int, seed: Long = 42L)
      : (Array[Long], Array[Long]) =
    fitSplitCore(df, text, isTarget, buckets, dsirBucketMd5(buckets, seed))

  private def fitSplitCore(df: DF, text: Column, isTarget: Column, buckets: Int,
                           bucketOf: Column => Column)
      : (Array[Long], Array[Long]) = {
    require(buckets >= 1, s"buckets $buckets must be >= 1")
    // a null flag (e.g. source === 'x' on a null source) counts as RAW
    // — without the coalesce the null group NPEs the driver fold
    val rows = df.select(coalesce(isTarget, lit(false)).as("__tgt"),
        explode(tokens(text)).as("__t"))
      .select(col("__tgt"), bucketOf(col("__t")).as("__b"))
      .groupBy("__tgt", "__b").agg(count(lit(1)).as("__c"))
      .collect()
    val target = Array.fill(buckets)(0L)
    val raw = Array.fill(buckets)(0L)
    rows.foreach { r =>
      val arr = if (r.getBoolean(0)) target else raw
      arr(r.getLong(1).toInt) = r.getLong(2)
    }
    (target, raw)
  }

  /** Add-one-smoothed log-likelihood ratios from a (target, raw)
    * bucket-count pair: `lr_b = ln((tc_b+1)·Tr / ((rc_b+1)·Tt))` with
    * `Tt = Σtc + B`, `Tr = Σrc + B` — the single-`ln` form keeps the
    * double arithmetic to one correctly-rounded mul/div chain per
    * bucket (cross-engine: an oracle computes the identical value). */
  def dsirLogRatios(target: Array[Long], raw: Array[Long]): Array[Double] = {
    require(target.length == raw.length,
      s"bucket counts disagree: ${target.length} vs ${raw.length}")
    val b = target.length
    val tt = target.sum + b
    val tr = raw.sum + b
    Array.tabulate(b)(i =>
      math.log((target(i) + 1).toDouble * tr / ((raw(i) + 1).toDouble * tt)))
  }

  /** Apply DSIR log-ratios map-side: (`id`, dsir_score rounded to 6),
    * score = mean over the doc's tokens of `lr[bucket(tok)]`. */
  def dsirScore(df: DF, id: String, text: Column, logRatios: Array[Double],
                seed: Long = 42L): DF =
    dsirScoreCore(df, id, text, logRatios,
      dsirBucketXx(logRatios.length, seed))

  /** Oracle/differential twin of [[dsirScore]] (md5-prefix buckets). */
  def dsirScoreByMd5(df: DF, id: String, text: Column,
                     logRatios: Array[Double], seed: Long = 42L): DF =
    dsirScoreCore(df, id, text, logRatios,
      dsirBucketMd5(logRatios.length, seed))

  private def dsirScoreCore(df: DF, id: String, text: Column,
                            lrs: Array[Double],
                            bucketOf: Column => Column): DF = {
    val arr = array(lrs.map(lit).toIndexedSeq: _*)
    val toks = tokens(text)
    val sortedBuckets = array_sort(transform(toks, bucketOf))
    df.where(size(toks) >= 1)
      .select(col(id),
        round(aggregate(sortedBuckets, lit(0.0),
            (acc, b) => acc + element_at(arr, b.cast("int") + 1)) /
          size(toks), 6).as("dsir_score"))
  }

  /** Model-based quality filter: hashed bag-of-words logistic scoring —
    * the learned-classifier gate published pipelines (DCLM, FineWeb-Edu,
    * fastText-style CCNet filtering) apply on top of heuristic signals.
    * Each token hashes into one of `dim` feature buckets; the document
    * logit is `bias + mean(weight[bucket])` (mean pooling, fastText
    * shape) and the score is the sigmoid. Coefficients are supplied as
    * a (`bucket` long, `weight` double) DataFrame — trained OFFLINE
    * (hashing-trick models train on a driver/SKLearn/fastText side
    * path); this operator is the distributed APPLY step.
    *
    * Scale shape: tokens explode map-side; the weights table is `dim`
    * rows at most (AQE broadcasts it — not forced, so a huge dim still
    * shuffle-joins safely); per-doc mean partial-aggregates. Zero-token
    * docs keep `sigmoid(bias)` via the id left-join re-attach — no row
    * is silently dropped by the explode. Unmatched buckets (weights
    * table sparser than `dim`) contribute weight 0, matching the
    * hashing-trick convention that absent coordinates are zero.
    *
    * Two bucket hashers, same pipeline: [[hashedLogisticScore]] uses
    * xxhash64 (codegen'd, the production path);
    * [[hashedLogisticScoreByMd5]] uses the 60-bit md5 prefix
    * ([[Corpus]] sampleByHash trick) so an oracle engine computes the
    * identical bucket: `('0x' || substr(md5(tok || seed), 1, 15))::
    * BIGINT % dim`. Keep integer-valued weights in differential tests:
    * integer sums are exact in doubles, making the mean (and the
    * rounded sigmoid) bit-identical regardless of aggregation order.
    * Output: (`id`, quality_score — sigmoid rounded to 6). */
  def hashedLogisticScore(df: DF, id: String, text: Column, weights: DF,
                          bias: Double = 0.0, dim: Int = 1 << 18,
                          seed: Long = 42L): DF =
    hashedLogisticCore(df, id, text, weights, bias, dim,
      t => pmod(xxhash64(t, lit(seed)), lit(dim.toLong)))

  /** Oracle/differential twin of [[hashedLogisticScore]] — md5-prefix
    * bucket hashing, cross-engine exact. */
  def hashedLogisticScoreByMd5(df: DF, id: String, text: Column, weights: DF,
                               bias: Double = 0.0, dim: Int = 1 << 18,
                               seed: Long = 42L): DF =
    hashedLogisticCore(df, id, text, weights, bias, dim,
      t => pmod(conv(substring(md5(concat(t, lit(seed.toString))), 1, 15),
        16, 10).cast("long"), lit(dim.toLong)))

  private def hashedLogisticCore(df: DF, id: String, text: Column,
                                 weights: DF, bias: Double, dim: Int,
                                 bucketOf: Column => Column): DF = {
    require(dim >= 1, s"dim $dim must be >= 1")
    val toks = df.select(col(id).as("__id"), explode(tokens(text)).as("__t"))
    val w = weights.select(col("bucket").as("__b"), col("weight").as("__w"))
    val pooled = toks
      .select(col("__id"), bucketOf(col("__t")).as("__b"))
      .join(w, Seq("__b"), "left")
      .groupBy("__id")
      .agg(avg(coalesce(col("__w"), lit(0.0))).as("__z"))
    df.select(col(id))
      .join(pooled.withColumnRenamed("__id", id), Seq(id), "left")
      .select(col(id),
        round(lit(1.0) / (lit(1.0) + exp(-(lit(bias) + coalesce(col("__z"), lit(0.0))))), 6)
          .as("quality_score"))
  }

  /** Train [[hashedLogisticScore]]'s weights ON A LABELED SAMPLE —
    * the fit half of the published quality-gate recipe (DCLM /
    * FineWeb-Edu / CCNet's fastText tier: fit a linear classifier on
    * ~10⁵ labeled docs, then APPLY it to the full corpus; the corpus
    * never trains). Features are exactly the scorer's: mean-pooled
    * hashed-BoW, `x_b = count(tokens in bucket b) / n_tokens`, xxhash64
    * buckets with the same (dim, seed). Batch gradient descent with L2,
    * driver-looped like k-means/BPE (ITERATIVE → spec-only by declared
    * design): the (doc, bucket, x) feature table materializes ONCE
    * (sample-sized by contract), each iteration is two narrow
    * aggregates over it (per-doc score join-pool, per-bucket gradient),
    * and the weight table advances distributed via a full-outer
    * join + lazily-checkpointed update — the DRIVER holds only the
    * scalar bias and loop control, so `dim` can be 2^18 without a
    * driver-side model round-trip per step. Zero-token docs are
    * excluded from the fit (they carry no features; at apply time they
    * keep `sigmoid(bias)`).
    *
    * `label` must be 0.0/1.0. Returns the `(bucket, weight)` table
    * (checkpointed — persist with the DataFrame writers for reuse,
    * see `GraftIO`) and the fitted bias; feed both straight into
    * [[hashedLogisticScore]] with the same dim/seed. */
  def trainHashedLogisticWeights(df: DF, id: String, text: Column,
                                 label: Column, iters: Int = 30,
                                 lr: Double = 2.0, l2: Double = 1e-4,
                                 dim: Int = 1 << 18,
                                 seed: Long = 42L): (DF, Double) = {
    require(iters >= 1, s"iters $iters must be >= 1")
    import graft.functions.{Dedup => Dd}
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(id).as("__id"), label.cast("double").as("__y"),
      tokens(text).as("__ts")).where(size(col("__ts")) > 0)
    val feats = Dd.materializeLazily(base
      .select(col("__id"), explode(col("__ts")).as("__t"))
      .select(col("__id"),
        pmod(xxhash64(col("__t"), lit(seed)), lit(dim.toLong)).as("__b"))
      .groupBy("__id", "__b").agg(count(lit(1)).cast("double").as("__c"))
      .join(base.select(col("__id"), size(col("__ts")).cast("double").as("__n")),
        Seq("__id"))
      .select(col("__id"), col("__b"), (col("__c") / col("__n")).as("__x")))
    val labels = Dd.materializeLazily(base.select(col("__id"), col("__y")))
    val nDocs = labels.count().toDouble
    require(nDocs > 0,
      "trainHashedLogisticWeights needs at least one labeled doc with tokens " +
        "(zero-token docs are excluded from the fit)")
    var bias = 0.0
    var wDf: DF = Seq.empty[(Long, Double)].toDF("__b", "__w")
    var it = 0
    while (it < iters) {
      val scored = feats.join(wDf, Seq("__b"), "left")
        .groupBy("__id")
        .agg(sum(col("__x") * coalesce(col("__w"), lit(0.0))).as("__z"))
      // materialized: BOTH the gradient aggregate and the bias-grad
      // sum read err — without the checkpoint each action re-ran the
      // feats⋈weights join and the per-doc sigmoid pass (2× per step)
      val err = Dd.materializeLazily(
        labels.join(scored, Seq("__id"), "left")
          .select(col("__id"),
            (lit(1.0) / (lit(1.0) +
              exp(-(lit(bias) + coalesce(col("__z"), lit(0.0))))) - col("__y"))
              .as("__e")))
      val grad = feats.join(err, Seq("__id"))
        .groupBy("__b").agg(sum(col("__x") * col("__e")).as("__g"))
      wDf = Dd.materializeLazily(
        wDf.join(grad, Seq("__b"), "full")
          .select(col("__b"),
            (coalesce(col("__w"), lit(0.0)) * lit(1.0 - lr * l2) -
              lit(lr / nDocs) * coalesce(col("__g"), lit(0.0))).as("__w")))
      val biasGrad = err.agg(sum(col("__e"))).head().getDouble(0)
      bias -= lr * biasGrad / nDocs
      it += 1
    }
    (wDf.select(col("__b").as("bucket"), col("__w").as("weight")), bias)
  }

  /** URL canonicalization — the dedup key published web-curation
    * pipelines derive before anything else touches the corpus (CCNet /
    * RefinedWeb drop exact-URL duplicates ahead of content dedup; it
    * removes a large share of raw crawl rows for the cost of a string
    * kernel). Conservative, dialect-portable rules (plain character
    * classes, inline (?i), no lookaround — the same steps run in Java
    * regex and RE2, so the pass is differential-testable):
    *
    *  1. trim;
    *  2. scheme and authority lowercased (userinfo included — a
    *     simplification; path/query case preserved);
    *  3. default ports stripped (`http…:80`, `https…:443`);
    *  4. fragment removed;
    *  5. tracking params removed case-insensitively (`utm_*`,
    *     `fbclid`, `gclid`, `msclkid`, `ref`); other params keep
    *     their original order — reordering could merge distinct
    *     resources on servers that treat order as meaningful;
    *  6. a bare leftover `?` and, when no query remains, trailing
    *     `/` runs on the path are dropped
    *     (`https://a.com/` == `https://a.com`).
    *
    * A value without a `scheme://authority` shape passes through
    * trimmed (never null, so the column composes with grouping).
    * Pair with [[graft.functions.Dedup.dedupByCanonicalUrl]]. */
  def canonicalizeUrl(url: Column): Column = {
    val u = trim(url)
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth = lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    // capture up to '#': the fragment never reaches the canonical form
    val rest = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    val authNoPort = when(scheme === "http", regexp_replace(auth, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth, ":443$", ""))
      .otherwise(auth)
    // three RE2-safe passes: '&'-led tracking params anywhere, a
    // tracking param right after '?' followed by a kept param, and a
    // tracking param that is the whole remaining query
    val tr = "(utm_[^=&]*|fbclid|gclid|msclkid|ref)"
    val q1 = regexp_replace(rest, "(?i)&" + tr + "=[^&]*", "")
    val q2 = regexp_replace(q1, "(?i)\\?" + tr + "=[^&]*&", "?")
    val q3 = regexp_replace(q2, "(?i)\\?" + tr + "=[^&]*$", "")
    val q4 = regexp_replace(q3, "\\?$", "")
    val path = when(instr(q4, "?") > 0, q4)
      .otherwise(regexp_replace(q4, "/+$", ""))
    when(scheme === "", u)
      .otherwise(concat(scheme, lit("://"), authNoPort, path))
  }

  /** Unicode normalization (NFC default) via the codegen'd
    * [[graft.plans.UnicodeNormalize]] expression — already-normalized
    * text (virtually all ASCII corpus input) takes a scan-only fast
    * path with no allocation. */
  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.plans.UnicodeNormalize(
        org.apache.spark.sql.graft.Bridge.expression(text), form))

  /** Corpus text cleanup — the standard pre-tokenization scrub:
    * Unicode-normalize (NFC), normalize CRLF/CR line endings to \n,
    * drop remaining control characters (keeping \n and
    * \t), drop zero-width characters and BOMs, collapse space/tab runs
    * to one space, tighten whitespace around newlines, cap blank runs
    * at one empty line, and trim. Every pass is a builtin
    * regexp_replace (codegen'd, RE2-portable — differential-testable
    * against DuckDB's nfc_normalize + the same replace chain). Order
    * matters and is part of the contract: normalize first (so
    * decomposed controls/spaces are seen in composed form), strip,
    * then collapse. */
  def cleanText(text: Column, form: String = "NFC"): Column = {
    val n = unicodeNormalize(text, form)
    val unixNl = regexp_replace(n, "\\r\\n?", "\n")
    val noCtl = regexp_replace(unixNl, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val noZw = regexp_replace(noCtl, "[\\x{200B}-\\x{200D}\\x{FEFF}]", "")
    val oneSp = regexp_replace(noZw, "[ \\t]+", " ")
    val tightNl = regexp_replace(oneSp, " ?\\n ?", "\n")
    val capBlank = regexp_replace(tightNl, "\\n{3,}", "\n\n")
    trim(capBlank)
  }

  /** HTML → text extraction — the raw-crawl stage ahead of everything
    * else in a web pipeline (C4/CCNet consume pre-extracted WET text;
    * RefinedWeb-class pipelines extract from markup themselves).
    * Conservative, dialect-portable regex chain (inline `(?is)` flags,
    * lazy quantifiers — identical semantics in Java regex and RE2, so
    * the pass is differential-testable like [[cleanText]]):
    * script/style/comment blocks drop WITH their content, block-level
    * closers and `<br>` become newlines before the generic tag strip
    * (so paragraph structure survives), the common named entities
    * decode (`&amp;` LAST — `&amp;lt;` single-decodes to `&lt;`, never
    * to `<`), and whitespace normalizes with [[cleanText]]'s tail
    * (space-run collapse, tight newlines, blank-run cap). The generic
    * tag strip requires a TAG-SHAPED span (`</?letter...>` or `<!...>`),
    * so prose with unescaped comparison operators ("5 < 6 while
    * 7 > 3") passes through instead of being eaten as a fake tag.
    * Known caveats of the regex (not DOM) approach: an UNCLOSED
    * `<script>`/`<style>` block leaks its body (the lazy pattern
    * needs the closer), and entity decoding covers only the common
    * named set. A readability-grade extractor (DOM scoring,
    * link-density) is a deliberate non-goal — compose [[stripBoilerplate]] downstream for
    * the jusText-lite line classifier. */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val blocks = regexp_replace(noComment,
      "(?i)<(?:br|/p|/div|/h[1-6]|/li|/tr|/table|/ul|/ol|/blockquote)[^>]*>", "\n")
    val noTags = regexp_replace(blocks, "(?s)</?[A-Za-z!][^>]*>", " ")
    val e1 = replace(noTags, lit("&nbsp;"), lit(" "))
    val e2 = replace(e1, lit("&lt;"), lit("<"))
    val e3 = replace(e2, lit("&gt;"), lit(">"))
    val e4 = replace(e3, lit("&quot;"), lit("\""))
    val e5 = replace(e4, lit("&#39;"), lit("'"))
    val e6 = replace(e5, lit("&amp;"), lit("&"))
    val oneSp = regexp_replace(e6, "[ \\t\\x0B\\f\\r]+", " ")
    val tightNl = regexp_replace(oneSp, " ?\\n ?", "\n")
    val capBlank = regexp_replace(tightNl, "\\n{3,}", "\n\n")
    // trim strips spaces only; a trailing </p>-turned-newline would
    // survive it — strip edge newline runs explicitly
    regexp_replace(trim(capBlank), "^\\n+|\\n+$", "")
  }

  /** Lowercased host of a URL — authority without port or
    * userinfo-free (the synthetic corpus never carries userinfo; a
    * production crawl would strip `user@` first). Empty string when
    * the value has no scheme://host shape. RE2-safe pattern, identical
    * in DuckDB for differential testing. */
  def urlHost(url: Column): Column = {
    val auth = lower(regexp_extract(trim(url),
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    regexp_replace(auth, ":[0-9]+$", "")
  }

  /** Registered domain: last two dot-labels of the host
    * (`cdn.spam.example.com` → `example.com`), the grouping key for
    * domain-level curation stats and blocklists. Heuristic — a real
    * crawl pipeline substitutes a public-suffix-list lookup here (the
    * two-label rule is wrong for ccSLDs like `.co.uk`); the seam is
    * this one function, everything built on it is suffix-rule
    * agnostic. Hosts with a single label pass through unchanged. */
  def registeredDomain(host: Column): Column =
    when(host.contains("."),
      regexp_extract(host, "([^.]+\\.[^.]+)$", 1)).otherwise(host)

  /** Drop documents whose URL host is on a domain blocklist (the UT1 /
    * adult-blocklist crawl-filtering stage). A host matches a blocked
    * domain `d` when it equals `d` or ends with `"." + d` (subdomains
    * blocked too). The blocklist is a driver-held Seq by contract
    * (real blocklists are ~1e6 entries — still literal-OR-foldable is
    * wrong at that size, so for large lists use
    * [[filterByDomainBlocklistDf]]); this literal form is fully
    * columnar (no join, no shuffle) and SQL-expressible. */
  /** Blocked-word count: occurrences of blocklist words among the
    * doc's lowercased whitespace tokens (exact token match —
    * punctuation-attached words don't match, deliberately, same
    * contract as [[stripBoilerplate]]'s stopword rule and the same
    * semantics both in-engine and in an oracle). The C4 "bad words"
    * stage counts exactly this before dropping. Pure projection. */
  def blockedWordCount(toks: Column, blocked: Seq[String]): Column = {
    require(blocked.nonEmpty, "empty word blocklist — nothing to count")
    val bl = array(blocked.map(w => lit(w.toLowerCase)).toIndexedSeq: _*)
    size(filter(toks, t => array_contains(bl, lower(t)))).cast("long")
  }

  /** Multi-PHRASE substring scan via one Aho-Corasick pass
    * ([[graft.plans.PhraseHits]]) — the complement to
    * [[blockedWordCount]]'s exact-token rule: phrases may span
    * whitespace ("fast filter") and match inside words ("qu" in
    * "query"), and the text is read ONCE regardless of pattern count
    * (vs P chained contains/regex passes). Returns the TOTAL
    * (position, pattern) occurrence count, overlaps included — the
    * density signal a blocklist thresholds on. Case-sensitive;
    * compose with `lower()` for case-folding. */
  def phraseHits(text: Column, phrases: Seq[String]): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.PhraseHits(Bridge.expression(text), phrases))
  }

  /** Distinct matched phrases (sorted) from the same single-pass
    * automaton — the audit signal: WHICH blocklist rules fired. */
  def phraseMatches(text: Column, phrases: Seq[String]): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.PhraseMatches(Bridge.expression(text), phrases))
  }

  /** C4-style word-blocklist filter: drop documents with MORE than
    * `maxHits` blocked-word occurrences (the published rule is
    * maxHits = 0 — any hit drops; a nonzero budget tolerates
    * incidental mentions). Columnar predicate over
    * [[blockedWordCount]] — no explode, no shuffle; a production-size
    * list (the ~400-entry LDNOOBW set) stays a single literal array
    * probe per token. */
  def filterByWordBlocklist(df: org.apache.spark.sql.DataFrame, text: Column,
                            blocked: Seq[String],
                            maxHits: Int = 0): org.apache.spark.sql.DataFrame = {
    require(maxHits >= 0, s"maxHits $maxHits must be >= 0")
    df.where(blockedWordCount(tokens(text), blocked) <= maxHits)
  }

  def filterByDomainBlocklist(df: org.apache.spark.sql.DataFrame, url: Column,
                              blocked: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(blocked.nonEmpty, "empty blocklist — nothing to filter")
    val host = urlHost(url)
    val hit = blocked.map { d =>
      val dl = d.toLowerCase
      host === dl || host.endsWith("." + dl)
    }.reduce(_ || _)
    df.where(!hit)
  }

  /** Blocklist filter for LARGE lists: broadcast anti-join on the
    * registered domain (equi-join key — a subdomain of a blocked
    * registered domain shares its last two labels, so suffix matching
    * reduces to equality on [[registeredDomain]] provided the
    * blocklist itself holds registered domains, the normal form of
    * published blocklists). The blocklist side is broadcast (≤ a few
    * hundred MB even at 1e7 entries); the corpus side never
    * shuffles. */
  def filterByDomainBlocklistDf(df: org.apache.spark.sql.DataFrame, url: Column,
                                blocklist: org.apache.spark.sql.DataFrame,
                                domainCol: String): org.apache.spark.sql.DataFrame = {
    val bl = blocklist.select(lower(col(domainCol)).as("__blocked_domain")).distinct()
    df.withColumn("__rd", registeredDomain(urlHost(url)))
      .join(broadcast(bl), col("__rd") === col("__blocked_domain"), "left_anti")
      .drop("__rd")
  }

  /** Per-domain corpus audit: docs, tokens, chars, distinct hosts per
    * registered domain — the table a curation run ranks to find
    * over-represented or low-quality domains before filtering. One
    * hash aggregation with map-side partials; a viral domain collapses
    * per map partition before the exchange (heavy domains shuffle
    * least). Output: (domain, n_docs, n_hosts, n_tokens, n_chars). */
  def domainStats(df: org.apache.spark.sql.DataFrame, url: Column,
                  text: Column): org.apache.spark.sql.DataFrame = {
    val host = urlHost(url)
    df.groupBy(registeredDomain(host).as("domain"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(host).as("n_hosts"),
        sum(size(tokens(text))).cast("long").as("n_tokens"),
        sum(length(text)).cast("long").as("n_chars"))
  }

  /** Punctuation ratio over characters. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.expressions.Window

  /** Budgeted chunking kernel: split `text` into units on
    * `splitRegex`, weigh each unit with `weight`, then pack whole
    * units into chunks of ~`budget` cumulative weight — a unit never
    * splits, so a chunk can overflow by at most one unit (the
    * boundary unit goes to the chunk its *preceding* cumulative
    * weight selects, the standard greedy bin rule that both engines
    * can reproduce deterministically). `chunk_id` is densely
    * renumbered per doc (0,1,2,…) — a single unit heavier than a
    * whole budget multiple would otherwise leave gaps. One explode +
    * one windowed running sum (spilling sort) + one group-back —
    * scale cost is the unit count, never a cross join.
    * Output: (doc_id, chunk_id, chunk, n_units, total_weight). */
  def chunkUnits(df: DataFrame, id: Column, text: Column,
                 splitRegex: String, budget: Long)
                (weight: Column => Column): DataFrame = {
    require(budget > 0, "budget must be positive")
    val units = filter(split(text, splitRegex), u => length(trim(u)) > 0)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("__pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val grouped = df
      .select(id.as("doc_id"), posexplode(units).as(Seq("__pos", "__unit")))
      .withColumn("__wt", weight(col("__unit")).cast("long"))
      .withColumn("__cb", coalesce(sum(col("__wt")).over(w), lit(0L)))
      .withColumn("__bin", expr(s"__cb div ${budget}L"))
      .groupBy(col("doc_id"), col("__bin"))
      .agg(
        array_join(transform(
          sort_array(collect_list(struct(col("__pos"), col("__unit")))),
          x => x.getField("__unit")), " ").as("chunk"),
        count(lit(1)).as("n_units"),
        sum(col("__wt")).as("total_weight"))
    val dw = Window.partitionBy(col("doc_id")).orderBy(col("__bin"))
    grouped.withColumn("chunk_id", dense_rank().over(dw).cast("long") - 1)
      .select(col("doc_id"), col("chunk_id"), col("chunk"),
        col("n_units"), col("total_weight"))
  }

  /** True-BPE tokens of a string — apply a trained merges table
    * (ordered (left, right) pairs, highest priority first) to every
    * whitespace word via the codegen'd [[graft.plans.BpeApply]]
    * expression. Use where a token budget must count REAL subword
    * units instead of the [[tokenCountBpeish]] proxy:
    * `packTokens`-style budgets take `size(bpeTokens(...))`.
    * The merges list must be a valid BPE table (each rule side is a
    * single code point or an earlier rule's product — any table from
    * actual BPE training qualifies); see the expression Scaladoc for
    * the equivalence this buys the oracle. */
  def bpeTokens(text: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.BpeApply(Bridge.expression(text), merges))
  }

  /** True-subword token count under a BPE merges table. */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    size(bpeTokens(text, merges)).cast("long")

  /** WordPiece (BERT-style greedy longest-match-first) tokenization of
    * each whitespace word via the codegen'd
    * [[graft.plans.WordPieceApply]] — the third tokenizer dialect next
    * to [[bpeTokens]] and [[unigramTokens]]. Vocab entries at
    * non-initial positions carry the `##` continuation prefix; a word
    * with any unmatchable position (or longer than `maxWordChars`
    * code points) becomes `unk` WHOLE (HF `WordpieceTokenizer`
    * semantics). Vocab is a broadcast-sized model artifact riding the
    * task binary once. */
  def wordpieceTokens(text: Column, vocab: Seq[String],
                      unk: String = "[UNK]",
                      maxWordChars: Int = 100): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.WordPieceApply(
      Bridge.expression(text), vocab, unk, maxWordChars))
  }

  /** True-subword token count under a WordPiece vocab. */
  def wordpieceTokenCount(text: Column, vocab: Seq[String],
                          unk: String = "[UNK]",
                          maxWordChars: Int = 100): Column =
    size(wordpieceTokens(text, vocab, unk, maxWordChars)).cast("long")

  /** Load a merges table from its DataFrame form (`rank` long/int,
    * `left` string, `right` string) — the model-artifact seam: a
    * tokenizer's merges file lands in a table once, and the collect
    * here is driver-side BY CONTRACT (vocab-sized — tens of thousands
    * of rows, same class as IVF centroids), never corpus data. */
  def bpeMergesFromTable(mergesDf: DF): Seq[(String, String)] =
    mergesDf.orderBy(col("rank")).select(col("left"), col("right"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  /** Inverse of [[bpeMergesFromTable]] — the persistence shape for a
    * trained table ([[trainBpeMerges]] output): write this DataFrame
    * as parquet, reload with `bpeMergesFromTable` (round-trip
    * spec-asserted). */
  def bpeMergesToTable(spark: SparkSession, merges: Seq[(String, String)]): DF = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }
      .toDF("rank", "left", "right")
  }

  /** Train a BPE merges table ON THE CORPUS — the classic
    * Sennrich et al. 2016 loop, restructured for scale: the corpus is
    * reduced ONCE to a word-frequency table (one shuffle over the
    * text; capped at `maxWords` most-frequent words with a
    * deterministic (count desc, word) tie-break — rare-word counts
    * don't move early merges, the standard training bound), and every
    * round after that touches only that vocabulary-bounded table:
    * adjacent-pair counts weighted by word frequency (one partial-agg
    * shuffle over Σ word-length rows), the argmax pair collected to
    * the driver (1 row, tie-break (count desc, left, right)), and the
    * segmentation state advanced by one columnar fold that merges the
    * pair's occurrences left-to-right. State is lazily checkpointed
    * per round (the components-loop recipe — lineage stays flat;
    * sweep with `GraftIO.releaseMaterialized`). Driver holds only the
    * merges list (vocab-sized model artifact).
    *
    * Stops after `numMerges` rules or when the best pair's corpus
    * count falls below `minPairCount`. The result is a VALID merges
    * table by construction (each side is a code point or an earlier
    * product), so [[bpeTokens]] applying it reproduces the
    * training-end tokenization exactly (spec-asserted against an
    * independent driver simulation). ITERATIVE → spec-only by
    * declared design (like k-means); persist via the
    * [[bpeMergesFromTable]] DataFrame shape. */
  /** Train a unigram-LM subword vocabulary ON THE CORPUS — the
    * SentencePiece (Kudo 2018) companion to [[trainBpeMerges]], with
    * the same scale restructure: the corpus reduces ONCE to a
    * word-frequency table; everything after touches only that
    * vocabulary-bounded table.
    *
    *  1. SEED: every code-point substring of length ≤ `maxPieceLen`
    *     of every word, weighted by word frequency (one explode +
    *     partial-agg shuffle over Σ len·maxPieceLen narrow rows); the
    *     top `seedSize` multi-char pieces by (weight desc, piece) plus
    *     ALL single code points (protected forever — they are what
    *     guarantees every training word stays segmentable).
    *  2. EM: each round runs `emIters` E/M steps — the E-step is one
    *     distributed forward-backward pass over the word table
    *     ([[graft.plans.UnigramExpected]], vocab as a plan reference
    *     object) aggregated to per-piece expected counts (vocab-sized
    *     collect — driver holds only the model, like IVF centroids);
    *     the M-step renormalizes on the driver.
    *  3. PRUNE: multi-char pieces rank by (expected count desc,
    *     piece asc) and the bottom `pruneFraction` drops (never below
    *     the `vocabSize` target); repeat 2-3 until the vocabulary
    *     fits, then one final EM settles the probabilities.
    *
    * ITERATIVE → spec-only by declared design (≡ an independent
    * driver simulation within float tolerance — expected counts are
    * partition-order float sums, so unlike BPE's integer argmax the
    * equality is approximate; prune decisions are stable when count
    * gaps exceed ulp noise, which real corpora and the spec fixture
    * satisfy). Apply with [[unigramTokens]] (Viterbi); persist via
    * [[unigramVocabToTable]] (parquet, like the BPE merges table).
    * Returns (piece, logProb) sorted (logProb desc, piece). */
  def trainUnigramVocab(df: DF, text: Column, vocabSize: Int,
                        maxPieceLen: Int = 8, seedSize: Int = 0,
                        emIters: Int = 2, pruneFraction: Double = 0.25,
                        maxWords: Int = 1000000): Array[(String, Double)] = {
    require(vocabSize >= 1, s"vocabSize $vocabSize must be >= 1")
    require(maxPieceLen >= 2, s"maxPieceLen $maxPieceLen must be >= 2")
    require(emIters >= 1 && pruneFraction > 0 && pruneFraction < 1,
      s"emIters $emIters must be >= 1, pruneFraction $pruneFraction in (0,1)")
    import org.apache.spark.sql.graft.Bridge
    val seedCap = if (seedSize > 0) seedSize else math.max(4 * vocabSize, 1000)
    // scoped release: the word table's checkpoint blocks free when
    // training returns (the trainer may run inside long-lived jobs)
    Bridge.withMaterializedScope(df.sparkSession) {
      val words = graft.functions.Dedup.materializeLazily(
        df.select(explode(tokens(text)).as("__w"))
          .groupBy("__w").agg(count(lit(1)).as("__cnt"))
          .orderBy(col("__cnt").desc, col("__w"))
          .limit(maxWords))
      // ---- seed ----
      val cps = call_function("regexp_extract_all", col("__w"), lit("(?s)."), lit(0))
      val subs = flatten(transform(
        sequence(lit(1), least(size(cps), lit(maxPieceLen))),
        len => transform(sequence(lit(1), size(cps) - len + 1),
          s => array_join(slice(cps, s, len), ""))))
      val pieceW = words.select(col("__cnt"), explode(subs).as("__p"))
        .groupBy(col("__p")).agg(sum(col("__cnt")).as("__wt"))
      // singles are exactly the length-1 substrings already in pieceW
      // (Spark length() counts code points, matching the regex '.'
      // split) — deriving them there avoids a separate
      // explode+distinct job and the thousands-of-literals isin()
      // plans a CJK-heavy corpus would otherwise build
      val singles = pieceW.where(length(col("__p")) === 1)
        .collect().map(r => (r.getString(0), r.getLong(1).toDouble))
      require(singles.nonEmpty,
        "trainUnigramVocab needs a non-empty corpus with non-whitespace " +
          "text (the word-frequency table came back empty)")
      val singleSet = singles.map(_._1).toSet
      // ALL piece orderings in this trainer compare strings by CODE
      // POINT (== Spark's UTF-8 binary orderBy) — the driver-side
      // prune and the seed cutoff must agree, and Java's default
      // UTF-16 order disagrees for supplementary-plane pieces
      val multiSeeds = pieceW
        .where(length(col("__p")) > 1)
        .orderBy(col("__wt").desc, col("__p"))
        .limit(seedCap)
        .collect().map(r => (r.getString(0), r.getLong(1).toDouble))
      val sortedSingles = singles.sortWith((a, b) => cpCompare(a._1, b._1) < 0)
      var pieces: Array[String] =
        sortedSingles.map(_._1) ++ multiSeeds.map(_._1)
      var weights: Array[Double] =
        sortedSingles.map(_._2) ++ multiSeeds.map(_._2)
      var logps: Array[Double] = {
        val tot = weights.sum
        weights.map(x => math.log(x / tot))
      }
      // ---- EM + prune ----
      def eStep(): Array[Double] = {
        val vocab = new graft.plans.UnigramVocab(pieces, logps)
        val rows = words.select(col("__cnt"),
            explode(Bridge.column(graft.plans.UnigramExpected(
              Bridge.expression(col("__w")), vocab))).as("__e"))
          .groupBy(col("__e.i").as("i"))
          .agg(sum(col("__cnt") * col("__e.c")).as("c"))
          .collect()
        val counts = new Array[Double](pieces.length)
        rows.foreach(r => counts(r.getInt(0)) = r.getDouble(1))
        counts
      }
      def mStep(counts: Array[Double]): Unit = {
        val tot = counts.sum
        logps = counts.map(c => if (c > 0) math.log(c / tot)
          else Double.NegativeInfinity)
      }
      val targetMulti = math.max(vocabSize - singleSet.size, 0)
      var lastCounts: Array[Double] = null
      var settled = false
      while (!settled) {
        var it = 0
        while (it < emIters) { lastCounts = eStep(); mStep(lastCounts); it += 1 }
        val multiIdx = pieces.indices.filter(i => !singleSet.contains(pieces(i)))
        if (multiIdx.size <= targetMulti) settled = true
        else {
          val keepMulti = math.max(targetMulti,
            (multiIdx.size * (1 - pruneFraction)).floor.toInt)
          val kept = multiIdx
            .sortWith { (a, b) =>
              if (lastCounts(a) != lastCounts(b)) lastCounts(a) > lastCounts(b)
              else cpCompare(pieces(a), pieces(b)) < 0
            }
            .take(keepMulti).toSet
          val keepIdx = pieces.indices
            .filter(i => singleSet.contains(pieces(i)) || kept(i))
          pieces = keepIdx.map(pieces).toArray
          val keptCounts = keepIdx.map(lastCounts).toArray
          val tot = keptCounts.sum
          logps = keptCounts.map(c => if (c > 0) math.log(c / tot)
            else Double.NegativeInfinity)
          if (keepIdx.size <= vocabSize || keepMulti == targetMulti)
            settled = true
        }
      }
      // final settle on the pruned vocabulary
      mStep(eStep())
      pieces.zip(logps).sortWith { case ((pa, la), (pb, lb)) =>
        if (la != lb) la > lb else cpCompare(pa, pb) < 0
      }
    }
  }

  /** Compare strings by Unicode CODE POINT — identical to UTF-8
    * binary order and to Spark's string `orderBy`, and different from
    * Java's UTF-16 `compareTo` for supplementary-plane characters
    * (surrogate pairs sort ABOVE U+E000..U+FFFF here, below them in
    * UTF-16 order). Every unigram-trainer ordering uses this so the
    * driver-side prune/output agree with the Spark-side seed cutoff. */
  private def cpCompare(a: String, b: String): Int = {
    val la = a.length; val lb = b.length
    var i = 0; var j = 0
    while (i < la && j < lb) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(la - i, lb - j)
  }

  /** Viterbi subword tokenization under a trained unigram vocabulary
    * ([[trainUnigramVocab]] output): whitespace words segment into
    * max-probability piece sequences; out-of-vocabulary code points
    * become their own pieces (never fails on unseen text). Pure
    * projection via a codegen kernel expression — the true-subword
    * twin of [[bpeTokens]]. */
  def unigramTokens(text: Column, vocab: Seq[(String, Double)]): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.UnigramTokens(Bridge.expression(text),
      new graft.plans.UnigramVocab(vocab.map(_._1).toArray,
        vocab.map(_._2).toArray)))
  }

  /** Persistence shape for a trained unigram vocabulary: write as
    * parquet, reload with [[unigramVocabFromTable]] (round-trip
    * spec-asserted) — the [[bpeMergesToTable]] twin. */
  def unigramVocabToTable(spark: SparkSession,
                          vocab: Seq[(String, Double)]): DF = {
    import spark.implicits._
    vocab.toDF("piece", "log_prob")
  }

  /** Inverse of [[unigramVocabToTable]]. Vocab-sized collect (a model
    * artifact, same class as IVF centroids), never corpus data. */
  def unigramVocabFromTable(vocabDf: DF): Array[(String, Double)] =
    vocabDf.orderBy(col("log_prob").desc, col("piece"))
      .select(col("piece"), col("log_prob"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))

  def trainBpeMerges(df: DF, text: Column, numMerges: Int,
                     minPairCount: Long = 2L,
                     maxWords: Int = 1000000): Seq[(String, String)] = {
    require(numMerges >= 0, s"numMerges $numMerges must be >= 0")
    require(minPairCount >= 1, s"minPairCount $minPairCount must be >= 1")
    // CODE-POINT split, not split(w, "") (which yields UTF-16 code
    // units): BpeApply tokenizes by code points, and a merges table
    // with an unpaired-surrogate side could never fire at apply time,
    // breaking the apply-reproduces-training contract on non-BMP text
    // (Java regex `.` matches one full code point; spec covers an
    // emoji word)
    val words = df.select(explode(tokens(text)).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("__w"))
      .limit(maxWords)
      .withColumn("__parts",
        call_function("regexp_extract_all", col("__w"), lit("(?s)."), lit(0)))
    var state = graft.functions.Dedup.materializeLazily(words)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = numMerges == 0
    while (!done) {
      val adj = zip_with(
        slice(col("__parts"), lit(1), size(col("__parts")) - 1),
        slice(col("__parts"), lit(2), size(col("__parts")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))
      val top = state.select(col("__cnt"), explode(adj).as("__p"))
        .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
        .agg(sum(col("__cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < minPairCount) done = true
      else {
        val l = top(0).getString(0)
        val r = top(0).getString(1)
        merges += ((l, r))
        // one left-to-right merge sweep as a fold: append, or replace
        // the accumulator's tail when (tail, next) is the new pair —
        // a just-merged tail (l+r) can never falsely re-match l, so
        // the fold equals the non-overlapping left-to-right sweep
        val upd = aggregate(col("__parts"),
          array().cast("array<string>"),
          (acc, x) => when(
            size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
            .otherwise(concat(acc, array(x))))
        state = graft.functions.Dedup.materializeLazily(
          state.withColumn("__parts", upd))
        if (merges.size >= numMerges) done = true
      }
    }
    merges.toSeq
  }

  /** Corpus-scale collocation extraction: adjacent word pairs scored
    * by pointwise mutual information — PMI = ln(c(l,r)·N / (c(l)·c(r)))
    * with ALL counts taken over the bigram-event table (left/right
    * marginals and N = Σ counts), the self-consistent convention that
    * keeps the oracle a pure replay. High-PMI pairs are multiword
    * expressions ("new york"); the classic corpus-analysis signal for
    * tokenizer seeding and stopword-free phrase mining.
    *
    * One explode + three aggregates, all key-shuffled and partial —
    * N is a 1-row aggregate broadcast back via crossJoin (never a
    * driver round-trip on the data path). Every count stays in the
    * grouped row; the quotient is computed in DOUBLE from the start
    * so c(l)·c(r) cannot overflow at web scale. `minCount` drops the
    * unstable low-frequency tail (PMI's known pathology: a 1-count
    * pair of two rare words scores absurdly high). PMI rounds to 6
    * decimals (ln is libm 1-ulp territory cross-engine; the argument
    * itself is an exact IEEE quotient on both sides). */
  def collocationsPmi(df: DF, text: Column, minCount: Long = 5L): DF = {
    require(minCount >= 1, s"minCount $minCount must be >= 1")
    val t = tokens(text)
    val adj = zip_with(
      slice(t, lit(1), greatest(size(t) - 1, lit(0))),
      slice(t, lit(2), greatest(size(t) - 1, lit(0))),
      (a, b) => struct(a.as("l"), b.as("r")))
    val bg = df.where(size(t) >= 2).select(explode(adj).as("__p"))
      .groupBy(col("__p.l").as("__lt"), col("__p.r").as("__rt"))
      .agg(count(lit(1)).as("__c"))
    val lm = bg.groupBy(col("__lt")).agg(sum(col("__c")).as("__cl"))
    val rm = bg.groupBy(col("__rt")).agg(sum(col("__c")).as("__cr"))
    val n = bg.agg(sum(col("__c")).as("__N"))
    bg.join(lm, "__lt").join(rm, "__rt")
      .crossJoin(broadcast(n))
      .where(col("__c") >= minCount)
      .select(col("__lt").as("lt"), col("__rt").as("rt"),
        col("__c").as("cnt"),
        round(log((col("__c").cast("double") * col("__N")) /
          (col("__cl").cast("double") * col("__cr"))), 6).as("pmi"))
  }

  /** Corpus-scale WordPiece vocabulary training — the likelihood-
    * scored sibling of [[trainBpeMerges]] (HF `WordPieceTrainer`
    * semantics): words split into code-point pieces with the `##`
    * continuation prefix on every non-initial piece, and each round
    * merges the adjacent pair maximizing
    * `count(pair) / (count(left) · count(right))` (pair likelihood,
    * not raw frequency — the one scoring difference from BPE), the
    * merged piece keeping the left side's prefix state. Returns the
    * trained vocab: all surviving alphabet pieces plus the merged
    * pieces, ready for [[wordpieceTokens]] (which applies greedy
    * longest-match over exactly this `##` convention — note
    * greedy-apply is the published WordPiece deployment contract and
    * does NOT replay the merge path in general).
    *
    * Scale shape = trainBpeMerges: the corpus reduces ONCE to a
    * (word, count) table capped at `maxWords`; each round is one
    * weighted adjacent-pair aggregate + one piece-frequency aggregate
    * over that vocabulary-bounded table (both ≤ vocab-sized results),
    * then a columnar merge fold with lazily-checkpointed state —
    * rounds never rescan the corpus; the driver holds only the vocab.
    * Iterative/stateful → spec-only by declared design (differential
    * spec ≡ an independent driver simulation). */
  def trainWordpieceVocab(df: DF, text: Column, numMerges: Int,
                          minPairCount: Long = 2L,
                          maxWords: Int = 1000000): Seq[String] = {
    require(numMerges >= 0, s"numMerges $numMerges must be >= 0")
    require(minPairCount >= 1, s"minPairCount $minPairCount must be >= 1")
    val words = df.select(explode(tokens(text)).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("__w"))
      .limit(maxWords)
      .withColumn("__cps",
        call_function("regexp_extract_all", col("__w"), lit("(?s)."), lit(0)))
      .withColumn("__parts", transform(col("__cps"), (c, i) =>
        when(i === 0, c).otherwise(concat(lit("##"), c))))
      .drop("__cps")
    var state = graft.functions.Dedup.materializeLazily(words)
    val merges = scala.collection.mutable.ArrayBuffer.empty[String]
    var done = numMerges == 0
    while (!done) {
      val adj = zip_with(
        slice(col("__parts"), lit(1), size(col("__parts")) - 1),
        slice(col("__parts"), lit(2), size(col("__parts")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))
      val pairs = state.select(col("__cnt"), explode(adj).as("__p"))
        .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
        .agg(sum(col("__cnt")).as("c"))
      val units = state.select(col("__cnt"), explode(col("__parts")).as("__u"))
        .groupBy(col("__u")).agg(sum(col("__cnt")).as("uc"))
      val top = pairs
        .join(units.select(col("__u").as("l"), col("uc").as("lc")), "l")
        .join(units.select(col("__u").as("r"), col("uc").as("rc")), "r")
        .select(col("l"), col("r"), col("c"),
          // lc*rc must multiply in DOUBLE: long*long overflows (and
          // under ANSI mode throws) once piece-frequency products pass
          // 2^63 — single-char counts ~1e11 at 100 TB give ~1e22
          (col("c").cast("double") /
            (col("lc").cast("double") * col("rc").cast("double")))
            .as("score"))
        .orderBy(col("score").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < minPairCount) done = true
      else {
        val l = top(0).getString(0)
        val r = top(0).getString(1)
        // r is never word-initial, so it always carries ##; the
        // merged piece inherits l's prefix state
        val merged = l + r.substring(2)
        merges += merged
        val upd = aggregate(col("__parts"),
          array().cast("array<string>"),
          (acc, x) => when(
            size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
            .otherwise(concat(acc, array(x))))
        state = graft.functions.Dedup.materializeLazily(
          state.withColumn("__parts", upd))
        if (merges.size >= numMerges) done = true
      }
    }
    // alphabet pieces that still occur anywhere + the merges, each
    // distinct; alphabet from the INITIAL split so rare singles that
    // merged away entirely stay matchable at apply time
    val alphabet = words.select(explode(col("__parts")).as("__u"))
      .distinct().orderBy("__u")
      .collect().map(_.getString(0)).toSeq
    (alphabet ++ merges).distinct
  }

  /** Cross-document sequence packing — the corpus-level training-data
    * step ([[packTokens]] packs within one document; training
    * pipelines pack the WHOLE corpus into fixed-budget sequences
    * across document boundaries, keeping each document whole):
    * documents are laid out in deterministic ascending-`id` order
    * within each `shard` and greedily binned by the running weight —
    * bin = floor(cumulative weight of EARLIER docs / budget), the
    * [[chunkUnits]] rule lifted one level, with the same dense
    * renumbering so a document heavier than a whole budget multiple
    * never leaves sequence-id gaps.
    *
    * `shard` is the scale lever: a global running sum would be a
    * single-partition window sort over the corpus, so packing runs per
    * shard (PARTITIONED window — parallel, spilling) and sequences are
    * keyed (shard, seq_id). Packing greedily per shard is what
    * production packers do anyway (they pack per output shard); the
    * cost is at most one under-full tail sequence per shard. Pass a
    * deterministic derivation (`pmod(xxhash64(id), n)`, an id-range
    * split, a date partition, …); the single-shard default is for
    * small corpora and tests only. Output: (shard, seq_id, doc_ids —
    * comma-joined in pack order, n_docs, total_weight). */
  def packCorpus(df: DF, id: Column, weight: Column, budget: Long,
                 shard: Column = lit(0L)): DF = {
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(col("__shard")).orderBy(col("__id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val binned = df
      .select(shard.cast("long").as("__shard"), id.as("__id"),
        weight.cast("long").as("__wt"))
      .withColumn("__cb", coalesce(sum(col("__wt")).over(w), lit(0L)))
      .withColumn("__bin", expr(s"__cb div ${budget}L"))
      .groupBy(col("__shard"), col("__bin"))
      .agg(
        array_join(transform(sort_array(collect_list(col("__id"))),
          x => x.cast("string")), ",").as("doc_ids"),
        count(lit(1)).as("n_docs"),
        sum(col("__wt")).as("total_weight"))
    val dw = Window.partitionBy(col("__shard")).orderBy(col("__bin"))
    binned.withColumn("seq_id", dense_rank().over(dw).cast("long") - 1)
      .select(col("__shard").as("shard"), col("seq_id"), col("doc_ids"),
        col("n_docs"), col("total_weight"))
  }

  /** TF-IDF top-`k` terms per document — the classic keyword
    * extraction over a corpus's own statistics: term frequency per
    * (doc, token), document frequency per token, score
    * `tf * ln(nDocs / df)`, keep each document's `k` highest-scoring
    * terms. Scores are rounded to 6 BEFORE ranking and ties break on
    * the term itself, so the selection is deterministic and
    * dialect-reproducible (near-equal doubles collapse to equal at
    * the rounding grain, then the term tiebreak decides identically
    * everywhere). Output: (id, rank, term, tfidf).
    *
    * Scale shape: one (doc, token) aggregate with map-side partials;
    * the document-frequency fit is a narrow (token, count) aggregate
    * over it; scoring re-joins on the token key (Zipf vocabulary —
    * AQE broadcasts when it fits); nDocs rides a broadcast 1-row
    * scalar; top-k is a rank over the doc-partitioned window (sort
    * spills, never collects). */
  def tfidfTopTerms(df: DataFrame, id: String, text: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = df.select(col(id).as("__id"), explode(tokens(text)).as("__t"))
    val tf = toks.groupBy("__id", "__t").agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy("__t").agg(count(lit(1)).as("__df"))
    val nDocs = df.select(col(id)).distinct().agg(count(lit(1)).as("__nd"))
    val scored = tf.join(dfreq, "__t").crossJoin(broadcast(nDocs))
      .withColumn("__score",
        round(col("__tf") * log(col("__nd").cast("double") / col("__df")), 6))
    val w = Window.partitionBy(col("__id"))
      .orderBy(col("__score").desc, col("__t").asc)
    scored.withColumn("__rn", row_number().over(w)).where(col("__rn") <= k)
      .select(col("__id").as(id), col("__rn").cast("long").as("rank"),
        col("__t").as("term"), col("__score").as("tfidf"))
  }

  /** BM25 relevance of every document against a fixed bag of query
    * terms — the classic probabilistic retrieval score (Robertson/
    * Sparck Jones; the reference's corpus has no search surface, so
    * this is part of the engine's LLM-pipeline tier: retrieval-based
    * corpus triage at 100 TB). Per matching (doc, term):
    * `idf(t) * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl))` with the
    * always-positive idf `ln(1 + (N - df + 0.5)/(df + 0.5))`; a
    * document's score is the sum over its matching terms. Scores are
    * rounded to 6 decimals so downstream ranking is
    * dialect-deterministic.
    *
    * Scale shape: the query-term filter runs INSIDE the generator
    * child (`explode(filter(tokens, isin(...)))` — kept inline, never
    * aliased, per the InferFiltersFromGenerate 3×-eval trap), so
    * non-matching tokens never become rows and the only wide work is
    * a (doc, term) count over documents that actually contain a query
    * term. Document length and the corpus (N, avgdl) stats are
    * map-side projections; (N, avgdl) and the per-term document
    * frequencies (at most |queryTerms| rows) ride broadcast joins.
    * Output: (id, bm25) for documents matching >= 1 term. */
  def bm25Scores(df: DataFrame, id: String, text: Column,
                 queryTerms: Seq[String],
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k1 >= 0 && b >= 0 && b <= 1, s"bad BM25 params k1=$k1 b=$b")
    val stats = df.agg(
      count(lit(1)).as("__n"),
      avg(size(tokens(text))).as("__avgdl"))
    val matched = df.select(
      col(id).as("__id"),
      size(tokens(text)).cast("double").as("__dl"),
      explode(filter(tokens(text), t => t.isin(queryTerms: _*))).as("__t"))
    val tf = matched.groupBy("__id", "__t")
      .agg(count(lit(1)).as("__tf"), first(col("__dl")).as("__dl"))
    val dfreq = tf.groupBy("__t").agg(count(lit(1)).as("__df"))
    tf.join(broadcast(dfreq), "__t").crossJoin(broadcast(stats))
      .withColumn("__idf", log(lit(1.0) +
        (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))))
      .withColumn("__s", col("__idf") * col("__tf") * lit(k1 + 1.0) /
        (col("__tf") + lit(k1) *
          (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
      .groupBy("__id")
      .agg(round(sum(col("__s")), 6).as("bm25"))
      .select(col("__id").as(id), col("bm25"))
  }

  /** Top-`k` documents by [[bm25Scores]] — round-before-rank with an
    * id tiebreak (the [[tfidfTopTerms]] determinism recipe), so the
    * ranking reproduces across engines. The global top-k runs as
    * `orderBy(...).limit(k)` — Spark plans that as a distributed
    * TakeOrderedAndProject (per-partition partial top-k, merge on the
    * driver side of the exchange), never a single-partition global
    * sort; the rank window then only ever sees `k` rows.
    * Output: (id, rank, bm25). */
  def bm25TopK(df: DataFrame, id: String, text: Column,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val top = bm25Scores(df, id, text, queryTerms, k1, b)
      .orderBy(col("bm25").desc, col(id).asc).limit(k)
    val w = Window.orderBy(col("bm25").desc, col(id).asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col(id), col("rank"), col("bm25"))
  }

  /** Sentence-aware chunking: whole sentences packed to a token
    * budget — the segmentation that keeps sentence boundaries intact
    * (vs the fixed-window [[chunkTokens]]). */
  def chunkBySentences(df: DataFrame, id: Column, text: Column,
                       tokenBudget: Long): DataFrame =
    chunkUnits(df, id, text, "[.!?]\\s+", tokenBudget)(s =>
      size(filter(split(s, "\\s+"), t => length(t) > 0)))

  /** Character-budget packing of whole tokens — pack-to-length
    * chunking for corpora without sentence structure. */
  def packTokens(df: DataFrame, id: Column, text: Column,
                 charBudget: Long): DataFrame =
    chunkUnits(df, id, text, "\\s+", charBudget)(t => length(t))

  /** TextRank keyword scores (Mihalcea & Tarau 2004): PageRank over
    * the word co-occurrence graph — adjacent-token pairs, both
    * directions (TextRank's graph is undirected), MULTI-edges kept so
    * co-occurrence frequency acts as edge weight exactly as in the
    * weighted formulation ([[graft.functions.Corpus.pageRank]]'s
    * per-edge r/deg contributions sum once per occurrence). The
    * standard corpus-level keyword/salience signal.
    *
    * Scale shape: one zero-join columnar projection emits the pair
    * list (a `transform` over index `sequence` — docs shorter than 2
    * tokens are filtered BEFORE the sequence so it can never run
    * descending), then the [[graft.functions.Corpus.pageRank]]
    * machinery (per-round round(12) → unrolled-CTE oracle).
    * Vocabulary is Zipf-small relative to the corpus, so the rank state
    * fits the broadcast guard and pageRank takes its dense path: the
    * tokens are collected once into a dictionary, the pair list is
    * encoded once into cached int arrays, and each round is one Spark
    * job; a vocabulary over the guard runs pageRank's shuffled SQL
    * loop instead. Output: (node = token, rank). */
  def textRankKeywords(df: DataFrame, text: Column,
                       iters: Int = 3): DataFrame = {
    val d = df.select(tokens(text).as("__tk"))
      .where(size(col("__tk")) >= 2)
    val pairs = d.select(explode(expr(
        "transform(sequence(1, size(__tk) - 1)," +
          " i -> struct(__tk[i-1] AS a, __tk[i] AS b))")).as("__p"))
      .select(col("__p.a").as("__a"), col("__p.b").as("__b"))
    val und = pairs.union(
      pairs.select(col("__b").as("__a"), col("__a").as("__b")))
    Corpus.pageRank(und, col("__a"), col("__b"), iters)
  }
}
