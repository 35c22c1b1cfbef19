package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication for large-scale training-data pipelines (SURVEY §7.2
  * step 7 north-star extensions; beyond the reference surface — the
  * reference only has whole-element `distinct`, core.clj:1741-1756).
  *
  * Scale design: every variant here is expressed so the expensive part
  * is a shuffle on a *small* key (band hash / chunk hash), never an
  * all-pairs cross join. Exact all-pairs forms live in test scope
  * (`ReferenceForms`), as references for the differential specs.
  *
  * All columnar — higher-order functions stay inside Catalyst codegen;
  * no UDFs.
  */
object Dedup {

  // functions.substring/shiftright take Int literals only; the SQL
  // builtin forms accept column args — call_function reaches them.
  private[functions] def substr(s: Column, pos: Column, len: Int): Column =
    call_function("substring", s, pos, lit(len))
  private def shr(v: Column, bits: Column): Column =
    call_function("shiftright", v, bits)
  private def shru(v: Column, bits: Column): Column =
    call_function("shiftrightunsigned", v, bits)
  private def shl(v: Column, bits: Column): Column =
    call_function("shiftleft", v, bits)

  /** Distinct char n-gram shingles — rides the
    * [[graft.plans.CharShingles]] one-pass kernel (r15: the columnar
    * `substring(text, i, n)` walk seeks code-point i from the string
    * START per call — O(len²) byte scans per doc; bit-compat
    * spec-asserted against `ReferenceForms.charShinglesColumnar`). */
  def charShingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.CharShingles(Bridge.expression(text), n))
  }

  /** Distinct xxhash64 shingle hashes, fused: one pass over the UTF-8
    * buffer, no substring materialization (the scale twin of
    * `transform(charShingles(text, n), xxhash64)` — bit-equal modulo
    * order, spec-asserted). Use when only hash identity matters
    * (joins, overlap counts), not the shingle strings themselves. */
  def shingleHashes(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.ShingleHashes(Bridge.expression(text), n))
  }

  /** Distinct word n-gram shingles from a token array. */
  def tokenShingles(tokens: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(tokens) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(tokens, i, lit(n)))))

  /** Distinct xxhash64 word-n-gram shingle hashes, fused: one pass over
    * the UTF-8 buffer, no token-array or joined-gram string
    * materialization (the scale twin of
    * `transform(tokenShingles(TextFunctions.tokens(text), n), xxhash64)`
    * — bit-equal modulo order, spec-asserted). Use when only hash
    * identity matters (decontamination joins, overlap counts). */
  def tokenShingleHashes(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.TokenShingleHashes(Bridge.expression(text), n))
  }

  /** Standard decontamination text normalizer — the published
    * decontamination recipes normalize before shingling so a
    * case/punctuation/whitespace variant of an eval prompt cannot
    * escape: lowercase, punctuation → space, whitespace runs collapsed
    * to one space, trimmed. ASCII-scoped with explicit character
    * classes (identical semantics in Java regex and RE2/DuckDB — Java
    * `\s` would diverge on vertical tab) so normalized decontamination
    * stays differential-testable; pass a deployment-grade normalizer
    * through the `normalize` hook where needed. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^a-z0-9 \\t\\n\\f\\r]", " "),
      "[ \\t\\n\\f\\r]+", " "))

  /** Exact Jaccard similarity of two array columns. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") / size(array_union(a, b)))

  /** Exact n-gram Jaccard near-dup pairs, optionally blocked by a
    * column (only same-block pairs compared). Since r13 this DELEGATES
    * to the [[jaccardPairsExact]] prefix-filter machinery — the naive
    * blocked all-pairs form this name shipped with measured 284 s at
    * sf0.1 once the census bench tier finally timed it (within-block
    * all-pairs is quadratic in block size, and "blocks small by
    * contract" did not hold for a source column); output is UNCHANGED
    * (differential-spec'd against the naive form, test-scope
    * `ReferenceForms.ngramJaccardPairsAllPairs`). */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String, n: Int,
                        threshold: Double, blockBy: Option[String] = None): DataFrame =
    jaccardPairsExact(df, id, text, n, threshold, blockBy = blockBy)

  /** Candidate overlap pairs by shared winnowing fingerprints (the
    * MOSS recipe): each doc explodes to its winnowed fingerprint set
    * ([[graft.functions.TextFunctions.winnowingFingerprints]] — ~2/(w+1)
    * of its grams), pairs join on the 64-bit fingerprint KEY (never
    * all-pairs; Σ bucket² over fingerprint buckets, the
    * `minhashLshPairs` shape), and a pair survives with its shared-
    * fingerprint count when it clears `minShared`. Any shared
    * substring of length ≥ w + k - 1 is guaranteed to contribute a
    * shared fingerprint, so this finds PARTIAL overlap (quotation,
    * clone, boilerplate) that whole-document MinHash dilutes away.
    * `maxDocFreq > 0` drops fingerprints occurring in more than that
    * many docs before pairing — the stop-fingerprint cap for viral
    * boilerplate (same convention as the LSH bucket cap: off on
    * oracle paths, on in production, audit before trusting recall).
    * `byMd5` switches to the 60-bit md5 gram hash so a DuckDB oracle
    * can reproduce the pair set exactly. Output: (id_a, id_b,
    * n_shared), id_a < id_b. Requires unique ids. */
  def winnowingSharedPairs(df: DataFrame, id: String, text: Column,
                           k: Int = 5, w: Int = 4, minShared: Int = 2,
                           maxDocFreq: Long = 0L,
                           byMd5: Boolean = false): DataFrame = {
    require(minShared >= 1, s"minShared $minShared must be >= 1")
    val fps =
      if (byMd5) graft.functions.TextFunctions.winnowingFingerprintsByMd5(text, k, w)
      else graft.functions.TextFunctions.winnowingFingerprints(text, k, w)
    // keep the expensive generator child INLINE (InferFiltersFromGenerate
    // alias-substitution trap — see CLAUDE.md)
    val ex = df.select(col(id).as("__id"), explode(fps).as("__fp"))
    val kept =
      if (maxDocFreq > 0) {
        val hot = ex.groupBy("__fp").agg(count(lit(1)).as("__df"))
          .where(col("__df") > maxDocFreq).select("__fp")
        ex.join(broadcast(hot), Seq("__fp"), "left_anti")
      } else ex
    kept.as("a").join(kept.as("b"),
        col("a.__fp") === col("b.__fp") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Benchmark decontamination: drop corpus docs that share at least
    * `minOverlap` of their distinct character n-gram shingles with any
    * single benchmark/eval document — the published n-gram-overlap
    * decontamination recipe, expressed as a shingle-hash join.
    *
    * Scale shape: both sides explode to narrow (id, shingle-hash)
    * rows; the match join shuffles on the 64-bit hash key — never
    * corpus×benchmark — per-(corpus doc, bench doc) match counts
    * aggregate on those narrow keys, and the flagged id set anti-joins
    * back against the untouched corpus. The benchmark side is small by
    * nature (an eval set), so AQE broadcasts its exploded hashes; the
    * corpus side streams map-side. Overlap = |C ∩ B| / |C| per
    * (corpus doc C, bench doc B) — the corpus-doc-relative fraction,
    * so a short eval prompt embedded verbatim in a long page does NOT
    * flag the page unless it dominates it; lower `n` / `minOverlap`
    * to tighten.
    *
    * `normalize` runs on BOTH sides before shingling (map-side, inside
    * the same projection — no extra pass); pass [[normalizeText]] for
    * the published lowercase/punctuation/whitespace normalization so a
    * case-mangled eval prompt still flags. Default identity = raw
    * text, byte-exact matching. */
  def decontaminate(corpus: DataFrame, id: String, text: String,
                    benchmark: DataFrame, benchId: String, benchText: String,
                    n: Int = 8, minOverlap: Double = 0.5,
                    normalize: Column => Column = identity): DataFrame =
    decontaminateBy(corpus, id, benchmark, benchId,
      shingleHashes(normalize(col(text)), n),
      shingleHashes(normalize(col(benchText)), n), minOverlap)

  /** Word-n-gram variant of [[decontaminate]] — the published
    * decontamination recipes threshold WORD n-gram overlap (13-grams
    * in the GPT-3-era writeups; lower n tightens). Same scale shape;
    * shingles are hashed word n-grams of the whitespace tokens. */
  def decontaminateByTokens(corpus: DataFrame, id: String, text: String,
                            benchmark: DataFrame, benchId: String, benchText: String,
                            n: Int = 13, minOverlap: Double = 0.5,
                            normalize: Column => Column = identity): DataFrame =
    decontaminateBy(corpus, id, benchmark, benchId,
      tokenShingleHashes(normalize(col(text)), n),
      tokenShingleHashes(normalize(col(benchText)), n), minOverlap)

  /** Contamination AUDIT — the report twin of [[decontaminate]]: per
    * BENCHMARK document, how many corpus docs sit at or above the
    * overlap threshold and the worst overlap seen — what an eval owner
    * reads as "which tasks leak into the training set, and how badly".
    * Same narrow shingle-hash join and per-(corpus doc, bench doc)
    * overlap as the filter form (char n-grams, |C∩B|/|C|, no
    * cross-bench pooling), aggregated per bench id instead of
    * anti-joined; bench docs with no flagged match report (0, 0.0) via
    * the benchmark left-join re-attach — no task is silently missing
    * from the report. Output: (`benchId`, n_contaminated,
    * max_overlap rounded 6), one row per benchmark doc. */
  def contaminationReport(corpus: DataFrame, id: String, text: String,
                          benchmark: DataFrame, benchId: String,
                          benchText: String, n: Int = 8,
                          minOverlap: Double = 0.5,
                          normalize: Column => Column = identity): DataFrame = {
    val per = overlapTable(corpus, id, benchmark, benchId,
        shingleHashes(normalize(col(text)), n),
        shingleHashes(normalize(col(benchText)), n))
      .where(col("__ov") >= minOverlap)
      .groupBy(col("__bid"))
      .agg(count(lit(1)).as("n_contaminated"), max(col("__ov")).as("__mx"))
    benchmark.select(col(benchId))
      .join(per.withColumnRenamed("__bid", benchId), Seq(benchId), "left")
      .select(col(benchId),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("__mx"), lit(0.0)), 6).as("max_overlap"))
  }

  /** The published "ANY shared n-gram" decontamination rule (the
    * GPT-3 / PaLM 13-gram recipe): drop a document if any of its word
    * n-grams appears anywhere in the benchmark — stricter than the
    * overlap-fraction rule and CHEAPER: the benchmark's distinct gram
    * hashes form one slim set (eval-suite-small → AQE broadcasts the
    * semi-join build side), corpus grams semi-join it with no
    * per-(doc, bench-doc) counting at all, and flagged ids anti-join
    * back. Same inline-kernel discipline as [[decontaminateBy]] (an
    * aliased generator child re-runs the kernel 3×). Collisions: a
    * 64-bit hash match stands in for gram equality, as everywhere in
    * the shingle family (~2^-64 per pair — the overlap-fraction APIs
    * share the convention). */
  def decontaminateAnyNgram(corpus: DataFrame, id: String, text: String,
                            benchmark: DataFrame, benchText: String,
                            n: Int = 13,
                            normalize: Column => Column = identity): DataFrame = {
    val benchGrams = benchmark
      .select(explode(tokenShingleHashes(normalize(col(benchText)), n)).as("__h"))
      .distinct()
    val contaminated = corpus
      .select(col(id), explode(tokenShingleHashes(normalize(col(text)), n)).as("__h"))
      .join(benchGrams, Seq("__h"), "left_semi")
      .select(col(id)).distinct()
    corpus.join(contaminated, Seq(id), "left_anti")
  }

  /** Shared decontamination kernel over any distinct shingle-hash
    * array expressions (evaluated against the corpus / benchmark rows
    * respectively). Overlap is per (corpus doc, SINGLE bench doc) —
    * matches against different bench docs never pool. See
    * [[decontaminate]] for the scale analysis. */
  private def decontaminateBy(corpus: DataFrame, id: String,
                              benchmark: DataFrame, benchId: String,
                              cSh: Column, bSh: Column, minOverlap: Double): DataFrame = {
    val flagged = overlapTable(corpus, id, benchmark, benchId, cSh, bSh)
      .where(col("__ov") >= minOverlap)
      .select(col("__cid")).distinct()
    corpus.join(flagged, col(id) === col("__cid"), "left_anti")
  }

  /** Per-(corpus doc, bench doc) shingle-overlap table — the shared
    * core of [[decontaminateBy]] (filter) and [[contaminationReport]]
    * (audit): (`__cid`, `__bid`, `__ov` = |C∩B|/|C|), one row per
    * matched pair; matches against different bench docs never pool.
    *
    * The shingle expression is deliberately INLINE in both the explode
    * and the size projection (two evaluations per corpus row). The
    * tempting alias-once form — select(id, cSh.as("__arr")) then
    * size/explode of the attribute — measures ~2x SLOWER: with an
    * attribute as the generator child, InferFiltersFromGenerate adds
    * `size(__arr) > 0 AND isnotnull(__arr)` and pushdown substitutes
    * the alias back through the projection, so the kernel runs THREE
    * times per row (filter x2 + project). Inline, that rule skips
    * non-cheap generator children and each side evaluates exactly
    * once per use. (Verified against the physical plan; see the
    * round-5 bench.) */
  private def overlapTable(corpus: DataFrame, id: String,
                           benchmark: DataFrame, benchId: String,
                           cSh: Column, bSh: Column): DataFrame = {
    val c = corpus.select(col(id).as("__cid"), explode(cSh).as("__h"))
    val sizes = corpus.select(col(id).as("__cid"), size(cSh).cast("long").as("__n"))
    val b = benchmark.select(col(benchId).as("__bid"), explode(bSh).as("__h"))
    c.join(b, "__h")
      .groupBy(col("__cid"), col("__bid")).agg(count(lit(1)).as("__m"))
      .join(sizes, "__cid")
      .select(col("__cid"), col("__bid"),
        (col("__m").cast("double") / col("__n")).as("__ov"))
  }

  /** Corpus-wide repeated-block removal — the fixed-window form of
    * exact substring deduplication from the published training-data
    * dedup recipes (suffix-array substring dedup, approximated at
    * whole-block granularity so it distributes as plain aggregation):
    * split each document's space-separated tokens into consecutive
    * `blockTokens`-token blocks, count identical blocks across the
    * WHOLE corpus, delete every occurrence of any block appearing
    * >= `minRepeats` times, and reassemble the survivors in order.
    * Every document survives (possibly with empty text), so the op
    * composes with downstream per-doc stages. Idempotent: removal
    * only lowers the counts of the remaining (unchanged) blocks.
    *
    * Scale shape: blocks explode to (id, pos, block) rows map-side in
    * each consuming stage (three passes over the corpus scan — split +
    * slice is cheap columnar work, and recomputing beats materializing
    * a corpus-sized exploded intermediate at 100 TB). The
    * corpus-wide count aggregates on xxhash64(block) — an 8-byte
    * shuffle key with map-side partial aggregation — and only rows
    * whose HASH repeats are re-checked by string equality (semi-join
    * + exact count), so a 64-bit collision can never delete an
    * innocent block. Only the anti-join back and the per-document
    * reassembly shuffle block text; the exact-recount step also
    * touches block text, but only for the hash-repeated population
    * (rows surviving the 8-byte-key semi-join — on a typical corpus a
    * small fraction; on a pathologically repetitive one it approaches
    * the boilerplate volume itself, which is exactly the data that
    * must be compared byte-wise anyway). The anti-join's build side is
    * the boilerplate set (small; AQE broadcasts it when it fits).
    * A (second-hash, length) prefilter before the exact recount was
    * probed and REJECTED (RecountProbe@afd7ec7, sf0.1, ABBA: 0.95 vs
    * 0.60 s min — 59% slower): hash-repeated rows are true repeats at
    * ~(1 - 2^-64), so the narrow stage eliminates nothing and only
    * adds its own shuffle; it could pay off only under a 64-bit
    * collision flood no real corpus reaches.
    *
    * PRECONDITION: `id` must be unique (as with the LSH pair APIs) —
    * duplicate ids double-count a document's own blocks toward
    * `minRepeats` and fan out the final reassembly join. Run exact
    * dedup / [[graft.operators.Grouping]] distinctBy first on dirty
    * inputs.
    *
    * Reference: whole-element distinct is core.clj:1741-1756; this
    * extends dedup below document granularity. */
  def stripRepeatedBlocks(df: DataFrame, id: String, text: String,
                          blockTokens: Int = 10, minRepeats: Int = 2,
                          offsets: Seq[Int] = Seq(0)): DataFrame = {
    require(blockTokens >= 1, s"blockTokens must be >= 1, got $blockTokens")
    require(minRepeats >= 2, s"minRepeats must be >= 2, got $minRepeats")
    require(offsets.nonEmpty && offsets.forall(o => o >= 0 && o < blockTokens) &&
      offsets.distinct == offsets,
      s"offsets must be distinct values in [0, blockTokens), got $offsets")
    // Phase-aligned carving misses a repeated run that straddles a
    // block boundary (a run aligned at offset 5 never produces the
    // same block as its offset-0 twin). Each extra offset runs one
    // more full pass with blocks carved from that token offset — the
    // published boundary fix is a second pass at blockTokens/2.
    // Measured at sf0.1 (StrideProbe@afd7ec7): phase-0 alone deletes
    // 95.3% of the tokens covered by corpus-repeated SLIDING windows;
    // adding the half-stride pass closes the gap (the slight >100% is
    // the trailing-partial-block semantics both passes share).
    //
    // Each pass consumes its input ~5x (the units view three times,
    // the head-stub union, and the reassembly join), so chaining
    // passes over raw lineage recomputes the whole upstream plan per
    // consumer. Later passes therefore checkpoint their input — lazily,
    // so materialization folds into the pass's first aggregate
    // (measured at sf0.1 by StrideTimeProbe@afd7ec7: 2.95 -> 2.30 s
    // warm, 7.5 -> 3.4 s cold). Blocks are graft-tagged: sweep with
    // [[releaseMaterialized]] in long-lived sessions, and set a
    // checkpoint dir on a real cluster for reliable (non-executor-
    // memory) materialization.
    offsets.zipWithIndex.foldLeft(df) { case (d, (off, i)) =>
      stripAlignedPass(if (i == 0) d else materializeLazily(d),
        id, text, blockTokens, minRepeats, off)
    }
  }

  /** One aligned strip pass with blocks carved from token offset
    * `off`: tokens [1..off] form a head stub that is never counted and
    * never deleted (it is shorter than a block and would spuriously
    * match other stubs); blocks cover [off+1..]. See
    * [[stripRepeatedBlocks]] for the scale analysis. */
  private def stripAlignedPass(df: DataFrame, id: String, text: String,
                               b: Int, minRepeats: Int, off: Int): DataFrame = {
    val toks = split(col(text), " ")
    val tail = greatest(size(toks) - off, lit(0))
    val nBlocks = call_function("div", tail + lit(b - 1), lit(b))
    // Block carving rides the plans.SpaceBlocks kernel (one byte scan;
    // blocks are raw substrings between token boundaries): the earlier
    // columnar transform captured the computed `toks` split inside its
    // lambda, and interpreted HOFs re-evaluate captured children per
    // element — one full re-split per BLOCK, O(len²/b) per doc (the
    // r13 winnowSet mechanism; kernel equality spec'd in DedupSpec).
    // Stays INLINE in the explode — aliasing a generator child
    // re-evaluates it 3x (see decontaminateBy). The off>0 guard below
    // mirrors the old sequence(0,-1) protection for docs shorter than
    // the offset; off=0 always has >= 1 block (split("") is [""]).
    val carved = {
      import org.apache.spark.sql.graft.Bridge
      Bridge.column(graft.plans.SpaceBlocks(
        Bridge.expression(col(text)), b, off))
    }
    val blocksArr =
      if (off == 0) carved
      else when(nBlocks > lit(0L), carved).otherwise(array().cast("array<string>"))
    val units = df
      .select(col(id).as("__id"), posexplode(blocksArr).as(Seq("__pos", "__blk")))
      .withColumn("__h", xxhash64(col("__blk")))
    val repHash = units.groupBy("__h").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minRepeats).select("__h")
    val repBlk = units.join(repHash, Seq("__h"), "left_semi")
      .groupBy("__h", "__blk").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minRepeats).select("__h", "__blk")
    val kept = units.join(repBlk, Seq("__h", "__blk"), "left_anti")
      .select(col("__id"), col("__pos"), col("__blk"))
    val withStub =
      if (off == 0) kept
      else kept.union(df.select(col(id).as("__id"), lit(-1).as("__pos"),
        array_join(slice(toks, 1, off), " ").as("__blk")))
    val rebuilt = withStub
      .groupBy("__id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__blk")))),
        s => s.getField("__blk")), " ").as("__text"))
    df.join(rebuilt, col(id) === col("__id"), "left")
      .withColumn(text, coalesce(col("__text"), lit("")))
      .drop("__id", "__text")
  }

  /** WITHIN-document line dedup — the published web-curation rule that
    * complements [[stripRepeatedLines]]' corpus-wide counts: inside
    * each document, keep only the FIRST occurrence of every line
    * (matched on its `normalize`d form; the kept line is the original
    * first-occurrence text) and drop later repeats, preserving order.
    * Use for boilerplate that repeats within a page (nav fragments,
    * cookie banners repeated per section) without any corpus-global
    * state.
    *
    * Scale shape: fully per-document — lines explode to narrow
    * (id, pos, line) rows; first-occurrence selection is a
    * min-struct aggregate on (id, key) and reassembly groups on id,
    * both partial-aggregated, no corpus-wide key ever shuffles.
    *
    * `delimiter` as in [[stripRepeatedLines]]: a regex for splitting,
    * a literal for reassembly ("\n\n" dedups paragraphs). */
  def dedupLinesWithinDoc(df: DataFrame, id: String, text: String,
                          normalize: Column => Column = identity,
                          delimiter: String = "\n"): DataFrame = {
    val units = df
      .select(col(id).as("__id"),
        posexplode(split(col(text), delimiter)).as(Seq("__pos", "__ln")))
      .withColumn("__k", normalize(col("__ln")))
    // min over (pos, line) structs = the first occurrence's row (pos
    // is unique within a doc, so the line tiebreak never fires)
    val firsts = units.groupBy("__id", "__k")
      .agg(min(struct(col("__pos"), col("__ln"))).as("__f"))
      .select(col("__id"), col("__f.__pos").as("__pos"), col("__f.__ln").as("__ln"))
    val rebuilt = firsts.groupBy("__id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__ln")))),
        s => s.getField("__ln")), delimiter).as("__text"))
    df.join(rebuilt, col(id) === col("__id"), "left")
      .withColumn(text, coalesce(col("__text"), lit("")))
      .drop("__id", "__text")
  }

  /** Span-level decontamination: REMOVE the contaminated lines and
    * keep the document remainder, instead of dropping whole documents
    * like [[decontaminate]] — the span-removal variant some published
    * pipelines run so a page quoting one eval prompt keeps its other
    * content. A corpus line is contaminated when its `normalize`d form
    * equals the normalized form of ANY line of any benchmark document
    * (exact line match — the conservative span unit; pair with
    * [[decontaminate]]'s n-gram overlap for fuzzy whole-doc flags).
    * Empty normalized lines never match (a blank line in an eval file
    * must not delete every blank line in the corpus). Every document
    * survives, possibly emptied; line order is preserved.
    *
    * Scale shape: corpus lines explode to narrow (id, pos, line) rows
    * map-side; the benchmark's distinct normalized line set is small
    * by nature (an eval suite) so the anti-join broadcasts it — no
    * corpus shuffle at all until the per-document positional
    * reassembly, the one unavoidable wide-text exchange (same as
    * [[stripRepeatedLines]]). */
  def removeContaminatedSpans(corpus: DataFrame, id: String, text: String,
                              benchmark: DataFrame, benchText: String,
                              normalize: Column => Column = normalizeText): DataFrame = {
    val units = corpus
      .select(col(id).as("__id"), posexplode(split(col(text), "\n")).as(Seq("__pos", "__ln")))
      .withColumn("__k", normalize(col("__ln")))
    val benchKeys = benchmark
      .select(explode(split(col(benchText), "\n")).as("__bln"))
      .select(normalize(col("__bln")).as("__k"))
      .where(length(col("__k")) > 0)
      .distinct()
    val rebuilt = units.join(benchKeys, Seq("__k"), "left_anti")
      .groupBy("__id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__ln")))),
        s => s.getField("__ln")), "\n").as("__text"))
    corpus.join(rebuilt, col(id) === col("__id"), "left")
      .withColumn(text, coalesce(col("__text"), lit("")))
      .drop("__id", "__text")
  }

  /** Corpus-wide repeated-LINE removal — the exact line-dedup recipe
    * from the published web-curation pipelines (C4 dropped any line
    * appearing three-plus times in the corpus; RefinedWeb and friends
    * run the same rule with their own thresholds): split each document
    * on `\n`, count lines across the WHOLE corpus on a normalized key,
    * delete every occurrence of any line whose normalized form appears
    * >= `minRepeats` times, and reassemble the surviving ORIGINAL
    * lines in order. Every document survives (possibly with empty
    * text), so the op composes with downstream per-doc stages.
    * Idempotent: removal only lowers the counts of remaining lines.
    *
    * `normalize` maps a line to its counting key (default identity =
    * byte-exact lines); pass [[normalizeText]] for the published
    * lowercase/punctuation/whitespace normalization so a case-variant
    * of boilerplate still counts toward the same key. The ORIGINAL
    * line text is what's kept or dropped — normalization only affects
    * matching.
    *
    * Scale shape: identical to [[stripRepeatedBlocks]] — the
    * corpus-wide count aggregates on xxhash64(key) (8-byte shuffle
    * key, map-side partials); only hash-repeated rows are re-checked
    * by key equality (a 64-bit collision can never delete an innocent
    * line, and that recount's text shuffle is bounded by the
    * hash-repeated population); the anti-join build side is the
    * boilerplate line set (small; AQE broadcasts it); per-document
    * reassembly is the one unavoidable wide-text shuffle.
    *
    * PRECONDITION: `id` must be unique — duplicate ids double-count a
    * document's own lines toward `minRepeats` and fan out the final
    * reassembly join.
    *
    * `delimiter` is a REGEX for splitting and a literal for
    * reassembly: the default "\n" dedups lines; "\n\n" dedups
    * paragraphs (blank-line separated). */
  /** Content-defined chunking (CDC): split text at positions where
    * the `window`-char rolling polynomial hash hits 0 mod `modulus` —
    * boundaries depend only on LOCAL content, so an insertion or
    * deletion shifts chunk boundaries only until the next content cut
    * (spec-asserted), where fixed-window carving
    * ([[stripRepeatedBlocks]]) re-phases EVERY downstream block (its
    * `offsets` half-stride passes are the partial fix; CDC is the
    * full one, at the cost of variable chunk sizes ≈ `modulus` chars
    * on average). The storage-dedup recipe (LBFS/Rabin, restic/borg)
    * applied to corpus text.
    *
    * The window hash is the [[graft.functions.TextFunctions
    * .fingerprint]] polynomial (`fold (acc·31 + codepoint) mod
    * 1e9+7`) over the `window` chars ending at each position — pure
    * integer arithmetic an oracle replays EXACTLY, so (unlike the
    * xx/md5 twin pattern) ONE implementation serves production and
    * differential testing. Cut positions come from the
    * [[graft.plans.CdcCuts]] codegen kernel (one O(len) rolling pass
    * per row; see its Scaladoc for the rejected columnar and md5
    * probes); chunk slicing is columnar on the cut array, no explode
    * until the chunk rows emit, no shuffle.
    * Output: (`id`, chunk_id 1-based, chunk); chunks concatenate back
    * to the input (spec-asserted). Empty AND null docs emit one
    * empty chunk — no row is silently lost (a null text would
    * otherwise null through the kernel and vanish at the explode). */
  def cdcChunks(df: DataFrame, id: String, text: String,
                window: Int = 8, modulus: Int = 64): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val t = coalesce(col(text), lit(""))
    val withCuts = df.withColumn("__cuts",
      Bridge.column(graft.plans.CdcCuts(Bridge.expression(t), window, modulus)))
    val starts = concat(array(lit(0)),
      slice(col("__cuts"), lit(1), greatest(size(col("__cuts")) - 1, lit(0))))
    val chunks = zip_with(starts, col("__cuts"), (s, e) => t.substr(s + 1, e - s))
    withCuts.select(col(id), posexplode(chunks).as(Seq("__cpos", "chunk")))
      .select(col(id), (col("__cpos") + 1).cast("long").as("chunk_id"),
        col("chunk"))
  }

  /** CDC-based repeated-chunk strip — [[stripRepeatedBlocks]]'s
    * contract with SHIFT-ROBUST boundaries: chunks whose text repeats
    * ≥ `minRepeats` times corpus-wide are deleted and each document
    * reassembles from its kept chunks (CDC slices concatenate back
    * losslessly, so no separator guessing). Same collision-safe count
    * shape as the block strip: corpus counts aggregate on the 8-byte
    * xxhash64 chunk key (map-side partials), only hash-repeated
    * chunks are re-counted by exact text, and the reassembly is the
    * one wide-text shuffle. All input rows survive (a doc whose every
    * chunk drops keeps an empty `text`), other columns pass through.
    * NOT idempotent by design: re-chunking the stripped text computes
    * fresh boundaries (document if chaining passes). Unlike the
    * aligned-block strip, a one-token insertion upstream of a
    * repeated run cannot hide the run from the counter — the cuts
    * re-synchronize at the next content boundary ([[cdcChunks]]'s
    * spec-asserted property), which is what the `offsets` half-stride
    * passes only approximate. */
  def stripRepeatedCdcChunks(df: DataFrame, id: String, text: String,
                             window: Int = 8, modulus: Int = 64,
                             minRepeats: Int = 2): DataFrame = {
    require(minRepeats >= 2, s"minRepeats must be >= 2, got $minRepeats")
    val chunks = cdcChunks(df, id, text, window, modulus)
    val nonEmpty = chunks.where(length(col("chunk")) > 0)
    val repeatedHashes = nonEmpty.select(xxhash64(col("chunk")).as("__h"))
      .groupBy("__h").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minRepeats)
      .select("__h")
    val boilerplate = nonEmpty.withColumn("__h", xxhash64(col("chunk")))
      .join(repeatedHashes, Seq("__h"), "left_semi")
      .groupBy(col("chunk")).agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minRepeats)
      .select(col("chunk"))
    val keptText = chunks.join(boilerplate, Seq("chunk"), "left_anti")
      .groupBy(col(id))
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("chunk_id").as("i"), col("chunk").as("c")))),
        s => s.getField("c"))).as(text))
    df.drop(text).join(keptText, Seq(id), "left")
      .withColumn(text, coalesce(col(text), lit("")))
  }

  /** Corpus-wide duplicated-CDC-chunk report over a [[cdcChunks]]
    * output: chunks (keyed by md5 of the text — a 16-byte shuffle key,
    * the text itself never shuffles past the map-side partial)
    * appearing in ≥ `minDocs` distinct documents, with occurrence
    * counts — the audit that sizes a CDC-based strip before running
    * it. Empty chunks (empty docs) are excluded. */
  def cdcDupChunks(chunks: DataFrame, id: String, minDocs: Int = 2): DataFrame =
    chunks.where(length(col("chunk")) > 0)
      .groupBy(md5(col("chunk")).as("chunk_hash"))
      .agg(countDistinct(col(id)).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .where(col("n_docs") >= minDocs)

  def stripRepeatedLines(df: DataFrame, id: String, text: String,
                         minRepeats: Int = 2,
                         normalize: Column => Column = identity,
                         delimiter: String = "\n"): DataFrame = {
    require(minRepeats >= 2, s"minRepeats must be >= 2, got $minRepeats")
    val units = df
      .select(col(id).as("__id"),
        posexplode(split(col(text), delimiter)).as(Seq("__pos", "__ln")))
      .withColumn("__k", normalize(col("__ln")))
      .withColumn("__h", xxhash64(col("__k")))
    val repHash = units.groupBy("__h").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minRepeats).select("__h")
    val repKey = units.join(repHash, Seq("__h"), "left_semi")
      .groupBy("__h", "__k").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minRepeats).select("__h", "__k")
    val rebuilt = units.join(repKey, Seq("__h", "__k"), "left_anti")
      .groupBy("__id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__ln")))),
        s => s.getField("__ln")), delimiter).as("__text"))
    df.join(rebuilt, col(id) === col("__id"), "left")
      .withColumn(text, coalesce(col("__text"), lit("")))
      .drop("__id", "__text")
  }

  // ------------------------------------------------------------------
  // MinHash + LSH (the scale path for near-dup at 100 TB)
  // ------------------------------------------------------------------

  /** MinHash signature (k values) by ONE-PERMUTATION HASHING: each
    * shingle is hashed once — h = xxhash64(shingle), g = xxhash64(h,
    * seed) — then routed to bin pmod(g, k); position j of the
    * signature is the min g in bin j, and empty bins copy the nearest
    * non-empty bin at or after j (rightward cyclic rotation
    * densification). O(m) hash work per document instead of the k·m of
    * the retired k-permutation scheme. ANSI-safe: no long arithmetic
    * that can overflow. Returns array<bigint> of length k.
    *
    * NOTE: this expression form scans the hash array once per bin —
    * fine for ad-hoc use on short arrays. The scale paths are
    * [[minhashSignaturesFused]] (string n-grams, one-pass kernel) and
    * [[minhashSignatures]] (generic arrays, explode + agg). All three
    * produce bit-identical signatures (DedupSpec). */
  def minhashSignature(shingleArr: Column, k: Int, seed: Long = 42L): Column = {
    val g = transform(shingleArr, s => xxhash64(xxhash64(s), lit(seed)))
    val binned = transform(sequence(lit(0), lit(k - 1)),
      j => array_min(filter(g, x => pmod(x, lit(k.toLong)) === j.cast("long"))))
    densifySignature(binned, k)
  }

  /** Rotation densification over a k-length array with nulls at empty
    * bins: position j takes the first non-null at or after j, scanning
    * rightward cyclically — the doubled-array slice makes the wrap a
    * plain linear scan. Shared by both composable signature forms;
    * must stay bit-identical to the fused kernel's densify pass. */
  private def densifySignature(binned: Column, k: Int): Column = {
    val doubled = concat(binned, binned)
    // try_element_at: an all-null bin array (empty shingle input, only
    // reachable through the ad-hoc form) yields nulls, not an ANSI
    // out-of-bounds error
    transform(sequence(lit(1), lit(k)),
      j => try_element_at(filter(slice(doubled, j, lit(k)), x => x.isNotNull), lit(1)))
  }

  /** Fastest path for char n-grams of a string column: the one-pass
    * custom expression (graft.plans.MinHashSignature) — no substring
    * materialization, no explode, no shuffle; bit-identical signatures
    * to [[minhashSignatures]]. */
  def minhashSignaturesFused(df: DataFrame, id: String, text: Column,
                             n: Int, k: Int, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    df.select(col(id).as("__id"),
      Bridge.column(graft.plans.MinHashSignature(Bridge.expression(text), n, k, seed)).as("__sig"))
  }

  /** Generic scale-path MinHash over any shingle array (one-permutation
    * hashing, same bit contract as [[minhashSignature]] and the fused
    * expression): one row per (id, shingle), hashed once and routed to
    * its bin, then a single `min` aggregate per (id, bin) — partial
    * (map-side) aggregation applies and the hash work is O(m) per doc,
    * not k·m. The k-array assembly + densification is a narrow
    * per-id projection. Returns (id, sig array<bigint>). */
  def minhashSignatures(df: DataFrame, id: String, shingleArr: Column,
                        k: Int, seed: Long = 42L): DataFrame = {
    val exploded = df.select(col(id).as("__id"), explode(shingleArr).as("__sh"))
      .select(col("__id"), xxhash64(xxhash64(col("__sh")), lit(seed)).as("__g"))
    exploded
      .groupBy(col("__id"), pmod(col("__g"), lit(k.toLong)).as("__bin"))
      .agg(min(col("__g")).as("__mn"))
      .groupBy(col("__id"))
      .agg(map_from_entries(collect_list(struct(col("__bin"), col("__mn")))).as("__m"))
      .select(col("__id"), densifySignature(
        transform(sequence(lit(0), lit(k - 1)),
          j => try_element_at(col("__m"), j.cast("long"))), k).as("__sig"))
  }

  /** LSH banding: signature of length k split into `bands` bands of
    * k/bands rows each; band identity = (band index, hash of the band
    * slice). Two docs collide in a band iff that slice is identical.
    * The slice array is hashed directly (xxhash64 folds array elements
    * natively) — an earlier concat_ws form built a ~160-char string
    * per band per doc and showed up as the top cost of the banded
    * self-join at sf0.1. */
  def lshBands(sig: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), xxhash64(slice(sig, b * lit(r) + 1, lit(r))).as("bh")))
  }

  /** Canonical-URL dedup — the first stage of the published
    * web-curation recipes (see
    * [[graft.functions.TextFunctions.canonicalizeUrl]]): keep ONE row
    * per canonical form of `url`, deterministically the row with the
    * smallest `id` (full-struct compare breaks id ties), and report
    * how many variants collapsed into it. Output: `canonical_url`,
    * `n_variants`, then every original column of the kept row.
    *
    * Scale shape: a single shuffle on the canonical key with map-side
    * partial `min`/`count` — a viral URL repeated across the crawl
    * partially aggregates before the exchange, so key skew never
    * concentrates raw rows. `id` must be non-null and orderable. */
  def dedupByCanonicalUrl(df: DataFrame, url: String, id: String): DataFrame = {
    val rowStruct = struct(df.columns.map(col): _*)
    df.groupBy(graft.functions.TextFunctions.canonicalizeUrl(col(url))
        .as("canonical_url"))
      .agg(count(lit(1)).as("n_variants"),
        min(struct(col(id).as("__k"), rowStruct.as("__row"))).as("__best"))
      .select(col("canonical_url"), col("n_variants"), col("__best.__row.*"))
  }

  /** Incremental (cross-snapshot) exact dedup — the recurring-crawl
    * stage: drop every corpus row whose `text` already appears in a
    * previously-retained `snapshot`, so each new crawl only contributes
    * unseen content. Result is EXACT (same rows as a text-equality
    * anti-join): hash matches are re-checked by string equality, so a
    * 64-bit collision can never drop an innocent document.
    *
    * Scale shape (the corpus and the snapshot may both be huge):
    *  1. both sides reduce to narrow 8-byte `xxhash64(text)` keys; the
    *     only corpus-wide exchange is the hash semi-join (16 bytes/row);
    *  2. full text is re-read (second scan — recomputation over
    *     materialization, as in [[stripRepeatedBlocks]]) ONLY for rows
    *     whose hash intersects the other side, so text shuffle is
    *     bounded by the cross-snapshot duplicate population, and those
    *     small sides broadcast under AQE;
    *  3. optionally, a Bloom filter over the snapshot hash set
    *     (`bloomExpectedItems` > 0 enables, sized for that many
    *     distinct hashes at `bloomFpp`; < 0 auto-sizes from the
    *     snapshot's distinct-hash count — one extra cheap job, right
    *     whenever the caller can't bound the snapshot; 0 disables) is
    *     broadcast as a codegen'd
    *     probe ([[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]],
    *     not a UDF) so corpus rows that cannot match never enter the
    *     hash exchange at all — the win when the corpus dwarfs the
    *     snapshot. No false negatives → the result is unchanged.
    *
    * Precondition (as for the LSH pair APIs): `id` values are unique —
    * the final keep-set is applied by an `id` anti-join, so a
    * duplicated id would drop every row sharing it. */
  def dedupAgainstSnapshot(df: DataFrame, id: String, text: String,
                           snapshot: DataFrame, snapshotText: String,
                           bloomExpectedItems: Long = 0L,
                           bloomFpp: Double = 0.03): DataFrame = {
    val snapHashes = snapshot
      .select(xxhash64(col(snapshotText)).as("__sh")).distinct()
    val corpusKeys0 = df.select(col(id).as("__cid"), xxhash64(col(text)).as("__h"))
    val corpusKeys =
      if (bloomExpectedItems != 0L) {
        // auto-size (< 0): one cheap count job over the hash projection
        // sizes the filter to the snapshot's true distinct-hash count —
        // a fixed guess embeds a bloom literal proportional to the
        // GUESS in every task (1M expected ≈ 0.9 MB serialized even
        // for a 256-row snapshot)
        val expected =
          if (bloomExpectedItems > 0L) bloomExpectedItems
          else math.max(snapHashes.count(), 1L)
        val bloom = snapHashes.stat.bloomFilter("__sh", expected, bloomFpp)
        val bytes = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bytes)
        import org.apache.spark.sql.graft.Bridge
        val might = Bridge.column(
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
            Bridge.expression(lit(bytes.toByteArray)),
            Bridge.expression(col("__h"))))
        corpusKeys0.where(might)
      } else corpusKeys0
    // Narrow hash-only exchanges: which corpus rows / snapshot hashes
    // might have a partner on the other side.
    val suspectIds = corpusKeys
      .join(snapHashes, col("__h") === col("__sh"), "left_semi")
      .select(col("__cid"))
    val snapSuspectHashes = snapHashes
      .join(corpusKeys.select(col("__h")), col("__sh") === col("__h"), "left_semi")
    // Fetch text only for the suspect populations (both small by
    // contract: true cross-snapshot dups + ~0 hash collisions).
    val suspectRows = df
      .join(suspectIds.withColumnRenamed("__cid", id), Seq(id), "left_semi")
      .select(col(id).as("__cid"), col(text).as("__ct"),
        xxhash64(col(text)).as("__h"))
    val snapSuspects = snapshot
      .select(col(snapshotText).as("__st"), xxhash64(col(snapshotText)).as("__sh2"))
      .join(snapSuspectHashes, col("__sh2") === col("__sh"), "left_semi")
    val confirmed = suspectRows
      .join(snapSuspects, col("__h") === col("__sh2"))
      .where(col("__ct") === col("__st"))
      .select(col("__cid")).distinct()
    df.join(confirmed.withColumnRenamed("__cid", id), Seq(id), "left_anti")
  }

  /** Streaming twin of [[dedupAgainstSnapshot]] — the recurring-crawl
    * INGEST path: drop stream rows whose text already appears in the
    * static retained snapshot, as they arrive. The snapshot folds to a
    * narrow distinct-hash set and the stream left-anti-joins it on
    * xxhash64(text) — stream-static left-anti is STATELESS (no
    * watermark, no state store; the static side is re-planned per
    * micro-batch, so persist the hash projection — or point this at a
    * pre-materialized hash table — on a real cluster). Differs from
    * the batch form in one documented way: 64-bit hash equality stands
    * in for the exact text re-check (a stream row cannot cheaply
    * re-join its own text), so a 2^-64 collision could drop an
    * innocent row — acceptable on an ingest filter; run the exact
    * batch form on the retained output when exactness matters. */
  def streamingDedupAgainstSnapshot(stream: DataFrame, text: String,
                                    snapshot: DataFrame,
                                    snapshotText: String): DataFrame =
    stream.join(
      snapshot.select(xxhash64(col(snapshotText)).as("__snap_h")).distinct(),
      xxhash64(col(text)) === col("__snap_h"), "left_anti")

  /** Narrow MinHash-LSH band table of a corpus — the artifact a
    * recurring-crawl pipeline PERSISTS at snapshot time: one
    * (`id`, band, bh) row per doc-band (8-byte hash key; no text, no
    * wide signature arrays), so the NEXT crawl's near-dup screen
    * against this snapshot is a plain equi-join on (band, bh) instead
    * of any re-scan of snapshot text. Write with
    * `GraftIO.writeParquet(..., partitionBy = Seq("band"))` so a
    * probe of one band prunes to its own files. The same
    * (n, k, bands, seed) MUST be used when banding the new crawl —
    * [[nearDupPairsAgainstSnapshot]] recomputes this exact table for
    * the incoming side. */
  def minhashBandTable(df: DataFrame, id: String, text: String,
                       n: Int = 5, k: Int = 128, bands: Int = 16,
                       seed: Long = 42L): DataFrame =
    minhashSignaturesFused(df, id, col(text), n, k, seed)
      .select(col("__id").as(id),
        explode(lshBands(col("__sig"), k, bands)).as("__b"))
      .select(col(id), col("__b.band").as("band"), col("__b.bh").as("bh"))

  /** Streaming NEAR-dup ingest filter against a persisted snapshot
    * band table — the streaming tier of the recurring-crawl recipe
    * ([[dedupNearDupsAgainstSnapshot]] is the exact-verified batch
    * form, [[streamingDedupAgainstSnapshot]] the exact-text streaming
    * tier). A stream row cannot re-group or self-join, so the drop
    * decision must be a PER-ROW expression: the snapshot's (band, bh)
    * keys fold into a driver-built Bloom filter (auto-sized from the
    * distinct band-key count), and a row drops when ANY of its bands
    * might be present. Fully STATELESS — no watermark, no state
    * store, no stream-side shuffle; the bloom rides the plan as a
    * literal probed by the codegen'd `might_contain`, and the
    * signature is the fused MinHash kernel, so ingest cost is one
    * projection per row at any snapshot size.
    *
    * Documented PRE-FILTER semantics: false positives = LSH banding
    * FPs (≈ 1-(1-J^r)^b at similarity J) plus `fpp` per band from
    * the bloom — run the exact batch verify on the retained output
    * when precision matters; false negatives = banding misses only
    * (the bloom adds none). `snapshotBands` must come from
    * [[minhashBandTable]] with the SAME (n, k, bands, seed). Works
    * identically on batch frames (same plan, spec-asserted). */
  def streamingNearDupFilterAgainstBands(stream: DataFrame, text: String,
                                         snapshotBands: DataFrame,
                                         n: Int = 5, k: Int = 128,
                                         bands: Int = 16, seed: Long = 42L,
                                         fpp: Double = 0.03): DataFrame =
    streamingNearDupFilterWithBloom(stream, text,
      buildBandBloom(snapshotBands, fpp), n, k, bands, seed)

  /** Build the band-key Bloom filter [[streamingNearDupFilterAgainstBands]]
    * probes, serialized — persist it next to the band table
    * ([[graft.sources.GraftIO.writeBytes]]) so an ingest job RESTART
    * loads bytes instead of re-running the distinct + bloom-build jobs
    * over the band table. Auto-sized from the distinct band-key
    * count. */
  def buildBandBloom(snapshotBands: DataFrame, fpp: Double = 0.03): Array[Byte] = {
    val keys = snapshotBands
      .select(xxhash64(col("band"), col("bh")).as("__bk")).distinct()
    val expected = math.max(keys.count(), 1L)
    val bloom = keys.stat.bloomFilter("__bk", expected, fpp)
    val bytes = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bytes)
    bytes.toByteArray
  }

  /** [[streamingNearDupFilterAgainstBands]] with a PREBUILT bloom
    * ([[buildBandBloom]] output, usually loaded from storage) — the
    * restartable-ingest path: zero jobs at stream start. The bloom
    * must have been built from a band table with the same
    * (n, k, bands, seed). */
  def streamingNearDupFilterWithBloom(stream: DataFrame, text: String,
                                      bloomBytes: Array[Byte],
                                      n: Int = 5, k: Int = 128,
                                      bands: Int = 16,
                                      seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val blit = lit(bloomBytes)
    val sig = Bridge.column(graft.plans.MinHashSignature(
      Bridge.expression(col(text)), n, k, seed))
    val hit = exists(lshBands(sig, k, bands), b =>
      Bridge.column(
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          Bridge.expression(blit),
          Bridge.expression(xxhash64(b.getField("band"), b.getField("bh"))))))
    // null text -> null signature -> null `hit`: coalesce to false so
    // the row is KEPT (the family's no-silent-row-loss discipline —
    // a null-text row can't be a near-dup of anything, and where(!hit)
    // alone would silently drop it).
    stream.where(!coalesce(hit, lit(false)))
  }

  /** One batch of the SELF-MAINTAINING near-dup ingest loop — the
    * missing piece between the one-shot snapshot dedup
    * ([[dedupNearDupsAgainstSnapshot]]) and the stateless streaming
    * pre-filter ([[streamingNearDupFilterAgainstBands]], whose band
    * table is FROZEN at stream start): each batch dedups against
    * everything accepted so far AND within itself, then grows the
    * accepted corpus and its band table, so the next batch sees it.
    * Layout under `acceptedDir`: `data/batch=t<tag>/` (full accepted
    * rows) and `bands/batch=t<tag>/` (their band table) — plain
    * partition-discovered parquet (the "t" prefix keeps partition
    * values strings under type inference, so tags like "01" can't
    * canonicalize into colliding with "1"), so state is restartable by
    * construction and a RETRIED batch tag overwrites its own
    * subdirectories (idempotent, the foreachBatch exactly-once
    * recipe). Steps per batch:
    *
    *  1. drop rows that near-dup the accepted corpus (band equi-join
    *     + exact-Jaccard verify — the [[nearDupPairsAgainstSnapshot]]
    *     precision contract; accepted text is re-read only for
    *     candidate verification);
    *  2. drop in-batch near-dups ([[minhashLshPairsVerified]] +
    *     [[dropNearDups]] keep-lowest-id);
    *  3. append survivors + their bands as this batch's partitions.
    *
    * Returns the number of accepted rows. Ids must be unique across
    * the whole ingest (the snapshot contract). */
  def nearDupIngestBatch(batch: DataFrame, id: String, text: String,
                         acceptedDir: String, batchTag: String,
                         n: Int = 5, k: Int = 128, bands: Int = 16,
                         minJaccard: Double = 0.9, seed: Long = 42L,
                         maxBucketSize: Int = 0): Long = {
    val spark = batch.sparkSession
    val dataDir = s"$acceptedDir/data"
    val bandDir = s"$acceptedDir/bands"
    // Partition values are WRITTEN with a "t" prefix so Spark's
    // partition-type inference can never canonicalize them (a bare
    // tag "01" would be discovered as integer 1 and the
    // own-batch-exclusion filter below would miss it — a retry would
    // then erase its own accepted rows as self-near-dups).
    val tagVal = "t" + batchTag
    // state read EXCLUDES this batch's own partitions: a retry of a
    // batch that already completed must see the pre-batch state, or
    // its rows would all drop as near-dups of themselves and the
    // overwrite would erase them (spec-asserted idempotence)
    def state(dir: String) = spark.read.parquet(dir)
      .where(col("batch").cast("string") =!= lit(tagVal)).drop("batch")
    // Prior state exists only if some OTHER batch's partition does:
    // keying this on batch= tags (not raw subdirectory presence) keeps
    // two reachable crash shapes convergent — (a) a first-batch retry
    // whose own data partition exists but whose band dir was never
    // created would otherwise die reading the nonexistent band path
    // forever, and (b) a crashed compaction can leave ONLY a hidden
    // .compact_* dir, which is not state (Spark's reads skip
    // dot-prefixed paths too).
    val priorTags = listBatchTags(spark, dataDir) - tagVal
    // tag-parity repair: a crash between the two state writes can
    // leave a data partition without its band partition (the one
    // asymmetric hole — accepted rows invisible to band-driven
    // candidate generation, so their near-dups silently pass; the
    // reverse orphan is harmless because verification joins the data
    // rows). Rebuild any missing band partition from its data
    // partition before reading state. Cost: one FS listing per batch
    // plus work only when a crash actually happened.
    (priorTags -- listBatchTags(spark, bandDir)).foreach { tg =>
      val d = spark.read.parquet(s"$dataDir/batch=$tg")
      minhashBandTable(d, id, text, n, k, bands, seed)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$bandDir/batch=$tg")
    }
    // scoped checkpoint release: every materializeOnce pin created by
    // this batch (the LSH signature/candidate pins inside
    // minhashLshPairsVerified and nearDupPairsAgainstSnapshot, plus
    // the survivors checkpoint below) is unpersisted when the batch
    // completes — a foreachBatch sink would otherwise accumulate one
    // set of checkpoint RDDs per micro-batch for the stream's
    // lifetime, unbounded executor memory/disk growth in exactly the
    // long-running path this API targets. The session-global
    // releaseMaterialized sweep is NOT safe from inside a sink (it
    // would release concurrent graft work's pins); the scope touches
    // only pins created within it.
    org.apache.spark.sql.graft.Bridge.withMaterializedScope(spark) {
      val vsAccepted =
        if (priorTags.nonEmpty)
          dedupNearDupsAgainstSnapshot(batch, id, text,
            state(dataDir), id, text, state(bandDir),
            n, k, bands, minJaccard, seed, maxBucketSize)
        else batch
      val pairs = minhashLshPairsVerified(vsAccepted, id, text, n = n, k = k,
        bands = bands, minJaccard = minJaccard, seed = seed,
        maxBucketSize = maxBucketSize)
      val survivors = org.apache.spark.sql.graft.Bridge.tagMaterialized(
        dropNearDups(vsAccepted, id, pairs).localCheckpoint(eager = false))
      // bands BEFORE data: with the repair above either order heals,
      // but bands-first also makes the un-repaired crash window
      // harmless for manual (non-retrying) callers — a bands-only
      // orphan generates candidates that find no data rows to verify
      // against, which is correct (those rows were never accepted)
      minhashBandTable(survivors, id, text, n, k, bands, seed)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$bandDir/batch=$tagVal")
      survivors.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$dataDir/batch=$tagVal")
      survivors.count()
    }
  }

  /** `batch=` partition tags present under `dir` (empty if absent). */
  private def listBatchTags(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Set[String] = {
    val hp = new org.apache.hadoop.fs.Path(dir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) Set.empty
    else fs.listStatus(hp).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=")).toSet
  }

  /** Compact the near-dup ingest state: merge every `batch=`
    * partition whose tag is NOT in `keepTags` (plus any leftover
    * staging from a crashed compaction) into ONE fresh partition pair
    * `data/batch=t<compactTag>` + `bands/batch=t<compactTag>` —
    * bounding the per-batch partition growth that otherwise turns the
    * months-lived accepted state into a small-file / listing problem
    * after 10⁴⁺ batches.
    *
    * Retry contract preserved: pass the tags that may still be
    * retried as `keepTags` (for a foreachBatch stream that is only
    * ever the LATEST batch id — Structured Streaming never replays
    * older committed batches). A retried kept batch still reads the
    * pre-batch state — the compacted partition's tag differs from its
    * own — so its overwrite converges bit-identically (spec-asserted).
    *
    * Crash-safe by IDEMPOTENT RE-RUN, not by atomicity: run with the
    * ingest paused (mid-operation readers can observe partial or
    * duplicate state), and after a crash simply run it again with a
    * fresh `compactTag`. Each run merges sources ∪ leftover stagings
    * with id-dedup (data) / row-distinct (bands), writes a fresh
    * HIDDEN staging dir (dot-prefixed — invisible to partition
    * discovery), renames the staging into place, and only then
    * deletes the inputs — so a crash at any point leaves either the
    * original state or a benign DUPLICATE state (never a window where
    * merged docs are invisible to candidate generation), and some
    * later run converges from it. On object stores the rename is a
    * copy; keep the state dirs on a filesystem with cheap directory
    * rename.
    *
    * `compactTag` must be fresh per run and must never collide with a
    * future ingest batch tag (streaming tags are numeric — any
    * non-numeric tag like "c<epoch>" is safe). `numPartitions` sizes
    * the rewritten state (1 is fine for tests; at corpus scale set
    * ~state_bytes / 128 MB). */
  def compactNearDupIngestState(spark: org.apache.spark.sql.SparkSession,
                                acceptedDir: String, id: String,
                                compactTag: String,
                                keepTags: Set[String] = Set.empty,
                                numPartitions: Int = 1): Unit = {
    require(numPartitions >= 1, s"numPartitions must be >= 1, got $numPartitions")
    val keepVals = keepTags.map("t" + _) + ("t" + compactTag)
    def compactOne(dir: String, dedup: DataFrame => DataFrame): Unit = {
      val hp = new org.apache.hadoop.fs.Path(dir)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(hp)) return
      val subs = fs.listStatus(hp).filter(_.isDirectory).map(_.getPath)
      val stagings = subs.filter(_.getName.startsWith(".compact_"))
      val parts = subs.filter { p =>
        p.getName.startsWith("batch=") &&
          !keepVals.contains(p.getName.stripPrefix("batch="))
      }
      // a previous same-named compacted partition is NOT a source (we
      // exclude t<compactTag> above) — re-using a tag is an error the
      // staging rename would surface; fresh tags are the contract
      val inputs = (parts ++ stagings).toSeq
      if (inputs.isEmpty) return
      val merged = dedup(spark.read.parquet(inputs.map(_.toString): _*))
        .repartition(numPartitions)
      // staging name carries a nonce so a re-run never reads and
      // overwrites the same directory it is merging from
      val staging = new org.apache.hadoop.fs.Path(dir,
        s".compact_${compactTag}_${System.nanoTime()}")
      merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(staging.toString)
      // rename BEFORE deleting the sources: a crash in between leaves
      // DUPLICATE state (merged partition + originals), which is
      // benign — data re-id-dedups on the next compaction and
      // duplicate band rows only re-verify — whereas the reverse
      // order's crash window (sources deleted, merged rows invisible
      // in a hidden staging) silently removed every merged doc from
      // candidate generation until someone re-ran compaction.
      val target = new org.apache.hadoop.fs.Path(dir, s"batch=t$compactTag")
      require(fs.rename(staging, target),
        s"compaction rename failed: $staging -> $target")
      inputs.foreach(p => fs.delete(p, true))
    }
    compactOne(s"$acceptedDir/data", df => df.dropDuplicates(id))
    compactOne(s"$acceptedDir/bands", df => df.distinct())
  }

  /** Streaming wrapper over [[nearDupIngestBatch]]: a `foreachBatch`
    * sink whose state is the accepted-corpus directory itself — the
    * batch id is the idempotence tag, so Structured Streaming's
    * retried batches overwrite rather than double-append. Unlike the
    * stateless bloom pre-filter this tier is EXACT (per-batch verify
    * joins) and self-maintaining; the trade is per-batch job latency
    * instead of a per-row expression. Caller starts the returned
    * writer (`.start()`), choosing trigger/checkpoint options.
    *
    * Operational note: state grows one partition pair per batch —
    * periodically run [[compactNearDupIngestState]] (with the stream
    * PAUSED, keeping the latest batch id's tag) to rewrite it into
    * O(1) partitions without breaking the retry contract. */
  def streamingNearDupIngest(stream: DataFrame, id: String, text: String,
                             acceptedDir: String,
                             n: Int = 5, k: Int = 128, bands: Int = 16,
                             minJaccard: Double = 0.9, seed: Long = 42L,
                             maxBucketSize: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (b: DataFrame, batchId: Long) =>
      nearDupIngestBatch(b, id, text, acceptedDir, batchId.toString,
        n, k, bands, minJaccard, seed, maxBucketSize)
      ()
    }

  /** Cross-snapshot NEAR-dup pairs — [[dedupAgainstSnapshot]]'s recall
    * extended from exact text equality to MinHash-LSH near-duplicates,
    * against a PERSISTED snapshot band table ([[minhashBandTable]]):
    *
    *  1. the new crawl is banded with the identical parameters and
    *     equi-joined to the snapshot bands on the narrow (band, bh)
    *     key — the shuffle is two slim band tables, never
    *     crawl × snapshot;
    *  2. candidate (new, snap) pairs dedup tiny (≈ true near-dups +
    *     band collisions) and materialize once;
    *  3. the exact char-n-gram Jaccard verify stage re-touches only
    *     candidate docs on each side (semi-joins) — the
    *     [[minhashLshPairsVerified]] contract across two corpora:
    *     PRECISION exact at any scale, recall 1-(1-J^r)^b (+ optional
    *     `maxBucketSize` cap loss; 0 = uncapped, the oracle setting).
    *
    * Ids must be unique on each side (anti-join / re-attach contract).
    * Output: (new_id, snap_id, jaccard), jaccard >= `minJaccard`. */
  def nearDupPairsAgainstSnapshot(df: DataFrame, id: String, text: String,
                                  snapshot: DataFrame, snapId: String,
                                  snapText: String, snapshotBands: DataFrame,
                                  n: Int = 5, k: Int = 128, bands: Int = 16,
                                  minJaccard: Double = 0.9, seed: Long = 42L,
                                  maxBucketSize: Int = 0): DataFrame = {
    val nb0 = minhashBandTable(df, id, text, n, k, bands, seed)
      .select(col(id).as("__na"), col("band"), col("bh"))
    val sb0 = snapshotBands.select(col(snapId).as("__sb"), col("band"), col("bh"))
    val bucket = struct(col("band"), col("bh"))
    val (nb, sb) =
      if (maxBucketSize > 0)
        (capBuckets(nb0, bucket, maxBucketSize), capBuckets(sb0, bucket, maxBucketSize))
      else (nb0, sb0)
    val cand = materializeOnce(
      nb.join(sb, Seq("band", "bh")).select(col("__na"), col("__sb")).distinct())
    val shNew = df
      .join(cand.select(col("__na")).distinct(), col(id) === col("__na"), "left_semi")
      .select(col(id).as("__vna"), charShingles(col(text), n).as("__shn"))
    val shSnap = snapshot
      .join(cand.select(col("__sb")).distinct(), col(snapId) === col("__sb"), "left_semi")
      .select(col(snapId).as("__vsb"), charShingles(col(snapText), n).as("__shs"))
    cand.join(shNew, col("__na") === col("__vna"))
      .join(shSnap, col("__sb") === col("__vsb"))
      .select(col("__na").as("new_id"), col("__sb").as("snap_id"),
        (size(array_intersect(col("__shn"), col("__shs"))).cast("double") /
          size(array_union(col("__shn"), col("__shs")))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
      .select(col("new_id"), col("snap_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Incremental near-dup dedup against a retained snapshot: drop every
    * crawl row with at least one [[nearDupPairsAgainstSnapshot]] match.
    * The anti-join runs on the tiny matched-id set. */
  def dedupNearDupsAgainstSnapshot(df: DataFrame, id: String, text: String,
                                   snapshot: DataFrame, snapId: String,
                                   snapText: String, snapshotBands: DataFrame,
                                   n: Int = 5, k: Int = 128, bands: Int = 16,
                                   minJaccard: Double = 0.9, seed: Long = 42L,
                                   maxBucketSize: Int = 0): DataFrame = {
    val matched = nearDupPairsAgainstSnapshot(df, id, text, snapshot, snapId,
        snapText, snapshotBands, n, k, bands, minJaccard, seed, maxBucketSize)
      .select(col("new_id").as("__mid")).distinct()
    df.join(matched, col(id) === col("__mid"), "left_anti")
  }

  /** Materialize a self-join input exactly once. Reliable when the
    * session has a checkpoint dir (survives executor loss — set one on
    * any real cluster: `sc.setCheckpointDir("hdfs://...")`); otherwise
    * falls back to `localCheckpoint` (executor-memory blocks, fine for
    * local/test runs). Both cut the lineage so the signature pass runs
    * once, not once per join side. The persisted RDD is name-tagged so
    * [[releaseMaterialized]] can sweep it — the blocks otherwise live
    * until the session dies. */
  private def materializeOnce(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.tagMaterialized(
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
      else df.localCheckpoint())
  }

  /** Lazy twin of [[materializeOnce]]: the checkpoint materializes on
    * the first action that touches it instead of eagerly — lets a
    * caller fold the materialization into an aggregate it was about to
    * run anyway (one Spark job instead of two). */
  private[graft] def materializeLazily(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.tagMaterialized(
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false))
  }

  /** Release the executor blocks persisted by graft's internal
    * materialization (the LSH / simhash / connected-components
    * families checkpoint their self-join inputs and per-round label
    * state). One-shot jobs never need this — the session's death
    * releases everything — but a long-lived session (a notebook, a
    * serving layer, a bench loop) accumulates one persisted RDD per
    * call, so sweep after consuming the RESULTS of those ops. Safe any
    * time: only graft-tagged RDDs are touched (never user persists),
    * and an already-consumed result never re-reads the blocks. Callers
    * that still hold an unconsumed dedup-family DataFrame should
    * materialize it first — after release its checkpoint RDD
    * recomputes from a truncated lineage and would fail.
    *
    * Returns the number of RDDs released. */
  def releaseMaterialized(spark: org.apache.spark.sql.SparkSession,
                          blocking: Boolean = false): Int = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.releaseMaterialized(spark, blocking)
  }

  /** Connected components over an undirected pair list (`id_a`,
    * `id_b`) by min-label propagation: each round every node adopts
    * the smallest label in its one-hop neighborhood (its own
    * included), so labels converge in O(max cluster diameter) rounds —
    * near-dup clusters are shallow (pairs/triangles/short chains), and
    * `maxIter` bounds pathological paths. Each round is one shuffle on
    * the node id over |edges| rows; the label state is O(#nodes that
    * appear in pairs) — a tiny fraction of the corpus — and lineage is
    * cut per round (reliable checkpoint when a checkpoint dir is set)
    * so plans stay flat at any round count. Convergence detection
    * rides the update's monotonicity: a node's label is the min over
    * its own and its neighbors' labels, so labels are pointwise
    * non-increasing and the label SUM strictly decreases until the
    * fixpoint — sum unchanged ⟺ no label changed. That makes the
    * check a 1-row aggregate over the already-checkpointed labels
    * (no prev/next join, no extra shuffle per round) when ids are
    * integral; other id types (string/UUID/double) use a join-based
    * change probe instead — the sum trick would throw (ANSI cast) or
    * silently round there. If labels are
    * still moving after `maxIter` rounds (a path longer than maxIter
    * hops — not a near-dup cluster shape) the call FAILS rather than
    * silently returning split components.
    *
    * Returns (id, component) for every node in `pairs`, component =
    * min id of its cluster. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // materialize the (possibly expensive) pair plan once — the two
    // union orientations would otherwise execute it twice
    val p = materializeOnce(pairs.select(col("id_a"), col("id_b")))
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
    // The 1-row sum probe is only sound for INTEGRAL ids: a string id
    // throws under Spark 4's ANSI decimal cast, and a fractional double
    // id silently rounds (1.4→1.2 leaves the decimal(38,0) sum
    // unchanged → false convergence with split components). Non-integral
    // id types fall back to the type-agnostic join-based change probe
    // (one extra equi-join per round — correct beats cheap here).
    val integralId = p.schema("id_a").dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    // decimal(38,0) keeps the monotone label sum exact (ANSI long sum
    // could overflow on large id spaces); null = empty label set
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = if (integralId) labelSum(labels) else null
    var converged =
      if (integralId) prevSum == null // no edges → nothing to propagate
      else labels.isEmpty
    var it = 0
    while (!converged && it < maxIter) {
      val nbr = edges.join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("component"))
      // lazy checkpoint: the convergence probe below is the action
      // that materializes it. On the localCheckpoint path that is one
      // job per round instead of two; a RELIABLE checkpoint still runs
      // Spark's separate checkpoint-writing job after the action (an
      // engine behavior), so there the win is only skipping the eager
      // pre-materialization.
      val next = materializeLazily(
        labels.union(nbr).groupBy("id").agg(min("component").as("component")))
      if (integralId) {
        val nextSum = labelSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
      } else {
        converged = next.as("n")
          .join(labels.as("p"), col("n.id") === col("p.id"))
          .where(col("n.component") =!= col("p.component")).isEmpty
      }
      labels = next
      it += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
        "a component has diameter > maxIter; raise maxIter")
    labels
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    * each round rewrites the edge set so every node's neighborhood
    * points closer to its component minimum — large-star hangs every
    * larger neighbor off the neighborhood min, small-star contracts
    * the smaller neighbors onto it — converging in O(log n) rounds on
    * ANY graph shape, vs [[connectedComponents]]' O(diameter).
    *
    * Each round is two grouped-min shuffles + two equi-joins over the
    * CURRENT edge set (which only shrinks toward one edge per
    * non-root node); convergence is an (edge count, xor of edge
    * hashes) checksum — order-insensitive, no extra join, and a false
    * fixpoint needs a 2^-64 xor collision AT equal counts.
    *
    * A/B-measured against min-label propagation (CCProbe@afd7ec7): on
    * the REAL sf0.1 LSH near-dup pair set (255 pairs, shallow
    * clusters) propagation wins — 1.2-1.3 s vs 2.2 s warm, its
    * one-shuffle rounds beating star's two-phase rounds — so the
    * oracle queries keep [[connectedComponents]]. On 200 synthetic
    * 100-node chains (diameter 99) THIS form wins ~4x (6.5-8.6 s vs
    * 25-34 s: ~7 star rounds vs 100 propagation rounds). Use star
    * when components can be deep (long chains: co-citation graphs,
    * session stitching, record-linkage transitive closures), where
    * O(diameter) rounds is the scale killer; labelings are identical
    * (probe + spec-asserted).
    *
    * Returns (id, component) for every node in `pairs`, component =
    * min id of its cluster — same contract as [[connectedComponents]]
    * (equivalence spec-asserted on randomized graphs). */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    var edges = materializeOnce(
      pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .where(col("u") =!= col("v")).distinct())
    // all nodes, for re-attaching roots and singletons at the end
    val nodes = materializeOnce(
      edges.select(col("u").as("id")).union(edges.select(col("v").as("id"))).distinct())
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    var prev = checksum(edges)
    var converged = prev._1 == 0
    var it = 0
    while (!converged && it < maxIter) {
      // large-star: for each node u (both orientations), every
      // neighbor v > u re-attaches to m = min(N(u) ∪ {u})
      val both = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = both.groupBy("u").agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("u"), col("__mn")).as("m"))
      val ls = both.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
      // small-star: each node u's SMALLER neighbors (plus u itself)
      // contract onto their min
      val both2 = ls.union(ls.select(col("v").as("u"), col("u").as("v")))
      val small = both2.where(col("v") < col("u"))
      val mins2 = small.groupBy("u").agg(min(col("v")).as("m"))
      val ss = small.join(mins2, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins2.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v")).distinct()
      val next = materializeLazily(ss)
      val cur = checksum(next)
      converged = cur == prev
      prev = cur
      edges = next
      it += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxIter rounds; raise maxIter")
    // at the fixpoint every edge is (node, component-min); roots and
    // isolated-by-contraction nodes label themselves
    nodes.join(edges, nodes("id") === edges("u"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("component"))
  }

  /** Cluster-aware survivor selection: one representative (the min id)
    * per near-dup cluster survives. The transitive upgrade of
    * [[dropNearDups]], which drops every right-hand id of a pair and
    * can over-drop chains — e.g. pairs (a,b),(b,c) without (a,c) drop
    * both b and c pairwise, where the cluster {a,b,c} should keep
    * exactly a. */
  def dropNearDupsByCluster(df: DataFrame, id: String, pairs: DataFrame): DataFrame = {
    val drops = connectedComponents(pairs)
      .where(col("id") =!= col("component")).select(col("id").as("__drop"))
    df.join(drops, col(id) === col("__drop"), "left_anti")
  }

  /** Quality-aware survivor selection: keep the best-scoring row of
    * each near-dup cluster (ties broken by lowest id) — what corpus
    * dedup actually wants (keep the cleanest copy, not the lowest id).
    * Rows in no pair always survive untouched: the rank runs over the
    * NARROW (id, score) projection of paired nodes only — O(#nodes in
    * pairs), not a full-corpus shuffle — and losers anti-join back
    * (the [[dropNearDupsByCluster]] shape). */
  def keepBestPerCluster(df: DataFrame, id: String, pairs: DataFrame,
                         score: Column): DataFrame = {
    val comp = connectedComponents(pairs)
      .select(col("id").as("__nid"), col("component").as("__comp"))
    val scored = df.select(col(id).as("__sid"), score.as("__score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__comp")).orderBy(col("__score").desc, col("__nid"))
    val losers = comp.join(scored, col("__nid") === col("__sid"))
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") > 1)
      .select(col("__nid").as("__drop"))
    df.join(losers, col(id) === col("__drop"), "left_anti")
  }

  /** Leakage-safe train/holdout split: assign whole NEAR-DUP CLUSTERS
    * to one side, never individual documents — the split every
    * benchmark-hygiene audit assumes and naive per-doc hashing breaks
    * (a near-duplicate of a test document sitting in train is
    * contamination the decontamination pass can't see, because it
    * arrives through the split itself). Pairs come from the caller's
    * chosen family (minhash LSH, simhash, embedding near-dup — the
    * [[dropNearDupsByCluster]] contract), clusters via
    * [[connectedComponents]], and the holdout draw is the exact
    * md5-threshold rule of [[graft.functions.Corpus.splitByMd5]]
    * applied to the cluster REPRESENTATIVE (unpaired docs are their
    * own cluster), so the split stays deterministic across retries /
    * repartitioning / incremental reruns AND SQL-replayable.
    * Returns (train, holdout) with the input schema. */
  def leakageSafeSplit(df: DataFrame, id: String, pairs: DataFrame,
                       holdoutNumer: Int, holdoutDenom: Int,
                       seed: Long = 42L): (DataFrame, DataFrame) = {
    val comp = connectedComponents(pairs)
      .select(col("id").as("__lcid"), col("component").as("__lcomp"))
    val withG = df
      .join(comp, col(id) === col("__lcid"), "left")
      .withColumn("__lgrp", coalesce(col("__lcomp"), col(id)))
    val (train, holdout) = graft.functions.Corpus.splitByMd5(
      withG, col("__lgrp"), holdoutNumer, holdoutDenom, seed)
    (train.drop("__lcid", "__lcomp", "__lgrp"),
      holdout.drop("__lcid", "__lcomp", "__lgrp"))
  }

  /** All ordered pairs (id_a < id_b, strictly) from a sorted id array —
    * the in-bucket pair emission of the LSH/pigeonhole designs. Columnar
    * (nested transform + flatten), evaluated after the bucket shuffle,
    * so pair blow-up is streamed through the explode that follows, not
    * shuffled. Duplicate ids in the array never yield self-pairs (the
    * equal-id filter below); callers' downstream `.distinct()` collapses
    * the repeated (a, b) structs a duplicated id would emit. Note the
    * vector/text re-attach joins in the callers still multiply output
    * rows when the SOURCE id column itself is duplicated — ids are
    * expected unique (see the caller Scaladocs).
    *
    * Emission suits HIGH-CARDINALITY bucket keys (64-bit band/bucket
    * hashes → tiny buckets). For low-width keys whose buckets grow
    * with the corpus, a streamed equi-join wins — see
    * [[simhashPairsFromFp]] for the measured trade. */
  private[graft] def pairsFromSorted(ids: Column): Column =
    flatten(transform(ids, (a, i) =>
      transform(filter(slice(ids, i + lit(2), size(ids) - i - lit(1)),
          b => b =!= a),
        b => struct(a.as("id_a"), b.as("id_b")))))

  /** Distinct candidate pairs from banded signatures: ONE shuffle — the
    * (band, bandhash) groupBy — collecting each bucket's sorted ids,
    * then in-place pair emission + a narrow distinct. (The previous
    * self-join form shuffled the banded rows twice — once per join
    * side — and needed a separate count+anti-join pass to apply the
    * bucket cap; here the cap is a size filter on the collected
    * bucket, and a capped bucket's list costs 8·M bytes in the
    * aggregation buffer vs the join's M² output rows.) Capped-bucket
    * recall loss stays observable via [[lshBucketStats]]. */
  private def lshCandidates(sig: DataFrame, k: Int, bands: Int,
                            maxBucketSize: Int): DataFrame = {
    val banded = sig.select(col("__id"),
      explode(lshBands(col("__sig"), k, bands)).as("__b"))
    val keep =
      if (maxBucketSize > 0) size(col("__ids")).between(2, maxBucketSize)
      else size(col("__ids")) >= 2
    banded.groupBy(col("__b"))
      .agg(sort_array(collect_list(col("__id"))).as("__ids"))
      .where(keep)
      .select(explode(pairsFromSorted(col("__ids"))).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .distinct()
  }

  /** Candidate near-dup pairs via MinHash LSH. Shuffle key = (band,
    * bandhash) — never all-pairs. `estJaccard` = fraction of matching
    * signature positions (unbiased Jaccard estimate); filter on it to
    * drop band-collision false positives.
    *
    * Precondition: `id` values are unique (same contract as
    * `Similarity.lshCosinePairs`). Self-pairs are filtered
    * structurally, but a duplicated id multiplies rows at the
    * signature re-attach joins — dedupe by id first if the source may
    * repeat ids. */
  /** @param maxBucketSize drop degenerate LSH buckets holding more
    *        than this many docs (0 = no cap). A pathological band value
    *        shared by M docs contributes M² candidate pairs; capping
    *        bounds the blow-up at the cost of recall on those docs —
    *        standard practice at corpus scale, so it defaults ON
    *        (1000: ≤ ~500k candidate pairs per degenerate bucket).
    *        True near-dup clusters are tiny relative to this; recall
    *        is only affected when a single band value collects >1000
    *        docs, which at that point is a degenerate hash, not a
    *        duplicate cluster. */
  def minhashLshPairs(df: DataFrame, id: String, text: String,
                      n: Int = 3, k: Int = 128, bands: Int = 32,
                      minEstJaccard: Double = 0.5, seed: Long = 42L,
                      maxBucketSize: Int = 1000): DataFrame = {
    // one-pass fused signatures, materialized once so the band
    // explosion and the two estimate joins all reuse them
    val sig = materializeOnce(minhashSignaturesFused(df, id, col(text), n, k, seed))
    // Candidates are generated on NARROW (band, id) rows only and
    // dedup to a tiny distinct pair set before the signatures
    // re-attach via two joins that AQE turns into broadcasts of the
    // candidate side (the wide k-long arrays never shuffle).
    val cand = lshCandidates(sig, k, bands, maxBucketSize)
    val sa = sig.select(col("__id").as("id_a"), col("__sig").as("sig_a"))
    val sb = sig.select(col("__id").as("id_b"), col("__sig").as("sig_b"))
    cand.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / lit(k)).as("est_jaccard"))
      .where(col("est_jaccard") >= minEstJaccard)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"))
  }

  /** LSH candidates + the standard exact-verification stage: candidate
    * pairs from [[minhashLshPairs]] are re-scored with their TRUE
    * n-gram Jaccard and filtered at `minJaccard` — the textbook
    * candidate→verify design. The exact pass touches only candidate
    * docs (semi-joined) and candidate pairs (≈ dup pairs, tiny), so
    * the quadratic exact computation never runs corpus-wide.
    *
    * Correctness contract: PRECISION is exact at any scale (every
    * returned pair truly has J >= minJaccard — the verify stage
    * guarantees it regardless of estimate noise). RECALL is ~1 but
    * not exact: candidate generation can miss a true pair (a) with
    * banding probability (1-J^r)^b (~1e-4 at J=0.9 with k=128/b=32),
    * and (b) inside a bucket dropped by `maxBucketSize` — pass
    * maxBucketSize = 0 when exact recall matters (the oracle-checked
    * queries do); capped buckets are reported by [[lshBucketStats]]. */
  def minhashLshPairsVerified(df: DataFrame, id: String, text: String,
                              n: Int = 3, k: Int = 128, bands: Int = 32,
                              minEstJaccard: Double = 0.5,
                              minJaccard: Double = 0.9,
                              seed: Long = 42L,
                              maxBucketSize: Int = 1000): DataFrame = {
    // candidates are tiny (≈ dup pairs) but their plan is the whole
    // banded self-join — materialize once, not once per re-reference
    val cand = materializeOnce(
      minhashLshPairs(df, id, text, n, k, bands, minEstJaccard, seed, maxBucketSize))
    val ids = cand.select(col("id_a").as("__cid")).union(cand.select(col("id_b").as("__cid")))
      .distinct()
    val sh = df.join(ids, col(id) === col("__cid"), "left_semi")
      .select(col(id).as("__sh_id"), charShingles(col(text), n).as("__sh"))
    val withA = cand.join(sh, col("id_a") === col("__sh_id"))
      .select(col("id_a"), col("id_b"), col("__sh").as("__sh_a"))
    withA.join(sh, col("id_b") === col("__sh_id"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("__sh_a"), col("__sh"))).cast("double") /
          size(array_union(col("__sh_a"), col("__sh")))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Directional containment near-dup pairs: (id_a, id_b, containment)
    * with containment = |Sa ∩ Sb| / |Sa| ≥ `minContainment`, where Sx
    * is the doc's DISTINCT token n-gram set — the asymmetric
    * complement to [[minhashLshPairsVerified]]: a short document
    * quoted inside a long one scores containment ≈ 1 while its
    * Jaccard (∩/∪) stays tiny, so MinHash-LSH structurally misses it.
    *
    * Scale shape is prefix filtering (Chaudhuri et al. 2006; Bayardo
    * et al. 2007 All-Pairs): rank each doc's grams by ascending
    * (document frequency, gram) and emit only the first
    * |Sa| − ⌊t·|Sa|⌋ + 1 as probe keys — if a exceeds the threshold
    * against ANY b, a cannot have that many grams outside Sb, so a
    * prefix gram lands in Sa ∩ Sb (pigeonhole; the +1 over the exact
    * bound also absorbs fp floor effects). Probe keys join the full
    * gram index — per-gram fan-out is its df, so Σ df per prefix,
    * never N² — and candidates get an EXACT verify on re-attached
    * gram arrays (precision exact at any scale; the verified-LSH
    * philosophy). `maxDocFreq` (0 = off) drops stop-grams from the
    * index/prefix the way [[graft.functions.TextFunctions]]'s
    * winnowing pair-finder does: boilerplate grams shared by huge doc
    * counts would otherwise dominate the join; the loss is recall
    * only, observable by re-running uncapped.
    *
    * The candidate stage runs entirely on the fused 64-bit gram-hash
    * set ([[tokenShingleHashes]] — no gram-string explode, narrow
    * 8-byte shuffle keys; the decontaminate recipe): prefix-filter
    * completeness holds for ANY fixed global gram order, so ranking
    * by (df, hash) instead of (df, gram) is purely the same
    * rare-first heuristic; hash collisions across docs only ADD
    * candidates (the exact verify drops them), and a within-doc
    * collision — which could shorten one doc's prefix by one — has
    * the 2^-64 birthday odds the decontaminate family documents.
    * Verification re-attaches TRUE gram-string sets for candidate
    * docs only, so the emitted containment is exact.
    *
    * Docs with fewer than `n` whitespace tokens have no n-gram set
    * and never pair. `id` values must be unique. Both directions of
    * an asymmetric pair can appear; containment is emitted unrounded
    * (an exact IEEE quotient of two ints — cross-engine stable). */
  def ngramContainmentPairs(df: DataFrame, id: String, text: String,
                            n: Int = 3, minContainment: Double = 0.8,
                            maxDocFreq: Long = 0): DataFrame = {
    require(n >= 1, s"n $n must be >= 1")
    require(minContainment > 0 && minContainment <= 1,
      s"minContainment $minContainment outside (0,1]")
    import org.apache.spark.sql.expressions.Window
    def toks(t: Column) = filter(split(t, "\\s+"), x => length(x) > 0)
    // per-doc distinct hash arrays materialize once (compact — one
    // array per doc, not one row per gram); the gram table explodes
    // from them on demand for each consumer
    val sets_h = materializeLazily(df.where(size(toks(col(text))) >= n)
      .select(col(id).as("__gid"),
        tokenShingleHashes(col(text), n).as("__hs")))
    val g = sets_h.select(col("__gid"), explode(col("__hs")).as("__g"))
    val dfreq = g.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    val kept = if (maxDocFreq > 0) dfreq.where(col("__df") <= maxDocFreq)
               else dfreq
    // per-doc window: partitioned by doc id — parallel, not global
    val ranked = g.join(kept, "__g")
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("__gid")).orderBy(col("__df"), col("__g"))))
    val prefixLen = size(col("__hs")) -
      floor(lit(minContainment) * size(col("__hs"))).cast("int") + lit(1)
    val pref = ranked
      .join(sets_h.select(col("__gid"), prefixLen.as("__pl")), "__gid")
      .where(col("__r") <= col("__pl"))
      .select(col("__gid").as("__pid"), col("__g"))
    val cand = materializeOnce(
      pref.join(g.select(col("__gid").as("__iid"), col("__g")), "__g")
        .where(col("__pid") =!= col("__iid"))
        .select(col("__pid").as("id_a"), col("__iid").as("id_b"))
        .distinct())
    // two-stage verify. Stage 1 prefilters on the ALREADY-MATERIALIZED
    // hash arrays (cheap long intersects — candidates can outnumber
    // true pairs 100s:1, and rebuilding string gram sets for all of
    // them dominated the op); the one-gram slack (-1/|Sa|) makes the
    // prefilter recall-safe against any single hash collision shifting
    // a boundary pair. Stage 2 re-attaches TRUE gram-string sets for
    // the few survivors — the emitted containment stays exact (the
    // minhashLshPairsVerified philosophy).
    val hPre = cand
      .join(sets_h.select(col("__gid").as("id_a"), col("__hs").as("__ha")), "id_a")
      .join(sets_h.select(col("__gid").as("id_b"), col("__hs").as("__hb")), "id_b")
      .where(size(array_intersect(col("__ha"), col("__hb"))).cast("double") /
        size(col("__ha")) >=
        lit(minContainment) - lit(1.0) / size(col("__ha")))
      .select(col("id_a"), col("id_b"))
    val survivors = materializeOnce(hPre)
    val ids = survivors.select(col("id_a").as("__cid"))
      .union(survivors.select(col("id_b").as("__cid"))).distinct()
    // gram-string sets ride the plans.TokenShingles kernel: the
    // composable tokenShingles(toks(text), n) captures the computed
    // split+filter inside its slice lambda — interpreted HOFs
    // re-tokenize the doc once per gram position, O(len²) per
    // surviving doc (the r13 winnowSet mechanism)
    val sets = df.join(ids, col(id) === col("__cid"), "left_semi")
      .select(col(id).as("__s_id"), {
        import org.apache.spark.sql.graft.Bridge
        Bridge.column(graft.plans.TokenShingles(
          Bridge.expression(col(text)), n)).as("__set")
      })
    val withA = survivors.join(sets, col("id_a") === col("__s_id"))
      .select(col("id_a"), col("id_b"), col("__set").as("__set_a"))
    withA.join(sets, col("id_b") === col("__s_id"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("__set_a"), col("__set"))).cast("double") /
          size(col("__set_a"))).as("containment"))
      .where(col("containment") >= minContainment)
  }

  /** EXACT all-pairs char-n-gram Jaccard join at prefix-filter cost —
    * the deterministic-recall twin of [[minhashLshPairsVerified]]
    * (which is precision-exact but misses a true pair with band
    * probability) and the scale twin of [[ngramJaccardPairs]] (which
    * is exact but all-pairs): output ≡ `ngramJaccardPairs(df, id,
    * text, n, threshold)` — every (id_a, id_b, jaccard) with true
    * shingle-set Jaccard ≥ `threshold`, id_a < id_b — proven by the
    * AllPairs/PPJoin prefix pigeonhole (Chaudhuri et al. 2006; Bayardo
    * et al. 2007; Xiao et al. 2008), not by MinHash concentration.
    * This is the same candidate construction the DuckDB near-dup
    * oracle family replays (`SparkEntry.nearDupPrefix5g09`), now as a
    * first-class Spark operator.
    *
    * Shape: (1) per-doc DISTINCT fused 64-bit shingle-HASH sets
    * ([[shingleHashes]] — no gram-string explode, narrow 8-byte
    * shuffle keys) materialize once; (2) hashes rank per doc by
    * ascending (document frequency, hash) — any fixed global total
    * order works, rare-first minimizes candidate fan-out; (3) each
    * doc emits its first `|S| − ⌊t·|S|⌋ + 1` as prefix keys.
    * Completeness: a true pair has required overlap
    * α = ⌈t/(1+t)·(|Sa|+|Sb|)⌉ and satisfies the length bound
    * t·|Sb| ≤ |Sa| (|∩| ≤ min, |∪| ≥ max), under which α ≥ t·|Sx| for
    * BOTH sides, so each side's last `⌊t·|S|⌋ − 1 < α` grams cannot
    * contain its whole intersection — both PREFIXES contain an
    * intersection gram, and (Xiao et al. Lemma 1) prefixes of length
    * ≥ |S| − α + 1 under one total order must SHARE one. fp note:
    * `floor(lit(t) * n)` can only err toward a LONGER prefix (more
    * candidates, never fewer) since the real bound is
    * ⌈t·n⌉ − 1 ≥ ⌊t·n⌋ − 1 and the emitted length adds +1.
    * (4) candidates = prefix-key equi-join (shuffle on hash keys,
    * Σ prefix-df fan-out, never N²) under the integer length filter
    * with 1e-6 slack (absorbs the fp product for set sizes to ~1e9;
    * slack only ADDS candidates) AND the PPJoin positional filter
    * (overlap upper bound 1 + min(na−ra, nb−rb) at the matching
    * prefix ranks must reach α = ⌈t/(1+t)·(na+nb)⌉ — recall-complete
    * because a true pair's minimum shared gram sits in both prefixes;
    * proof at [[jaccardCandidates]]); (5) two-stage verify: a hash-array
    * prefilter with one-collision slack, then TRUE char-shingle sets
    * for the survivors only — precision exact, recall complete, at
    * any scale (the [[ngramContainmentPairs]] staging).
    *
    * `maxDocFreq` (0 = off) drops grams above that document frequency
    * from ranking/prefixes — the stop-gram cap for viral boilerplate
    * (the [[ngramContainmentPairs]] convention: loss is recall only,
    * observable by re-running uncapped; leave 0 on oracle paths).
    * `blockBy` (r13) restricts output to same-block pairs by carrying
    * the block through the prefix-join KEY — candidate fan-out becomes
    * Σ per-block prefix-df (strictly ≤ the unblocked volume) and the
    * verify stages are untouched; gram ranking stays GLOBAL (any fixed
    * total order is prefix-complete, and a per-block order would buy
    * nothing). Docs with null text never pair; `id` values must be
    * unique. */
  def jaccardPairsExact(df: DataFrame, id: String, text: String,
                        n: Int = 5, threshold: Double = 0.9,
                        maxDocFreq: Long = 0,
                        blockBy: Option[String] = None): DataFrame = {
    require(n >= 1, s"n $n must be >= 1")
    require(threshold > 0 && threshold <= 1,
      s"threshold $threshold outside (0,1]")
    // candidate stage runs entirely on fused 64-bit shingle hashes
    // (no gram-string explode, narrow 8-byte shuffle keys — the
    // ngramContainmentPairs recipe; the first cut ranked gram STRINGS
    // and string-verified every candidate: 106 s at sf0.1 vs ~8 s for
    // this shape). Prefix completeness holds for ANY fixed global
    // order, so (df, hash) replaces (df, gram) freely; collisions
    // only ADD candidates (stage-2 drops them), and the one-gram
    // slack below absorbs a within-pair collision at a boundary.
    val sets_h = materializeLazily(df
      .select(Seq(col(id).as("__jid"), shingleHashes(col(text), n).as("__hs")) ++
        blockBy.map(c => col(c).as("__blk")): _*)
      .where(col("__hs").isNotNull))
    jaccardPairsCore(df, id, sets_h, charShingles(col(text), n),
      threshold, maxDocFreq, blockBy)
  }

  /** [[jaccardPairsExact]] generalized to an ARBITRARY array column —
    * itemset / tag / basket similarity join (which orders share ≥ t
    * of their parts, which documents share ≥ t of their tags) without
    * round-tripping the set through fake text. Same machinery, same
    * guarantees: candidates from the AllPairs/PPJoin rarest-prefix
    * pigeonhole over per-element xxhash64 keys, hash-prefilter with
    * one-collision slack, TRUE distinct-element sets (cast to string)
    * re-verify the survivors — recall complete, precision exact.
    * Output: (id_a, id_b, jaccard) with distinct-element Jaccard ≥
    * `threshold`, id_a < id_b, jaccard rounded to 6. Rows with
    * null/EMPTY item arrays never pair (an empty set has no defined
    * Jaccard); NULL ELEMENTS are dropped before anything else
    * (array_compact — SQL semantics: an unknown value matches
    * nothing; without the compact, xxhash64(null) = the seed and
    * array_intersect's NULL = NULL would both count nulls as a
    * shared element, diverging from any SQL-replay oracle — r14
    * self-review); remaining elements compare as their string casts
    * (mirror any oracle with the same cast). */
  def jaccardPairsExactArray(df: DataFrame, id: String, items: String,
                             threshold: Double = 0.5,
                             maxDocFreq: Long = 0,
                             blockBy: Option[String] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold $threshold outside (0,1]")
    // element hash set: xxhash64 per element, distinct AFTER hashing
    // (a collision merges two elements — exactly the within-doc
    // collision class the stage-1 slack absorbs). The lambda hashes
    // its own variable — no captured computed child, no HOF hazard.
    val sets_h = materializeLazily(df
      .select(Seq(col(id).as("__jid"),
        array_distinct(transform(array_compact(col(items)),
          e => xxhash64(e))).as("__hs")) ++
        blockBy.map(c => col(c).as("__blk")): _*)
      .where(col("__hs").isNotNull && size(col("__hs")) > 0))
    jaccardPairsCore(df, id, sets_h,
      array_distinct(transform(array_compact(col(items)), _.cast("string"))),
      threshold, maxDocFreq, blockBy)
  }

  /** Shared PPJoin core of [[jaccardPairsExact]] /
    * [[jaccardPairsExactArray]]: `sets_h` = MATERIALIZED (__jid, __hs
    * 64-bit hash set, optional __blk); `trueSet` = the exact
    * string-set expression evaluated against `df` for the stage-2
    * re-verify. See jaccardPairsExact's Scaladoc for the
    * completeness/slack proofs — they hold for any hash-set/true-set
    * pair where hashing is per-element. */
  private def jaccardPairsCore(df: DataFrame, id: String,
                               sets_h: DataFrame, trueSet: Column,
                               threshold: Double, maxDocFreq: Long,
                               blockBy: Option[String]): DataFrame = {
    val cand = materializeOnce(
      jaccardCandidates(sets_h, threshold, maxDocFreq, blockBy))
    // stage 1: hash-array prefilter — a true pair's HASH Jaccard can
    // drift from the string Jaccard only via collisions (within-doc:
    // shrinks a set; cross-doc: adds a phantom intersection element);
    // one collision moves numerator and denominator by at most 1, so
    // (i+1)/(u−1) ≥ t is recall-safe against any single collision
    // (multi-collision odds are the family's documented 2⁻⁶⁴
    // birthday regime). Slack only ADDS survivors — stage 2 is exact.
    val hPre = cand
      .join(sets_h.select(col("__jid").as("id_a"), col("__hs").as("__ha")),
        "id_a")
      .join(sets_h.select(col("__jid").as("id_b"), col("__hs").as("__hb")),
        "id_b")
      .where((size(array_intersect(col("__ha"), col("__hb"))) + lit(1))
        .cast("double") /
        greatest(size(array_union(col("__ha"), col("__hb"))) - lit(1), lit(1))
          .cast("double") >= lit(threshold))
      .select(col("id_a"), col("id_b"))
    val survivors = materializeOnce(hPre)
    // stage 2: TRUE char-shingle sets for survivor docs only — the
    // emitted Jaccard is exact (the minhashLshPairsVerified philosophy)
    val ids = survivors.select(col("id_a").as("__cid"))
      .union(survivors.select(col("id_b").as("__cid"))).distinct()
    val sets = df.join(ids, col(id) === col("__cid"), "left_semi")
      .select(col(id).as("__s_id"), trueSet.as("__set"))
    val withA = survivors.join(sets, col("id_a") === col("__s_id"))
      .select(col("id_a"), col("id_b"), col("__set").as("__set_a"))
    withA.join(sets, col("id_b") === col("__s_id"))
      .withColumn("jaccard", jaccard(col("__set_a"), col("__set")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Candidate stage of [[jaccardPairsCore]], un-materialized (the
    * core checkpoints it, which hides this segment from the final
    * frame's formatted explain; bench/jaccardprobe_r16.txt counts it).
    *
    * Positional filter (PPJoin, Xiao et al. 2008 §3.2 — r16): at a
    * matching prefix gram at ranks (ra, rb), every SHARED gram ≥ that
    * gram under the total order, so overlap ≤ 1 + min(na−ra, nb−rb)
    * (with maxDocFreq > 0 the dropped grams are all counted as
    * potentially shared — na−ra still bounds kept-after + dropped, so
    * the bound stays valid in capped mode). A true pair needs overlap
    * ≥ α = ⌈t/(1+t)·(na+nb)⌉ and its MINIMUM shared gram sits in both
    * prefixes at the minimal ranks, where the bound is tightest-valid
    * — keeping any pair with SOME passing match row is recall-
    * complete, and the distinct() collapses multiple matches. Same
    * 1e-6 slack convention as the length filter (fp product for set
    * sizes to ~1e9; slack only ADDS candidates). Candidate-volume cut
    * only: stage-1/2 verify semantics untouched. */
  private[graft] def jaccardCandidates(sets_h: DataFrame, threshold: Double,
                                       maxDocFreq: Long,
                                       blockBy: Option[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = sets_h.select(Seq(col("__jid"), size(col("__hs")).as("__n"),
      explode(col("__hs")).as("__g")) ++
      blockBy.map(_ => col("__blk")): _*)
    val dfreq = g.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    val kept = if (maxDocFreq > 0) dfreq.where(col("__df") <= maxDocFreq)
               else dfreq
    // per-doc window: partitioned by doc id — parallel, not global
    val ranked = g.join(kept, "__g")
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("__jid")).orderBy(col("__df"), col("__g"))))
    val pref = ranked.where(col("__r") <=
        col("__n") - floor(lit(threshold) * col("__n")).cast("int") + lit(1))
      .select(Seq(col("__jid"), col("__n"), col("__r"), col("__g")) ++
        blockBy.map(_ => col("__blk")): _*)
    val joinKeys = Seq("__g") ++ blockBy.map(_ => "__blk")
    val pa = pref.select(Seq(col("__jid").as("id_a"), col("__n").as("__na"),
      col("__r").as("__ra"), col("__g")) ++ blockBy.map(_ => col("__blk")): _*)
    val pb = pref.select(Seq(col("__jid").as("id_b"), col("__n").as("__nb"),
      col("__r").as("__rb"), col("__g")) ++ blockBy.map(_ => col("__blk")): _*)
    val lengthFilter = least(col("__na"), col("__nb")).cast("double") >=
      lit(threshold) * greatest(col("__na"), col("__nb")) - lit(1e-6)
    val positionalFilter =
      (lit(1) + least(col("__na") - col("__ra"),
        col("__nb") - col("__rb"))).cast("double") >=
        lit(threshold / (1.0 + threshold)) *
          (col("__na").cast("double") + col("__nb").cast("double")) -
          lit(1e-6)
    pa.join(pb, joinKeys)
      .where(col("id_a") < col("id_b") && lengthFilter && positionalFilter)
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Delete-neighborhood of a string: every string reachable by
    * deleting at most `maxDist` code points (the string itself
    * included), distinct. Pure columnar (no UDF): level k+1 =
    * single-deletions of level k, folded `maxDist` times. Spark's
    * `substr`/`length` are code-point-based, so supplementary-plane
    * text deletes whole code points. Neighborhood size is
    * O(len^maxDist / maxDist!) — intended for short key-like strings
    * (names, titles, URLs), which is the fuzzy-matching use case. */
  private[graft] def deleteNeighborhood(text: Column, maxDist: Int): Column = {
    require(maxDist >= 1, s"maxDist $maxDist must be >= 1")
    // sequence(1, 0) would COUNT DOWN (auto-negative step) — guard
    // the empty string to an empty deletion list instead
    def dels(t: Column): Column =
      when(length(t) === 0, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), length(t)), i =>
          concat(t.substr(lit(1), i - 1), t.substr(i + 1, length(t)))))
    val levels = (1 to maxDist).scanLeft(array(text)) { case (lvl, _) =>
      array_distinct(flatten(transform(lvl, dels(_))))
    }
    array_distinct(flatten(array(levels: _*)))
  }

  /** All pairs within Levenshtein distance `maxDist`, at sketch cost —
    * SymSpell-style symmetric-delete blocking (Garbe; completeness:
    * aligning two strings with lev ≤ d and deleting each side's
    * edited positions yields a COMMON string reachable by ≤ d
    * deletions from both, so their delete-neighborhoods intersect).
    * Shuffle key = xxhash64(deletion string) — narrow 8-byte keys,
    * never all-pairs; hash collisions only ADD candidates, which the
    * exact `levenshtein` verify then drops, so precision is exact at
    * any scale (the verified-LSH philosophy). The bucket collect
    * rides [[pairsFromSorted]] with the usual degenerate-bucket cap
    * (a shared boilerplate key of M docs would otherwise emit M²
    * pairs; capped loss is observable by re-running with 0).
    *
    * Preconditions: `id` values unique; `text` is a short key-like
    * string (names, titles, canonical URLs — the fuzzy-entity-dedup
    * use case), since neighborhoods grow O(len^maxDist).
    * Output: (id_a, id_b, dist), id_a < id_b, EXACT distances. */
  def editDistancePairs(df: DataFrame, id: String, text: String,
                        maxDist: Int = 1,
                        maxBucketSize: Int = 1000): DataFrame = {
    val keys = df.select(col(id).as("__id"),
        explode(deleteNeighborhood(col(text), maxDist)).as("__del"))
      .select(col("__id"), xxhash64(col("__del")).as("__k"))
      .distinct()
    val keep =
      if (maxBucketSize > 0) size(col("__ids")).between(2, maxBucketSize)
      else size(col("__ids")) >= 2
    val cand = materializeOnce(keys.groupBy(col("__k"))
      .agg(sort_array(collect_list(col("__id"))).as("__ids"))
      .where(keep)
      .select(explode(pairsFromSorted(col("__ids"))).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .distinct())
    // exact verify: texts re-attach to the candidates only (semi-join
    // + two narrow joins — the minhashLshPairsVerified shape)
    val ids = cand.select(col("id_a").as("__cid"))
      .union(cand.select(col("id_b").as("__cid"))).distinct()
    val txt = df.join(ids, col(id) === col("__cid"), "left_semi")
      .select(col(id).as("__t_id"), col(text).as("__t"))
    val withA = cand.join(txt, col("id_a") === col("__t_id"))
      .select(col("id_a"), col("id_b"), col("__t").as("__t_a"))
    withA.join(txt, col("id_b") === col("__t_id"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__t_a"), col("__t")).cast("long").as("dist"))
      .where(col("dist") <= maxDist)
  }

  /** Bucket-skew guard: drop rows of buckets larger than the cap
    * (0 = off). The count aggregates only the narrow bucket key
    * (columns pruned — the wide signature arrays never shuffle) and
    * anti-joins back. With the default cap (1000) the oversized list
    * is degenerate hashes only — tiny, and AQE broadcasts it on its
    * own; no broadcast hint is forced, so a small user-supplied cap
    * (where the list can be a large fraction of all buckets) degrades
    * to a shuffled anti-join instead of a driver-side size cliff. A
    * window-function formulation would shuffle + sort the full wide
    * rows instead.
    *
    * Recall loss is never silent: the dropped-bucket count is
    * registered as the "graft.lsh.cap"/`capped_buckets` observed
    * metric (Spark UI SQL tab; `queryExecution.observedMetrics` with
    * AQE off — under AQE the node sits inside a materialized query
    * stage that the metric traversal cannot see, a Spark limitation),
    * and [[lshBucketStats]] reports the exact over-cap buckets with a
    * single narrow aggregate — the reliable audit path at any scale. */
  private def capBuckets(banded: DataFrame, bucket: Column, cap: Int): DataFrame =
    if (cap <= 0) banded
    else {
      val big = banded.groupBy(bucket.as("__bk")).agg(count(lit(1)).as("__bn"))
        .where(col("__bn") > cap).select(col("__bk"))
        .observe("graft.lsh.cap", count(lit(1)).as("capped_buckets"))
      banded.join(big, bucket === col("__bk"), "left_anti")
    }

  /** Audit the LSH bucket-size distribution for a corpus: one row per
    * band bucket holding more than `minSize` docs, with its size —
    * exactly the buckets [[minhashLshPairs]] would drop at
    * `maxBucketSize = minSize`, so the recall cost of a cap is
    * measurable before (or after) committing to it. Cost: the fused
    * signature projection + one narrow (band, count) aggregate; no
    * join, no pair blow-up — safe to run at full corpus scale. */
  def lshBucketStats(df: DataFrame, id: String, text: String,
                     n: Int = 3, k: Int = 128, bands: Int = 32,
                     seed: Long = 42L, minSize: Int = 1000): DataFrame =
    minhashSignaturesFused(df, id, col(text), n, k, seed)
      .select(explode(lshBands(col("__sig"), k, bands)).as("__b"))
      .groupBy(col("__b.band").as("band"), col("__b.bh").as("band_hash"))
      .agg(count(lit(1)).as("bucket_size"))
      .where(col("bucket_size") > minSize)

  /** Survivor-selection on top of any pair set: drop the higher id of
    * each near-dup pair (connected-component-free greedy dedup). */
  def dropNearDups(df: DataFrame, id: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id_b").as("__drop")).distinct(),
      col(id) === col("__drop"), "left_anti")

  // ------------------------------------------------------------------
  // SimHash (Hamming-space near-dup)
  // ------------------------------------------------------------------

  /** Fastest path for whitespace tokens of a string column: the
    * one-pass custom expression (graft.plans.SimHash64) — inline
    * tokenization, no split/explode/shuffle; bit-identical fingerprints
    * to [[simhashFingerprints]] over TextFunctions.tokens. */
  def simhashFingerprintsFused(df: DataFrame, id: String, text: Column): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    df.select(col(id).as("__id"),
      Bridge.column(graft.plans.SimHash64(Bridge.expression(text))).as("__fp"))
  }

  /** Generic scale-path SimHash over any token array: one row per
    * (id, token), then 64 signed-bit sum aggregates in a single groupBy
    * (map-side partials + codegen), reassembled into the 64-bit
    * fingerprint. Returns (id, __fp). */
  def simhashFingerprints(df: DataFrame, id: String, tokens: Column): DataFrame = {
    val exploded = df.select(col(id).as("__id"), explode(tokens).as("__t"))
      .select(col("__id"), xxhash64(col("__t")).as("__h"))
    val aggs = (0 until 64).map(j =>
      sum(when(shr(col("__h"), lit(j)).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"__c$j"))
    exploded.groupBy(col("__id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("__id"),
        (0 until 64).map(j => when(col(s"__c$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("__fp"))
  }

  /** 64-bit SimHash over a token array: per bit j, sign of
    * sum_tokens(bit_j(xxhash64(token)) ? +1 : -1). Columnar: fold a
    * 64-vector of counts, then reassemble the sign bits. Expression
    * form — for the scale path use [[simhashFingerprints]]. */
  def simhash64(tokens: Column): Column = {
    val counts = aggregate(
      tokens,
      array_repeat(lit(0), 64),
      (acc, t) => zip_with(acc, transform(sequence(lit(0), lit(63)),
        j => when(shr(xxhash64(t), j).bitwiseAND(1) === 1, 1).otherwise(-1)), (a, b) => a + b))
    aggregate(
      zip_with(counts, sequence(lit(0), lit(63)),
        (c, j) => when(c > 0, shl(lit(1L), j)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Cross-engine-replayable SimHash fingerprints: token bits come
    * from md5 hex digits instead of xxhash64, so the WHOLE simhash
    * pipeline (fingerprint + pigeonhole pairing) replays in any SQL
    * engine with md5/strpos/bit ops — the supplied-artifact oracle
    * tier (same role as the supplied-centroid tier of
    * clusterBalancedSample). 60-bit on purpose: the fingerprint
    * assembles bit j as `1 << j`, and DuckDB's BIGINT `<<` throws on
    * shift 63 (measured), so bits 0..59 from the first 15 hex digits
    * keep both engines in safe signed range. Hamming semantics and
    * the pigeonhole pairing are unchanged (top 4 bits are constant 0
    * — every pair trivially agrees on them). Shape matches
    * [[simhashFingerprints]]: one explode + one 60-partial groupBy —
    * the scale path; production fingerprints stay the fused xxhash64
    * kernel ([[simhashFingerprintsFused]]), which is both faster and
    * better-mixed. Returns (__id, __fp). */
  def simhashFingerprintsMd5(df: DataFrame, id: String, tokens: Column): DataFrame = {
    val exploded = df.select(col(id).as("__id"), explode(tokens).as("__t"))
      .select(col("__id"), md5(col("__t")).as("__h"))
    // decode each of the 15 hex digits once; bit j then reads digit
    // j/4's bit j%4 — integer ops only, exact in every engine
    val withDigits = exploded.select(col("__id") +:
      (0 until 15).map(i => conv(substring(col("__h"), i + 1, 1), 16, 10)
        .cast("int").as(s"__d$i")): _*)
    val aggs = (0 until 60).map { j =>
      val bit = shr(col(s"__d${j / 4}"), lit(j % 4)).bitwiseAND(lit(1))
      sum(when(bit === 1, 1).otherwise(-1)).as(s"__c$j")
    }
    withDigits.groupBy(col("__id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("__id"),
        (0 until 60).map(j => when(col(s"__c$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("__fp"))
  }

  /** Pigeonhole pairing over SUPPLIED fingerprints — the public
    * entry for callers that persist fingerprints (or compute them via
    * [[simhashFingerprintsMd5]]) and only need the candidate
    * generation + exact-Hamming verify. Same multi-block pigeonhole
    * as [[simhashPairs]]; `id` values must be unique. */
  def simhashPairsFp(df: DataFrame, id: String, fp: Column, maxDist: Int = 3,
                     agreeBlocks: Int = 0): DataFrame =
    simhashPairsFromFp(
      materializeOnce(df.select(col(id).as("__id"), fp.as("__fp"))),
      maxDist, agreeBlocks)

  /** Near-dup pairs with hamming distance <= maxDist via multi-block
    * pigeonhole tables (see [[simhashPairsFromFp]]): shuffles on
    * derived block-combination keys, never all-pairs. `agreeBlocks`
    * trades rows-per-doc (C(maxDist+agreeBlocks, agreeBlocks) keys)
    * for key width; 0 (default) auto-selects by key width, 1 is the
    * classic single-block pigeonhole. Output is identical at any
    * setting (complete recall by construction + exact hamming
    * re-check). */
  def simhashPairs(df: DataFrame, id: String, tokens: Column, maxDist: Int = 3,
                   agreeBlocks: Int = 0): DataFrame =
    simhashPairsFromFp(materializeOnce(simhashFingerprints(df, id, tokens)),
      maxDist, agreeBlocks)

  /** Pigeonhole pairing over a text column via the fused expression. */
  def simhashPairsText(df: DataFrame, id: String, text: Column, maxDist: Int = 3,
                       agreeBlocks: Int = 0): DataFrame =
    simhashPairsFromFp(materializeOnce(simhashFingerprintsFused(df, id, text)),
      maxDist, agreeBlocks)

  /** Multi-block pigeonhole candidate generation in the style of
    * Manku/Jain/Sarma 2007 (near-duplicate detection for web
    * crawling), streamed through a self-join.
    *
    * The fingerprint splits into `blocks = maxDist + agreeBlocks`
    * bit-blocks; a pair within hamming distance maxDist differs in at
    * most maxDist blocks, so it agrees ENTIRELY on at least
    * `agreeBlocks` of them — some C(blocks, agreeBlocks) combination
    * matches on all its blocks. Each table keys on one combination's
    * concatenated block values, so key cardinality is
    * ~2^(agreeBlocks·64/blocks) instead of the single-block form's
    * 2^(64/(maxDist+1)): at maxDist=7, agreeBlocks=2 that is 36 tables
    * on ~14-bit keys vs 8 tables on 8-bit keys — ~120× fewer candidate
    * pairs at sf0.1, and the gap GROWS with the corpus since in-bucket
    * work is quadratic in corpus/2^keyBits. agreeBlocks=1 degenerates
    * to the classic one-block pigeonhole. Recall is complete by
    * construction at any setting; candidates re-check exact hamming.
    *
    * Shape notes (measured, sf0.1): the candidate join must STREAM —
    * the collect_list bucket form that [[lshCandidates]] proved for
    * minhash materializes each bucket's pair array in one row
    * (O(bucket²) allocation; 4.3 s vs 1.2 s here even with the 8-bit
    * keys, and natural-text simhash bits are biased so buckets skew).
    * Two exchanges of narrow (key, id, fp) rows are the cheap side of
    * that trade at any scale. A pair agreeing on several tables is
    * emitted once per agreeing table; the distinct collapses those on
    * narrow (id_a, id_b, hamming) rows. Ids are expected unique
    * (id_a < id_b kills self-pairs; see the caller Scaladocs).
    *
    * `agreeBlocks = 0` (default) auto-selects: 1 when the single-block
    * key is already >= 16 bits (maxDist <= 3), else 2. The crossover is
    * corpus-size-dependent — at sf0.1 (5k docs) single-block measures
    * faster even at maxDist=7 (0.9 s vs 1.6 s: the C(9,2)=36-keys/doc
    * explosion outweighs the 6.8M→55k candidate reduction when
    * candidates are this cheap) — but in-bucket work grows with
    * corpus²/2^keyBits, so at corpus scale the wide-key form is the
    * only shape that survives; the auto rule bounds the per-key
    * collision rate rather than chasing the small-corpus constant. */
  private[graft] def simhashPairsFromFp(fp: DataFrame, maxDist: Int,
                                        agreeBlocksOpt: Int = 0): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(agreeBlocksOpt >= 0, s"agreeBlocks must be >= 0 (0 = auto), got $agreeBlocksOpt")
    val agreeBlocks =
      if (agreeBlocksOpt > 0) agreeBlocksOpt
      else if (64 / (maxDist + 1) >= 16) 1 else 2
    val blocks = maxDist + agreeBlocks
    require(blocks <= 64, s"maxDist + agreeBlocks must be <= 64, got $blocks")
    // uneven split: the first 64 % blocks blocks get one extra bit
    val widths = Array.tabulate(blocks)(i => 64 / blocks + (if (i < 64 % blocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def blockVal(c: Column, i: Int): Column =
      if (widths(i) == 64) c
      else shru(c, lit(offsets(i))).bitwiseAND(lit((1L << widths(i)) - 1))
    val combs = (0 until blocks).combinations(agreeBlocks).toArray
    val keys = array(combs.zipWithIndex.map { case (comb, t) =>
      struct(lit(t).as("t") +:
        comb.zipWithIndex.map { case (b, pos) =>
          blockVal(col("__fp"), b).as(s"k$pos") }: _*)
    }: _*)
    val keyed = fp.select(explode(keys).as("__k"), col("__id"), col("__fp"))
    val l = keyed.select(col("__k").as("__ka"), col("__id").as("id_a"),
      col("__fp").as("fp_a"))
    val r = keyed.select(col("__k").as("__kb"), col("__id").as("id_b"),
      col("__fp").as("fp_b"))
    l.join(r, col("__ka") === col("__kb") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming64(col("fp_a"), col("fp_b")).as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()
  }

  // ------------------------------------------------------------------
  // Exact substring dedup (Lee et al. 2022, "Deduplicating Training
  // Data Makes Language Models Better" — the ExactSubstr operator).
  // The paper builds a corpus-wide suffix array; a faithful
  // distributed suffix array is out of scope, so this is the bounded
  // tier: content-defined (winnowing) anchor seeds + exact
  // extension/verify joins — complete recall for maximal duplicated
  // spans of length >= minLen by the winnowing guarantee, never
  // all-pairs.
  // ------------------------------------------------------------------

  /** Positioned winnowing anchor sites: (id, pos, gram hash) rows
    * where the k-gram starting at `pos` (1-based, code points) has
    * the minimum hash of at least one w-window of gram starts —
    * Schleimer et al.'s scheme with a leftmost-(hash, pos) tie-break.
    *
    * The load-bearing property for substring dedup: anchor selection
    * is a pure function of CONTENT, so every copy of a duplicated
    * substring selects anchors at identical offsets from its own
    * start — alignment-free, which is exactly what the fixed-grid
    * strip families cannot give. Any duplicated span of length
    * >= w + k - 1 contains at least one full window and therefore at
    * least one shared anchor (complete recall of the seed stage).
    *
    * Columnar: per doc, one hash array + one windowed-min transform —
    * O(len · w) work inside codegen, no shuffle (the kernel-fusion
    * headroom of an O(len) monotonic-deque pass is noted, not built:
    * the anchor pass is a fraction of the family's verify joins at
    * current scales). Docs with fewer than w grams produce no sites
    * (they cannot contain a qualifying span). `gramHash` picks the
    * tier: xxhash64 (production) or md5-prefix (oracle twin — the
    * winnowingFingerprintsByMd5 trick, replayable via DuckDB's
    * ('0x' || md5-prefix)::BIGINT). */
  private[graft] def anchorSites(df: DataFrame, id: String, text: Column,
                                 k: Int, w: Int, byMd5: Boolean): DataFrame = {
    require(k >= 1 && w >= 2, s"k $k must be >= 1 and w $w >= 2")
    import org.apache.spark.sql.graft.Bridge
    // one-pass monotone-deque kernel (graft.plans.WinnowAnchors) —
    // replaces the columnar transform/slice/array_min form, which was
    // O(len·w) per doc plus one substring Column object (and, on the
    // md5 tier, a hex conv chain) per gram; the kernel is differential-
    // spec'd equal to the columnar form on both hash tiers
    // (test-scope ReferenceForms.anchorSitesColumnar is the spec's reference).
    // The generator child stays INLINE (the InferFiltersFromGenerate
    // triple-evaluation trap — see q_decontaminate).
    df.select(col(id).as("__id"), text.as("__t"))
      .select(col("__id"), explode(Bridge.column(graft.plans.WinnowAnchors(
        Bridge.expression(col("__t")), k, w, byMd5))).as("__a"))
      .select(col("__id"), col("__a.p").as("__pos"), col("__a.h").as("__h"))
  }

  /** Maximal duplicated-span pairs of length >= `minLen` code points,
    * corpus-wide (across docs AND within a doc) — the discovery stage
    * of exact substring dedup. Pipeline:
    *
    *  1. anchor sites ([[anchorSites]]) with k = minLen/2,
    *     w = minLen - k + 1, so w + k - 1 = minLen and the winnowing
    *     guarantee covers every qualifying span;
    *  2. ONE groupBy shuffle on the anchor hash collecting each
    *     bucket's sorted (id, pos) sites, in-place pair emission +
    *     narrow distinct (the minhash/lshCosinePairs candidate
    *     shape); Σ bucket² bounds the work, `maxBucketSize` caps a
    *     degenerate bucket (0 = uncapped, the oracle setting —
    *     audit with [[anchorBucketStats]] before capping);
    *  3. texts re-attach to the (tiny) candidate set via semi-joined
    *     broadcast joins — the corpus never rides the hash shuffle;
    *  4. exact verification + maximal extension: the seed grams must
    *     match char-for-char (hash collisions die here), then the
    *     span extends left/right by code-point LCP
    *     ([[graft.plans.CommonPrefixLen]] on the suffixes / reversed
    *     prefixes) and keeps `len >= minLen`. Every anchor inside one
    *     maximal span extends to the SAME span tuple — the final
    *     distinct collapses them.
    *
    * Output: (id_a, start_a, id_b, start_b, len), starts 1-based in
    * code points, (id_a, start_a) < (id_b, start_b); same-doc pairs
    * have id_a = id_b (within-doc repetition — a periodic string
    * reports overlapping pairs, the standard suffix-array behavior).
    * Ids must be unique. Recall is complete at maxBucketSize = 0;
    * precision is exact at any setting (step 4 verifies characters,
    * never hashes). `byMd5` switches the anchor hash to the
    * SQL-replayable md5 tier (the oracle path; xxhash64 is the
    * production default). */
  def duplicateSpanPairs(df: DataFrame, id: String, text: String,
                         minLen: Int, maxBucketSize: Int = 1000,
                         byMd5: Boolean = false): DataFrame = {
    require(minLen >= 4, s"minLen must be >= 4, got $minLen")
    val k = minLen / 2
    val w = minLen - k + 1
    val anchors = anchorSites(df, id, col(text), k, w, byMd5)
    val sites = anchors.select(col("__h"),
      struct(col("__id").as("id"), col("__pos").as("pos")).as("__s"))
    val keep =
      if (maxBucketSize > 0) size(col("__ss")).between(2, maxBucketSize)
      else size(col("__ss")) >= 2
    val cand = sites.groupBy(col("__h"))
      .agg(sort_array(collect_list(col("__s"))).as("__ss"))
      .where(keep)
      .select(explode(pairsFromSorted(col("__ss"))).as("__p"))
      .select(col("__p.id_a.id").as("id_a"), col("__p.id_a.pos").as("pa"),
        col("__p.id_b.id").as("id_b"), col("__p.id_b.pos").as("pb"))
      .distinct()
    val texts = df.select(col(id).as("__tid"), col(text).as("__tx"))
    val ids = cand.select(col("id_a").as("__cid"))
      .union(cand.select(col("id_b"))).distinct()
    val tSel = texts.join(ids, col("__tid") === col("__cid"), "left_semi")
    val joined = cand
      .join(tSel.select(col("__tid").as("__ta_id"), col("__tx").as("__ta")),
        col("id_a") === col("__ta_id"))
      .join(tSel.select(col("__tid").as("__tb_id"), col("__tx").as("__tb")),
        col("id_b") === col("__tb_id"))
    import org.apache.spark.sql.graft.Bridge
    def lcp(a: Column, b: Column): Column = Bridge.column(
      graft.plans.CommonPrefixLen(Bridge.expression(a), Bridge.expression(b)))
    val ta = col("__ta"); val tb = col("__tb")
    val pa = col("__pa2"); val pb = col("__pb2")
    val withExt = joined
      .select(col("id_a"), col("pa").as("__pa2"),
        col("id_b"), col("pb").as("__pb2"), ta, tb)
      .where(substr(ta, pa, k) === substr(tb, pb, k))
      .withColumn("__right", lcp(
        call_function("substring", ta, pa + k, length(ta)),
        call_function("substring", tb, pb + k, length(tb))))
      .withColumn("__left", lcp(
        reverse(call_function("substring", ta, lit(1), pa - 1)),
        reverse(call_function("substring", tb, lit(1), pb - 1))))
    withExt
      .select(col("id_a"), (pa - col("__left")).as("start_a"),
        col("id_b"), (pb - col("__left")).as("start_b"),
        (col("__left") + col("__right") + lit(k)).as("len"))
      .where(col("len") >= minLen)
      .distinct()
  }

  /** Bucket-size audit for [[duplicateSpanPairs]]'s anchor-hash
    * shuffle: one row per anchor hash held by more than `minSize`
    * sites — exactly the buckets a `maxBucketSize = minSize` cap
    * would drop. The twin of [[lshBucketStats]]. */
  def anchorBucketStats(df: DataFrame, id: String, text: String,
                        minLen: Int, minSize: Int = 1000,
                        byMd5: Boolean = false): DataFrame = {
    val k = minLen / 2
    val w = minLen - k + 1
    anchorSites(df, id, col(text), k, w, byMd5)
      .groupBy(col("__h").as("anchor_hash"))
      .agg(count(lit(1)).as("bucket_size"))
      .where(col("bucket_size") > minSize)
  }

  /** Exact substring DEDUP — the cut stage: remove every maximal
    * duplicated span's non-first occurrences from the corpus, keep
    * the earliest (smallest (id, start)) copy — Lee et al.'s
    * ExactSubstr semantics at this tier's granularity (spans >=
    * minLen; within-doc repeats cut too). Every b-side span of
    * [[duplicateSpanPairs]] is a non-first occurrence (pairs order by
    * (id, start)); per doc the b-side intervals merge (overlaps and
    * adjacencies union) and the survivors splice back together — one
    * narrow span shuffle + one broadcast-back join, the corpus text
    * passes once.
    *
    * Note the documented approximation inherited from cutting (the
    * paper shares it): splicing can create NEW junction strings, and
    * a span that duplicates an already-cut span still cuts (its
    * "first occurrence" may itself have been removed as part of a
    * larger span) — the guarantee is that no two KEPT copies of a
    * >= minLen span both survive, not that the output is minimal.
    * Output: (`id`, `text`) with non-first duplicated spans removed;
    * docs without cuts pass through unchanged. */
  def stripDuplicateSpans(df: DataFrame, id: String, text: String,
                          minLen: Int, maxBucketSize: Int = 1000,
                          byMd5: Boolean = false): DataFrame = {
    val spans = duplicateSpanPairs(df, id, text, minLen, maxBucketSize, byMd5)
    val iv = spans.select(col("id_b").as("__did"),
        struct(col("start_b").as("s"),
          (col("start_b") + col("len")).as("e")).as("__iv"))
      .distinct()
    val merged = iv.groupBy(col("__did"))
      .agg(sort_array(collect_list(col("__iv"))).as("__ivs"))
      .select(col("__did"),
        aggregate(col("__ivs"), array().cast("array<struct<s:int,e:int>>"),
          (acc, x) => when(size(acc) > 0 &&
              element_at(acc, -1).getField("e") >= x.getField("s"),
            concat(slice(acc, lit(1), size(acc) - 1),
              array(struct(element_at(acc, -1).getField("s").as("s"),
                greatest(element_at(acc, -1).getField("e"),
                  x.getField("e")).as("e")))))
            .otherwise(concat(acc, array(x)))).as("__m"))
    val t = col(text)
    df.join(merged, col(id) === col("__did"), "left")
      .select(col(id),
        when(col("__m").isNull, t).otherwise(
          aggregate(col("__m"),
            struct(lit(1).as("cur"), lit("").as("out")),
            (st, ivv) => struct(ivv.getField("e").as("cur"),
              concat(st.getField("out"),
                call_function("substring", t, st.getField("cur"),
                  ivv.getField("s") - st.getField("cur"))).as("out")),
            st => concat(st.getField("out"),
              call_function("substring", t, st.getField("cur"), length(t)))))
          .as(text))
  }

  /** TOKEN-granular exact substring dedup — Lee et al.'s published
    * unit is 50 BPE tokens, not code points; this tier closes that
    * fidelity gap as a thin wrapper over the char machinery:
    *
    *  1. BPE-tokenize ([[graft.functions.TextFunctions.bpeTokens]])
    *     and join the token stream with U+001F (a separator that
    *     cannot occur inside tokens — tokens are pieces of
    *     whitespace-split words, and U+001F is neither whitespace nor
    *     printable corpus text; same contract as the BPE oracle's
    *     chr(31) encoding);
    *  2. run [[duplicateSpanPairs]] on the surrogate text with char
    *     minLen = 2·minTokens − 1: every token contributes ≥ 2 chars
    *     (≥ 1 content char + its separator, last token exempt), so a
    *     duplicated run of minTokens tokens spans ≥ that many chars —
    *     complete recall survives the wrapping;
    *  3. trim each maximal char span to WHOLE shared tokens: the
    *     boundary fragments are kept only when the span sits on a
    *     token boundary in BOTH docs (inner separators are shared
    *     content, so the trimmed relative offsets are identical on
    *     the two sides), then convert to token offsets by counting
    *     separators — all columnar arithmetic on the candidate-sized
    *     pair set, SQL-replayable for the oracle.
    *
    * Output: (id_a, tok_start_a, id_b, tok_start_b, n_tokens),
    * starts 1-based in tokens, pairs with fewer than minTokens whole
    * shared tokens dropped; precision exact (chars of real tokens are
    * compared, never hashes). 100 TB: adds one zero-shuffle tokenize
    * projection + candidate-sized trim arithmetic on top of the char
    * tier's single anchor shuffle. */
  def duplicateTokenSpanPairs(df: DataFrame, id: String, text: String,
                              minTokens: Int,
                              merges: Seq[(String, String)],
                              maxBucketSize: Int = 1000,
                              byMd5: Boolean = false): DataFrame = {
    require(minTokens >= 3, s"minTokens must be >= 3, got $minTokens")
    val sep = "\u001f"
    // U+001E/U+001F are the surrogate separators (here and inside
    // bpeTokens' word encoding); they are NOT regex whitespace, so a
    // document carrying them would keep them inside tokens and corrupt
    // the separator-count offset/trim arithmetic below. Strip them up
    // front (mirrored in the oracle) so the separator contract holds
    // on any input, not just clean corpora.
    val cleaned = regexp_replace(col(text), "[\\x{001e}\\x{001f}]", "")
    val u = materializeOnce(df.select(col(id).as("__id"),
      array_join(graft.functions.TextFunctions.bpeTokens(cleaned, merges), sep)
        .as("__u")))
    val spans = duplicateSpanPairs(u, "__id", "__u",
      2 * minTokens - 1, maxBucketSize, byMd5)
    val j = spans
      .join(u.select(col("__id").as("__ida"), col("__u").as("__ua")),
        col("id_a") === col("__ida"))
      .join(u.select(col("__id").as("__idb"), col("__u").as("__ub")),
        col("id_b") === col("__idb"))
    val ea = col("start_a") + col("len") - 1
    val eb = col("start_b") + col("len") - 1
    val atStartA = col("start_a") === 1 ||
      col("__ua").substr(col("start_a") - 1, lit(1)) === sep
    val atStartB = col("start_b") === 1 ||
      col("__ub").substr(col("start_b") - 1, lit(1)) === sep
    val atEndA = ea === length(col("__ua")) ||
      col("__ua").substr(ea + 1, lit(1)) === sep
    val atEndB = eb === length(col("__ub")) ||
      col("__ub").substr(eb + 1, lit(1)) === sep
    val sub = col("__ua").substr(col("start_a"), col("len"))
    val trimmed = j
      .withColumn("__sub", sub)
      // relative [r0, r1] of the whole-token core inside the span;
      // null = no complete token boundary inside → pair drops
      .withColumn("__r0", when(atStartA && atStartB, lit(1))
        .when(locate(sep, col("__sub")) > 0, locate(sep, col("__sub")) + 1))
      .withColumn("__r1", when(atEndA && atEndB, length(col("__sub")))
        .when(locate(sep, reverse(col("__sub"))) > 0,
          length(col("__sub")) - locate(sep, reverse(col("__sub")))))
      .where(col("__r0").isNotNull && col("__r1").isNotNull &&
        col("__r1") >= col("__r0"))
      .withColumn("__core",
        col("__sub").substr(col("__r0"), col("__r1") - col("__r0") + 1))
      .withColumn("n_tokens",
        (length(col("__core")) -
          length(regexp_replace(col("__core"), sep, "")) + 1).cast("long"))
      .where(col("n_tokens") >= minTokens)
    def tokStart(uCol: Column, charStart: Column): Column = {
      val pre = uCol.substr(lit(1), charStart - 1)
      (length(pre) - length(regexp_replace(pre, sep, "")) + 1).cast("long")
    }
    trimmed
      .select(col("id_a"),
        tokStart(col("__ua"), col("start_a") + col("__r0") - 1).as("tok_start_a"),
        col("id_b"),
        tokStart(col("__ub"), col("start_b") + col("__r0") - 1).as("tok_start_b"),
        col("n_tokens"))
      .distinct()
  }
}
