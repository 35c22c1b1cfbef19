package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Dedup, Multimodal, ReferenceForms, Similarity, TextFunctions}

class DedupSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  // corpus with one engineered near-dup pair and distinct others
  def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy cat again and again"), // near-dup of 1
    (3L, "completely different content about database query engines"),
    (4L, "yet another unrelated string talking about sailing ships")
  ).toDF("id", "text")

  test("ngramContainmentPairs: prefix filter complete vs brute force; asymmetry; stop-gram cap") {
    def gramSet(text: String, n: Int): Set[String] = {
      val t = text.split("\\s+").filter(_.nonEmpty)
      if (t.length < n) Set.empty
      else t.sliding(n).map(_.mkString(" ")).toSet
    }
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e")
    def randDoc(len: Int): String =
      (0 until len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val big = randDoc(40)
    val smallIn = big.split(" ").slice(5, 13).mkString(" ") // quoted span
    val docs = Seq((0L, big), (1L, smallIn), (2L, randDoc(30)),
      (3L, randDoc(4)), (4L, "a b")) ++ // 4 has NO trigram set
      (5L until 25L).map(i => (i, randDoc(6 + rnd.nextInt(20))))
    val df = docs.toDF("id", "s").repartition(5)
    for (t <- Seq(0.6, 0.8)) {
      val want = (for {
        (ia, sa) <- docs; (ib, sb) <- docs if ia != ib
        ga = gramSet(sa, 3) if ga.nonEmpty
        gb = gramSet(sb, 3) if gb.nonEmpty
        c = (ga & gb).size.toDouble / ga.size if c >= t
      } yield (ia, ib, c)).toSet
      val got = Dedup.ngramContainmentPairs(df, "id", "s", n = 3,
          minContainment = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got == want, s"t=$t: missing=${(want -- got).take(5)} " +
        s"extra=${(got -- want).take(5)}")
    }
    // the engineered quote: small-in-big hits 1.0 one way only
    val pairs = Dedup.ngramContainmentPairs(df, "id", "s",
        n = 3, minContainment = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 0L && p._3 == 1.0),
      pairs.toSeq.toString)
    assert(!pairs.exists(p => p._1 == 0L && p._2 == 1L),
      pairs.toSeq.toString)
    // stop-gram cap: identical twins' grams all have df 2 > 1 -> the
    // capped index drops them (recall-only loss), uncapped finds them
    val twins = Seq((1L, "x y z w"), (2L, "x y z w")).toDF("id", "s")
    assert(Dedup.ngramContainmentPairs(twins, "id", "s", n = 3,
      minContainment = 0.5, maxDocFreq = 1).count() == 0)
    assert(Dedup.ngramContainmentPairs(twins, "id", "s", n = 3,
      minContainment = 0.5).count() == 2)
  }

  test("jaccardPairsExact: prefix join == brute-force all-pairs; boundary; stop-gram cap") {
    val rnd = new scala.util.Random(7)
    def randDoc(len: Int): String =
      (0 until len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val base = randDoc(60)
    val fixture = Seq((0L, base), (1L, base.updated(30, 'z')), // near-dup of 0
        (2L, randDoc(40)), (3L, "ab"), (4L, "")) ++ // sub-n-length + empty
      (5L until 30L).map(i => (i, randDoc(10 + rnd.nextInt(50))))
    val df = fixture.toDF("id", "s").repartition(7)
    for (t <- Seq(0.5, 0.8, 0.9)) {
      // reference = the retained naive all-pairs form (ngramJaccardPairs
      // itself DELEGATES to the prefix machinery since r13 — using it
      // here would compare the operator to itself)
      val want = ReferenceForms.ngramJaccardPairsAllPairs(df, "id", "s", 5, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val got = Dedup.jaccardPairsExact(df, "id", "s", 5, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got == want, s"t=$t: missing=${(want -- got).take(5)} " +
        s"extra=${(got -- want).take(5)}")
    }
    // blocked form: delegate == naive, blocks honored (only same-block
    // pairs), and the block key rides the prefix JOIN (cross-block
    // docs sharing every gram never pair)
    val blocked = fixture.map { case (i, s0) =>
      (i, s0, if (i % 2 == 0) "b0" else "b1")
    }.toDF("id", "s", "blk").repartition(5)
    for (t <- Seq(0.5, 0.9)) {
      val wantB = ReferenceForms.ngramJaccardPairsAllPairs(blocked, "id", "s", 5, t,
          blockBy = Some("blk"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val gotB = Dedup.ngramJaccardPairs(blocked, "id", "s", 5, t,
          blockBy = Some("blk"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(gotB == wantB, s"blocked t=$t")
      assert(gotB.forall { case (a, b, _) => (a % 2) == (b % 2) })
    }
    val crossTwins = Seq((1L, "p q r s t u", "x"), (2L, "p q r s t u", "y"))
      .toDF("id", "s", "blk")
    assert(Dedup.ngramJaccardPairs(crossTwins, "id", "s", 5, 0.9,
      blockBy = Some("blk")).count() == 0)
    // exact threshold boundary with integral t*n (the fp-hazard corner):
    // grams("abcdefgh", 5) = 4, grams("abcdef", 5) = 2 shared -> J = 0.5
    // exactly, and t*max = 0.5*4 = 2 = min exactly
    val edge = Seq((1L, "abcdefgh"), (2L, "abcdef")).toDF("id", "s")
    val hit = Dedup.jaccardPairsExact(edge, "id", "s", 5, 0.5).collect()
    assert(hit.length == 1 && hit(0).getDouble(2) == 0.5, hit.toSeq.toString)
    // stop-gram cap: twins' shared grams have df 2 > 1 -> dropped from
    // the prefix index (recall-only loss), uncapped finds the pair
    val twins = Seq((1L, "x y z w v u"), (2L, "x y z w v u")).toDF("id", "s")
    assert(Dedup.jaccardPairsExact(twins, "id", "s", 5, 0.9,
      maxDocFreq = 1).count() == 0)
    assert(Dedup.jaccardPairsExact(twins, "id", "s", 5, 0.9).count() == 1)
  }

  test("jaccardPairsExactArray == driver brute distinct-element Jaccard; empties never pair") {
    val rnd = new scala.util.Random(11)
    // small element pool + duplicate elements in-row (distinctness must
    // bite) + an empty array + a null array
    val rows: Seq[(Long, Seq[Integer])] =
      (0L until 40L).map(i => i -> Seq.fill(2 + rnd.nextInt(6))(
        Integer.valueOf(rnd.nextInt(25)))) ++
      Seq(100L -> Seq.empty[Integer], 101L -> null)
    val df = rows.toDF("id", "items").repartition(5)
    def brute(t: Double): Set[(Long, Long, Double)] = {
      val sets = rows.collect { case (i, xs) if xs != null && xs.nonEmpty =>
        i -> xs.map(_.toInt).toSet }
      (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        i = (sa & sb).size
        u = (sa | sb).size
        j = i.toDouble / u.toDouble if j >= t
      } yield (ia, ib, math.rint(j * 1e6) / 1e6)).toSet
    }
    for (t <- Seq(0.3, 0.5, 0.9)) {
      val got = graft.functions.Dedup.jaccardPairsExactArray(df, "id",
          "items", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val want = brute(t)
      assert(got == want, s"t=$t missing=${(want -- got).take(5)} " +
        s"extra=${(got -- want).take(5)}")
    }
    // NULL elements drop BEFORE anything (SQL semantics — an unknown
    // value matches nothing): rows sharing only nulls never pair, and
    // nulls don't count toward set sizes
    val nulls = Seq(
      200L -> Seq[Integer](1, null, null),
      201L -> Seq[Integer](2, null),
      202L -> Seq[Integer](1, null)).toDF("id", "items")
    val gotN = graft.functions.Dedup.jaccardPairsExactArray(nulls, "id",
        "items", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(gotN == Set((200L, 202L, 1.0)), gotN.toString)
    // identical baskets under the stop-element cap: df 2 > 1 -> dropped
    // (recall-only loss, the jaccardPairsExact contract)
    val twins = Seq(1L -> Seq(7, 8, 9), 2L -> Seq(7, 8, 9))
      .toDF("id", "items")
    assert(graft.functions.Dedup.jaccardPairsExactArray(twins, "id",
      "items", 0.9, maxDocFreq = 1).count() == 0)
    assert(graft.functions.Dedup.jaccardPairsExactArray(twins, "id",
      "items", 0.9).count() == 1)
    // blockBy rides the join key: cross-block twins never pair
    val blocked = Seq((1L, Seq(1, 2, 3), "u"), (2L, Seq(1, 2, 3), "v"),
        (3L, Seq(1, 2, 3), "u")).toDF("id", "items", "blk")
    val gotB = graft.functions.Dedup.jaccardPairsExactArray(blocked, "id",
        "items", 0.9, blockBy = Some("blk"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotB == Set((1L, 3L)))
  }

  test("editDistancePairs: SymSpell blocking complete vs brute force; code-point deletes") {
    // brute-force Levenshtein for the reference side
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // small alphabet + short strings -> dense collisions, all paths
    val rnd = new scala.util.Random(7)
    val strs = (0 until 60).map { i =>
      (i.toLong, (0 until rnd.nextInt(7)).map(_ =>
        ('a' + rnd.nextInt(2)).toChar).mkString)
    }
    val df = strs.toDF("id", "s").repartition(5)
    for (d <- Seq(1, 2)) {
      val want = (for {
        (ia, sa) <- strs; (ib, sb) <- strs if ia < ib
        dist = lev(sa, sb) if dist <= d
      } yield (ia, ib, dist.toLong)).toSet
      val got = Dedup.editDistancePairs(df, "id", "s", maxDist = d,
          maxBucketSize = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"maxDist=$d: missing=${(want -- got).take(5)} " +
        s"extra=${(got -- want).take(5)}")
    }
    // exact duplicates surface as dist-0 pairs
    val dup = Seq((1L, "abc"), (2L, "abc"), (3L, "xyz")).toDF("id", "s")
    val gd = Dedup.editDistancePairs(dup, "id", "s", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(gd.toSeq == Seq((1L, 2L, 0L)), gd.toSeq.toString)
    // the cap bounds degenerate buckets: smaller output, subset, no error
    val many = (0 until 30).map(i => (i.toLong, "aa")).toDF("id", "s")
    val capped = Dedup.editDistancePairs(many, "id", "s", maxDist = 1,
      maxBucketSize = 5)
    assert(capped.count() == 0) // every bucket holds all 30 ids > cap
    // deleteNeighborhood deletes whole CODE POINTS (U+20000 is one)
    val nb = Seq(Tuple1("𠀀a")).toDF("s")
      .select(Dedup.deleteNeighborhood(col("s"), 1).as("n"))
      .head().getSeq[String](0).toSet
    assert(nb == Set("𠀀a", "a", "𠀀"), nb.toString)
  }

  test("charShingles distinct n-grams") {
    val sh = docs.select(Dedup.charShingles($"text", 3).as("s")).head().getSeq[String](0)
    assert(sh.contains("the") && sh.distinct.size == sh.size)
  }

  test("exact ngram jaccard finds the engineered pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", 3, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("fused ShingleHashes == sorted xxhash64 of charShingles, incl. multi-byte text") {
    val df = Seq(
      "the quick brown fox", "héllo wörld déjà vu", "", "ab", "日本語のテキスト"
    ).toDF("text")
    val both = df.select(
      Dedup.shingleHashes($"text", 3).as("fused"),
      array_sort(transform(Dedup.charShingles($"text", 3), s => xxhash64(s))).as("composed"))
    both.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1).distinct.sorted)
    }
  }

  test("decontaminate normalize hook catches case/punct/whitespace-mangled eval prompts") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated text about spark execution engines")
    ).toDF("doc_id", "text")
    // mangled copy of doc 1: uppercased, extra punctuation, doubled spaces
    val bench = Seq((100L, "The  QUICK brown fox, jumps OVER the  lazy dog tonight!"))
      .toDF("bench_id", "bench_text")
    def kept(norm: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Dedup.decontaminate(corpus, "doc_id", "text", bench, "bench_id", "bench_text",
          n = 8, minOverlap = 0.5, normalize = norm)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept(identity) == Set(1L, 2L)) // raw hashing misses the mangled copy
    assert(kept(Dedup.normalizeText) == Set(2L)) // normalized hashing flags it
    // the token-gram twin takes the same hook
    val keptTok = Dedup.decontaminateByTokens(corpus, "doc_id", "text",
        bench, "bench_id", "bench_text", n = 5, minOverlap = 0.5,
        normalize = Dedup.normalizeText)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptTok == Set(2L))
  }

  test("fused TokenShingleHashes == sorted xxhash64 of tokenShingles, incl. edge shapes") {
    // the bit-compat twin matrix: multi-byte UTF-8 tokens, every Java
    // \s separator (incl. vertical tab \x0B), leading/trailing runs,
    // short docs (< n tokens → one gram of all tokens), whitespace-only
    // and empty docs (→ the empty-string hash), repeated grams (dedup)
    val df = Seq(
      "the quick brown fox jumps over the lazy dog",
      "héllo wörld déjà vu 日本語 テキスト",
      "a\tb\ncd\fe\rf  g   h",
      "  leading and trailing  ",
      "one two",   // fewer tokens than n
      "solo", "", "   \t\n ",
      "rep rep rep rep rep rep"  // one distinct trigram repeated
    ).toDF("text")
    for (n <- Seq(1, 3, 5)) {
      val both = df.select(
        Dedup.tokenShingleHashes($"text", n).as("fused"),
        array_sort(transform(
          Dedup.tokenShingles(TextFunctions.tokens($"text"), n),
          s => xxhash64(s))).as("composed"))
      both.collect().foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1).distinct.sorted, s"n=$n")
      }
    }
  }

  test("TokenGrams kernel == columnar per-position gram strings (drop-in twin)") {
    // r15: the NON-dedup (frequency-preserving) sibling of
    // TokenShingles over a token ARRAY child — the columnar HOF form
    // re-evaluates a computed toks per gram position (O(len²));
    // array equality against the exact HOF expression, which encodes
    // the 0-tokens → [""] and <n-tokens → one-short-gram contracts
    import org.apache.spark.sql.graft.Bridge
    def kernel(c: org.apache.spark.sql.Column, n: Int) =
      Bridge.column(graft.plans.TokenGrams(Bridge.expression(c), n))
    val df = Seq(
      "the quick brown fox jumps over the lazy dog",
      "héllo wörld déjà vu 日本語 テキスト",
      "a\tb\ncd\fe\rf  g   h",
      "  leading and trailing  ",
      "one two", "solo", "", "   \t\n ",
      "rep rep rep rep rep rep",
      "b a b a b a c"
    ).toDF("text")
    for (n <- Seq(1, 2, 3, 5)) {
      df.select(
          kernel(TextFunctions.tokens($"text"), n).as("k"),
          ReferenceForms.positionalGramsColumnar(
            TextFunctions.tokens($"text"), n).as("c"))
        .collect().foreach { r =>
          assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n")
        }
    }
    // null ELEMENTS skip without a separator (concat_ws semantics) —
    // unreachable from tokens(), but the kernel is array-generic
    val withNulls = spark.sql(
      "SELECT array('a', CAST(NULL AS STRING), 'b', NULL, 'c') AS ts " +
      "UNION ALL SELECT array(CAST(NULL AS STRING), NULL)")
    withNulls.select(kernel($"ts", 2).as("k"),
        ReferenceForms.positionalGramsColumnar($"ts", 2).as("c"))
      .collect().foreach(r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1)))
    // randomized small-alphabet docs (duplicate grams must KEEP their
    // multiplicity and position order)
    val rnd = new scala.util.Random(43)
    val docs = (1 to 12).map(_ =>
      (1 to rnd.nextInt(60)).map(_ => "ab \t"(rnd.nextInt(4))).mkString)
      .toDF("text")
    docs.select(kernel(TextFunctions.tokens($"text"), 3).as("k"),
        ReferenceForms.positionalGramsColumnar(
          TextFunctions.tokens($"text"), 3).as("c"))
      .collect().foreach(r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1)))
    // strided form == chunkTokens' columnar walk (chunk boundaries,
    // short-tail truncation, the size<=overlap one-chunk clamp)
    val longDocs = (1 to 12).map(_ =>
      (1 to rnd.nextInt(90)).map(_ => "abcde "(rnd.nextInt(6))).mkString)
      .toDF("text") union df
    for ((cs, ov) <- Seq((32, 8), (5, 2), (4, 0), (3, 2))) {
      longDocs.select(
          TextFunctions.chunkTokens(TextFunctions.tokens($"text"), cs, ov).as("k"),
          ReferenceForms.chunkTokensColumnar(
            TextFunctions.tokens($"text"), cs, ov).as("c"))
        .collect().foreach { r =>
          assert(r.getSeq[String](0) == r.getSeq[String](1), s"cs=$cs ov=$ov")
        }
    }
  }

  test("CharShingles kernel == columnar array_distinct substring walk (drop-in twin)") {
    // r15: one-pass string-emitting sibling of ShingleHashes; the
    // columnar walk seeks each code point from the string start.
    // Array equality (first-occurrence dedup order), code-point safe.
    val df = Seq(
      "the quick brown fox", "héllo wörld déjà", "日本語テキストの断片",
      "", "ab", "abcd", "aaaaaaa", "𝄞𝄞𝄞 clef 🎼🎼", "x",
      "mixed ascii と漢字 and more text here"
    ).toDF("text")
    for (n <- Seq(1, 3, 5)) {
      df.select(Dedup.charShingles($"text", n).as("k"),
          ReferenceForms.charShinglesColumnar($"text", n).as("c"))
        .collect().foreach { r =>
          assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n")
        }
    }
    val rnd = new scala.util.Random(45)
    val docs = (1 to 20).map(_ =>
      (1 to rnd.nextInt(60)).map(_ => "abé日 "(rnd.nextInt(5))).mkString)
      .toDF("text")
    docs.select(Dedup.charShingles($"text", 5).as("k"),
        ReferenceForms.charShinglesColumnar($"text", 5).as("c"))
      .collect().foreach(r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("Fingerprint kernel == columnar ascii/substring rolling fold (drop-in twin)") {
    // r15: one-pass rolling polynomial hash; the columnar fold seeks
    // each code point from the string start (O(len²) byte scans).
    // Long equality incl. empty text (→ 0) and multibyte characters
    // (Spark's ascii returns the full Unicode CODE POINT of the first
    // character — 'é'→233, '日'→26085, '𝄞'→119070 — the probed
    // semantics the kernel mirrors; see FingerprintExpr)
    val df = Seq(
      "the quick brown fox", "héllo wörld déjà vu", "日本語テキスト",
      "", " ", "a", "𝄞 clef 🎼 emoji", "mixed ascii と 漢字 1234",
      " ", "long " * 50
    ).toDF("text")
    df.select(TextFunctions.fingerprint($"text").as("k"),
        ReferenceForms.fingerprintColumnar($"text").as("c"))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1), r))
    val rnd = new scala.util.Random(44)
    val docs = (1 to 20).map(_ =>
      (1 to rnd.nextInt(80)).map(_ => "abé日 \t"(rnd.nextInt(6))).mkString)
      .toDF("text")
    docs.select(TextFunctions.fingerprint($"text").as("k"),
        ReferenceForms.fingerprintColumnar($"text").as("c"))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1), r))
  }

  test("TokenShingles kernel == columnar array_distinct gram strings (drop-in twin)") {
    // r13: the string-emitting sibling of TokenShingleHashes — same
    // tokenizer, grams emitted in FIRST-OCCURRENCE order to match
    // array_distinct exactly (array equality, not set equality)
    import org.apache.spark.sql.graft.Bridge
    def kernel(c: org.apache.spark.sql.Column, n: Int) =
      Bridge.column(graft.plans.TokenShingles(Bridge.expression(c), n))
    val df = Seq(
      "the quick brown fox jumps over the lazy dog",
      "héllo wörld déjà vu 日本語 テキスト",
      "a\tb\ncd\fe\rf  g   h",
      "  leading and trailing  ",
      "one two", "solo", "", "   \t\n ",
      "rep rep rep rep rep rep",
      "b a b a b a c"  // first-occurrence order differs from sorted
    ).toDF("text")
    for (n <- Seq(1, 2, 3, 5)) {
      df.select(kernel($"text", n).as("k"),
          Dedup.tokenShingles(TextFunctions.tokens($"text"), n).as("c"))
        .collect().foreach { r =>
          assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n")
        }
    }
    // randomized small-alphabet docs (gram collisions, empty runs)
    val rnd = new scala.util.Random(42)
    val docs = (1 to 12).map(_ =>
      (1 to rnd.nextInt(60)).map(_ => "ab \t"(rnd.nextInt(4))).mkString)
      .toDF("text")
    docs.select(kernel($"text", 3).as("k"),
        Dedup.tokenShingles(TextFunctions.tokens($"text"), 3).as("c"))
      .collect().foreach(r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("SpaceBlocks kernel == columnar split/slice/array_join carving (drop-in twin)") {
    import org.apache.spark.sql.graft.Bridge
    def kernel(c: org.apache.spark.sql.Column, b: Int, off: Int) =
      Bridge.column(graft.plans.SpaceBlocks(Bridge.expression(c), b, off))
    // the EXACT pre-r13 columnar form from stripAlignedPass
    def columnar(c: org.apache.spark.sql.Column, b: Int, off: Int) = {
      val toks = split(c, " ")
      val tail = greatest(size(toks) - off, lit(0))
      val nBlocks = call_function("div", tail + lit(b - 1), lit(b))
      transform(sequence(lit(0L), greatest(nBlocks, lit(1L)) - 1),
        j => array_join(slice(toks, (j * b + off + 1).cast("int"), lit(b)), " "))
    }
    val df = Seq(
      "a b c d e f g h i j",
      "one",
      "",                       // split("") = [""] → one block ""
      "  double  spaces  keep  empties  ",  // empty tokens preserved
      "héllo wörld déjà vu 日本語 テキスト again and more tokens here",
      "trailing space ",
      " leading space"
    ).toDF("text")
    for ((b, off) <- Seq((3, 0), (3, 1), (4, 2), (1, 0), (5, 7), (2, 50))) {
      df.select(kernel($"text", b, off).as("k"),
          columnar($"text", b, off).as("c"))
        .collect().foreach { r =>
          assert(r.getSeq[String](0) == r.getSeq[String](1),
            s"b=$b off=$off text-case mismatch: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
        }
    }
    // randomized: tiny alphabet with space runs
    val rnd = new scala.util.Random(7)
    val docs = (1 to 12).map(_ =>
      (1 to rnd.nextInt(80)).map(_ => "ab  "(rnd.nextInt(4))).mkString)
      .toDF("text")
    for ((b, off) <- Seq((3, 0), (4, 1), (2, 2))) {
      docs.select(kernel($"text", b, off).as("k"),
          columnar($"text", b, off).as("c"))
        .collect().foreach(r =>
          assert(r.getSeq[String](0) == r.getSeq[String](1), s"b=$b off=$off"))
    }
  }

  test("contaminationReport: per-bench counts and worst overlap; clean tasks report zero") {
    val prompt = "what is the capital of france answer in one word"
    val docs = Seq(
      (1L, prompt),                                  // verbatim leak
      (2L, prompt + " plus some extra padding text"), // dominant overlap
      (3L, "entirely unrelated content about rivers and dams")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, prompt), (200L, "a totally unleaked question"))
      .toDF("bench_id", "bench_text")
    val got = Dedup.contaminationReport(docs, "doc_id", "text",
        bench, "bench_id", "bench_text", n = 8, minOverlap = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(100L)._1 == 2L && got(100L)._2 == 1.0, got(100L))
    assert(got(200L) == ((0L, 0.0))) // clean task present with zeros
  }

  test("decontaminateAnyNgram: one shared n-gram drops, shorter overlap survives") {
    val prompt = "what is the capital of france answer in a single word please today"
    val docs = Seq(
      (1L, "padding before " + prompt + " padding after"),    // full 13-gram
      (2L, "what is the capital of france answer differs here entirely now"), // only a 6-token prefix shared
      (3L, "nothing in common with the benchmark at all whatsoever")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, prompt)).toDF("bench_id", "bench_text")
    val kept = Dedup.decontaminateAnyNgram(docs, "doc_id", "text",
        bench, "bench_text", n = 13)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"kept $kept")
    // with a smaller n the prefix overlap also trips the rule
    val kept6 = Dedup.decontaminateAnyNgram(docs, "doc_id", "text",
        bench, "bench_text", n = 6)
      .collect().map(_.getLong(0)).toSet
    assert(kept6 == Set(3L))
  }

  test("decontaminate drops verbatim and dominant-overlap docs, keeps clean ones") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"), // verbatim copy
      (3L, "the quick brown fox jumps over something else entirely here"), // partial
      (4L, "completely unrelated text about spark execution engines")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("bench_id", "bench_text")
    val kept = Dedup.decontaminate(corpus, "doc_id", "text",
        bench, "bench_id", "bench_text", n = 8, minOverlap = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 1,2 are verbatim (overlap 1.0); 3 shares a long prefix but under
    // half its 8-gram set; 4 shares nothing
    assert(kept == Set(3L, 4L))
    // tightening the threshold flags the partial-overlap doc too
    val strict = Dedup.decontaminate(corpus, "doc_id", "text",
        bench, "bench_id", "bench_text", n = 8, minOverlap = 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(strict == Set(4L))
  }

  test("stripRepeatedBlocks deletes corpus-repeated blocks, keeps all docs, idempotent") {
    // block size 3: docs 1, 2, 3 and 5 all open with the aligned block
    // "aa bb cc" (4 occurrences); doc 4 is untouched; doc 5 is ONLY
    // the repeated block → survives emptied.
    val corpus = Seq(
      (1L, "aa bb cc one two three"),
      (2L, "aa bb cc four five six"),
      (3L, "aa bb cc seven eight"),
      (4L, "unique content stays here intact"),
      (5L, "aa bb cc")
    ).toDF("doc_id", "text")
    val out = Dedup.stripRepeatedBlocks(corpus, "doc_id", "text",
        blockTokens = 3, minRepeats = 2)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(
      (1L, "one two three"), (2L, "four five six"), (3L, "seven eight"),
      (4L, "unique content stays here intact"), (5L, "")))
    // idempotent: survivors' blocks only lost occurrences, so a second
    // pass strips nothing new
    val once = Dedup.stripRepeatedBlocks(corpus, "doc_id", "text", 3, 2)
    val twice = Dedup.stripRepeatedBlocks(once, "doc_id", "text", 3, 2)
    assert(twice.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
      .sameElements(out))
    // threshold: minRepeats = 5 keeps everything (max count is 4)
    val loose = Dedup.stripRepeatedBlocks(corpus, "doc_id", "text", 3, 5)
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(loose.toSeq == corpus.orderBy("doc_id").collect().map(_.getString(1)).toSeq)
  }

  test("stripRepeatedBlocks is repartition-invariant and validates args") {
    val corpus = Seq(
      (1L, "aa bb cc one two three"), (2L, "aa bb cc four five six")
    ).toDF("doc_id", "text")
    val a = Dedup.stripRepeatedBlocks(corpus, "doc_id", "text", 3, 2)
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    val b = Dedup.stripRepeatedBlocks(corpus.repartition(7), "doc_id", "text", 3, 2)
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    assert(a == b)
    intercept[IllegalArgumentException] {
      Dedup.stripRepeatedBlocks(corpus, "doc_id", "text", 0, 2)
    }
    intercept[IllegalArgumentException] {
      Dedup.stripRepeatedBlocks(corpus, "doc_id", "text", 3, 1)
    }
  }

  test("stripRepeatedBlocks offsets: half-stride pass catches boundary-straddling runs") {
    // the 4-token run "rr ss tt uu" repeats at token offset 2 in both
    // docs — phase-0 carving (blocks [0..3], [4..7]) never isolates it
    val corpus = Seq(
      (1L, "p1 p2 rr ss tt uu x1 x2"),
      (2L, "q1 q2 rr ss tt uu y1 y2")
    ).toDF("doc_id", "text")
    val phase0 = Dedup.stripRepeatedBlocks(corpus, "doc_id", "text", 4, 2)
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(phase0.toSeq == Seq("p1 p2 rr ss tt uu x1 x2", "q1 q2 rr ss tt uu y1 y2"))
    // the offset-2 pass carves [2..5] — the straddling run repeats and
    // is stripped; the 2-token head stubs are never counted or deleted
    val strided = Dedup.stripRepeatedBlocks(corpus, "doc_id", "text", 4, 2,
        offsets = Seq(0, 2))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(strided.toSeq == Seq("p1 p2 x1 x2", "q1 q2 y1 y2"))
    // docs shorter than the offset survive intact through the off>0 pass
    val short = Seq((1L, "aa"), (2L, "aa"), (3L, "bb cc dd ee ff")).toDF("doc_id", "text")
    val out = Dedup.stripRepeatedBlocks(short, "doc_id", "text", 4, 2, Seq(0, 2))
      .orderBy("doc_id").collect().map(_.getString(1))
    // "aa" repeats as a (partial) phase-0 block and is stripped there;
    // doc 3 is untouched
    assert(out.toSeq == Seq("", "", "bb cc dd ee ff"))
    intercept[IllegalArgumentException] {
      Dedup.stripRepeatedBlocks(corpus, "doc_id", "text", 4, 2, Seq(0, 4))
    }
    intercept[IllegalArgumentException] {
      Dedup.stripRepeatedBlocks(corpus, "doc_id", "text", 4, 2, Seq.empty)
    }
  }

  test("cdcChunks: lossless, shift-robust, repartition-invariant; dup report counts") {
    val base = "the quick brown fox jumps over the lazy dog while the rain " +
      "falls gently on the quiet green fields of the old farm near the river"
    val df = Seq((1L, base), (2L, "x" + base), (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    def chunksOf(d: org.apache.spark.sql.DataFrame) =
      Dedup.cdcChunks(d, "doc_id", "text", window = 8, modulus = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val all = chunksOf(df)
    // lossless: chunks concatenate back to the input, ids 1..n dense
    val byDoc = all.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    assert(byDoc(1L).mkString == base && byDoc(2L).mkString == "x" + base)
    assert(byDoc(3L).toSeq == Seq("")) // empty doc keeps one empty chunk row
    assert(byDoc(4L).toSeq == Seq("")) // null text too — no row silently lost
    // shift-robustness: prepending one char re-phases at most the
    // leading chunks — the common SUFFIX covers all but <= 2 chunks
    // (fixed-window carving would re-phase every block)
    val a = byDoc(1L); val b = byDoc(2L)
    val commonSuffix = a.reverse.zip(b.reverse).takeWhile { case (x, y) => x == y }.size
    assert(commonSuffix >= a.size - 2,
      s"CDC lost shift-robustness: suffix $commonSuffix of ${a.size}\n$a\n$b")
    assert(a.size > 2, s"fixture too short to exercise the property: $a")
    // repartition invariance
    val re = chunksOf(df.repartition(5))
    assert(re.toSet == all.toSet)
    // dup report: duplicate the shared tail across docs 1 and 2 —
    // every common-suffix chunk appears in both
    val dups = Dedup.cdcDupChunks(
        Dedup.cdcChunks(df, "doc_id", "text", window = 8, modulus = 16),
        "doc_id", minDocs = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(dups.length >= commonSuffix - 1, s"dup report too small: ${dups.length}")
    assert(dups.forall { case (_, nd, no) => nd == 2 && no >= 2 })
  }

  test("stripRepeatedCdcChunks removes a shared run even when shifted; docs survive") {
    val run = "the same boilerplate footer appears again here word for word " +
      "in every single page of this site with the same links and the same text"
    val docs = Seq(
      (1L, "unique article about fish ponds and gardens. " + run),
      // shifted context: one extra leading char re-phases fixed blocks
      // but CDC cuts re-synchronize inside the run
      (2L, "x completely different news item on markets today. " + run),
      (3L, "a lone document that shares nothing with the others at all")
    ).toDF("doc_id", "text")
    val out = Dedup.stripRepeatedCdcChunks(docs, "doc_id", "text",
        window = 8, modulus = 16, minRepeats = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L)) // every doc keeps a row
    // the shared run's interior is gone from both carriers
    val mid = run.substring(30, 90)
    assert(!out(1L).contains(mid) && !out(2L).contains(mid),
      s"shared run survived: ${out(1L)}")
    assert(out(1L).length < docs.collect()(0).getString(1).length)
    // the unique doc is untouched (no chunk of it repeats)
    assert(out(3L) == "a lone document that shares nothing with the others at all")
  }

  test("CdcCuts rolling hash == direct per-window fold on random strings; SQL-registered") {
    val rnd = new scala.util.Random(42)
    def directCuts(s: String, w: Int, m: Int): Seq[Int] = {
      val cps = s.codePoints().toArray
      val n = cps.length
      val inner =
        if (n - 1 >= w)
          (w to n - 1).filter { p =>
            val h = cps.slice(p - w, p).foldLeft(0L)((a, c) => (a * 31L + c) % 1000000007L)
            h % m == 0
          }
        else Seq.empty
      inner :+ n
    }
    val strs = (0 until 50).map { i =>
      val len = rnd.nextInt(120)
      val sb = new StringBuilder
      (0 until len).foreach { _ =>
        sb.append(if (rnd.nextBoolean()) ('a' + rnd.nextInt(26)).toChar
          else if (rnd.nextInt(10) == 0) '€' // multi-byte codepoint
          else ' ')
      }
      (i.toLong, sb.toString)
    }
    val got = strs.toDF("id", "t")
      .select($"id", org.apache.spark.sql.graft.Bridge.column(
        graft.plans.CdcCuts(org.apache.spark.sql.graft.Bridge.expression($"t"), 6, 8)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    strs.foreach { case (id, s) =>
      assert(got(id) == directCuts(s, 6, 8), s"mismatch on ${s.take(40)}...")
    }
    // SQL registration
    val sql = spark.sql("SELECT cdc_cuts('hello world hello world again', 6, 8)")
      .head().getSeq[Int](0)
    assert(sql == directCuts("hello world hello world again", 6, 8))
  }

  test("stripRepeatedLines drops corpus-repeated lines, normalized match, order kept") {
    // "cookie notice here" repeats in docs 1, 2, 3 — in doc 3 as a
    // case/punctuation variant that only the normalized key catches.
    // Unique lines survive in original form and original order.
    val corpus = Seq(
      (1L, "cookie notice here\nreal article one\nreal article two"),
      (2L, "intro line\ncookie notice here\noutro line"),
      (3L, "Cookie  Notice, HERE!\nfresh content"),
      (4L, "standalone document with one line")
    ).toDF("doc_id", "text")
    val out = Dedup.stripRepeatedLines(corpus, "doc_id", "text",
        minRepeats = 2, normalize = Dedup.normalizeText)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(
      (1L, "real article one\nreal article two"),
      (2L, "intro line\noutro line"),
      (3L, "fresh content"),
      (4L, "standalone document with one line")))
    // byte-exact mode: the doc-3 variant no longer matches, so the
    // notice only counts twice (docs 1, 2) — still stripped there, but
    // doc 3 keeps its variant line
    val exact = Dedup.stripRepeatedLines(corpus, "doc_id", "text", minRepeats = 2)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(exact(2) == (3L, "Cookie  Notice, HERE!\nfresh content"))
    // idempotent + repartition-invariant
    val once = Dedup.stripRepeatedLines(corpus, "doc_id", "text", 2, Dedup.normalizeText)
    val twice = Dedup.stripRepeatedLines(once, "doc_id", "text", 2, Dedup.normalizeText)
    assert(twice.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
      .sameElements(out))
    val repart = Dedup.stripRepeatedLines(corpus.repartition(7), "doc_id", "text",
        2, Dedup.normalizeText)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(repart.sameElements(out))
    intercept[IllegalArgumentException] {
      Dedup.stripRepeatedLines(corpus, "doc_id", "text", 1)
    }
    // paragraph mode: delimiter "\n\n" dedups blank-line-separated
    // units — single newlines inside a paragraph are preserved
    val paras = Seq(
      (1L, "shared para\nline two\n\nunique one"),
      (2L, "shared para\nline two\n\nunique two")
    ).toDF("doc_id", "text")
    val pOut = Dedup.stripRepeatedLines(paras, "doc_id", "text",
        minRepeats = 2, delimiter = "\n\n")
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(pOut.toSeq == Seq("unique one", "unique two"))
  }

  test("dedupAgainstSnapshot = exact text anti-join; bloom changes nothing") {
    val corpus = Seq(
      (1L, "seen before"), (2L, "brand new one"),
      (3L, "seen before"),          // duplicate of a snapshot text
      (4L, "also new"), (5L, "previous crawl only text")
    ).toDF("doc_id", "text")
    val snapshot = Seq("seen before", "previous crawl only text", "never in corpus")
      .toDF("snap_text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val out = Dedup.dedupAgainstSnapshot(corpus, "doc_id", "text",
      snapshot, "snap_text")
    assert(ids(out) == Seq(2L, 4L))
    // brute-force equivalence: plain text-equality anti-join
    val brute = corpus.join(snapshot,
      corpus("text") === snapshot("snap_text"), "left_anti")
    assert(ids(out) == ids(brute))
    // bloom pre-filter has no false negatives → identical result
    val bloomed = Dedup.dedupAgainstSnapshot(corpus, "doc_id", "text",
      snapshot, "snap_text", bloomExpectedItems = 1000L, bloomFpp = 0.01)
    assert(ids(bloomed) == Seq(2L, 4L))
    // repartition-invariant; empty snapshot keeps everything
    assert(ids(Dedup.dedupAgainstSnapshot(corpus.repartition(7), "doc_id",
      "text", snapshot, "snap_text")) == Seq(2L, 4L))
    assert(ids(Dedup.dedupAgainstSnapshot(corpus, "doc_id", "text",
      snapshot.limit(0), "snap_text")) == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("cross-snapshot NEAR-dup: band-join candidates, exact-Jaccard verify, persisted table round-trip") {
    // long repeated base text so 5-gram Jaccard of the near pair is high
    val base = "the quick brown fox jumps over the lazy dog again and again " * 3
    val crawl = Seq(
      (1L, base),                     // exact dup of snapshot 10
      (2L, base + "zz"),              // near-dup of snapshot 10 (J ~ 0.95:
                                      // ~58 distinct 5-grams + 2 new)
      (3L, "completely unrelated text about spark physical plans"),
      (4L, "short")
    ).toDF("doc_id", "text")
    val snapshot = Seq(
      (10L, base),
      (11L, "another retained snapshot document entirely different")
    ).toDF("snap_id", "snap_text")
    val snapBands = Dedup.minhashBandTable(snapshot, "snap_id", "snap_text")
    val pairs = Dedup.nearDupPairsAgainstSnapshot(crawl, "doc_id", "text",
        snapshot, "snap_id", "snap_text", snapBands, minJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 10L), (2L, 10L)))
    assert(pairs.find(_._1 == 1L).get._3 == 1.0) // exact dup verifies at J=1
    // verify stage is the gate: raising the threshold above the near
    // pair's true Jaccard keeps only the exact dup
    val strict = Dedup.nearDupPairsAgainstSnapshot(crawl, "doc_id", "text",
        snapshot, "snap_id", "snap_text", snapBands, minJaccard = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(strict.toSet == Set((1L, 10L)))
    // dedup wrapper drops exactly the matched crawl docs
    val kept = Dedup.dedupNearDupsAgainstSnapshot(crawl, "doc_id", "text",
        snapshot, "snap_id", "snap_text", snapBands)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(3L, 4L))
    // the band table survives a parquet round-trip (the persisted-
    // artifact contract) and produces the identical pair set
    val dir = java.nio.file.Files.createTempDirectory("bandtable").toString
    graft.sources.GraftIO.writeParquet(snapBands, dir,
      partitionBy = Seq("band"))
    val reread = spark.read.parquet(dir)
    val pairs2 = Dedup.nearDupPairsAgainstSnapshot(crawl, "doc_id", "text",
        snapshot, "snap_id", "snap_text", reread, minJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs2 == Set((1L, 10L), (2L, 10L)))
    // empty snapshot: nothing matches, everything kept
    val keptAll = Dedup.dedupNearDupsAgainstSnapshot(crawl, "doc_id", "text",
        snapshot.limit(0), "snap_id", "snap_text", snapBands.limit(0))
      .count()
    assert(keptAll == 4L)
  }

  test("topNgramsCorpus: exact corpus-wide counts, deterministic tie-break") {
    val corpus = Seq(
      (1L, "the cat sat"), (2L, "the cat ran"), (3L, "the cat sat"),
      (4L, "solo")                  // shorter than n → its one short gram
    ).toDF("doc_id", "text")
    val top = TextFunctions.topNgramsCorpus(corpus, col("text"), n = 2, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // "the cat" ×3, "cat sat" ×2, then alphabetical among count-1 grams
    assert(top == Seq(("the cat", 3L), ("cat sat", 2L), ("cat ran", 1L)))
    val all = TextFunctions.topNgramsCorpus(corpus, col("text"), n = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(all.contains(("solo", 1L)) && all.length == 4)
    intercept[IllegalArgumentException] {
      TextFunctions.topNgramsCorpus(corpus, col("text"), n = 0, k = 3)
    }
  }

  test("releaseMaterialized sweeps graft checkpoint blocks, leaves user persists") {
    import org.apache.spark.sql.graft.Bridge
    // start clean: earlier suites may have left tagged blocks behind
    Dedup.releaseMaterialized(spark, blocking = true)
    def taggedRdds() = spark.sparkContext.getPersistentRDDs.values
      .count(_.name == Bridge.MaterializedTag)
    assert(taggedRdds() == 0)
    // a user persist that must survive the sweep
    val userDf = docs.persist()
    userDf.count()
    // both materialization users: LSH (materializeOnce) and the
    // components loop (materializeLazily per round)
    val pairs = Dedup.minhashLshPairsVerified(docs, "id", "text",
      n = 3, k = 16, bands = 8, minJaccard = 0.5)
    val comps = Dedup.connectedComponents(pairs).collect()
    assert(comps.nonEmpty)
    assert(taggedRdds() > 0)
    val released = Dedup.releaseMaterialized(spark, blocking = true)
    assert(released > 0)
    assert(taggedRdds() == 0)
    // no graft-tagged blocks remain in the store; the user persist does
    assert(spark.sparkContext.getPersistentRDDs.values
      .forall(_.name != Bridge.MaterializedTag))
    assert(userDf.count() == 4)
    userDf.unpersist(true)
  }

  test("dedupLinesWithinDoc keeps first occurrence per doc, independent across docs") {
    val corpus = Seq(
      (1L, "nav bar\ncontent one\nnav bar\ncontent two\nnav bar"),
      (2L, "nav bar\nother page"), // doc 2's copy is untouched by doc 1's
      (3L, "Cookie Notice\nbody\ncookie notice!")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLinesWithinDoc(corpus, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(
      (1L, "nav bar\ncontent one\ncontent two"),
      (2L, "nav bar\nother page"),
      (3L, "Cookie Notice\nbody\ncookie notice!"))) // byte-exact: variant kept
    // normalized matching folds the doc-3 variant; first ORIGINAL kept
    val norm = Dedup.dedupLinesWithinDoc(corpus, "doc_id", "text",
        normalize = Dedup.normalizeText)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(norm(2) == (3L, "Cookie Notice\nbody"))
    // idempotent
    val twice = Dedup.dedupLinesWithinDoc(
      Dedup.dedupLinesWithinDoc(corpus, "doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(twice.sameElements(out))
    // paragraph mode: "\n\n" units — intra-paragraph newlines kept
    val paras = Seq((1L, "ad block\nline two\n\nbody\n\nad block\nline two"))
      .toDF("doc_id", "text")
    val pOut = Dedup.dedupLinesWithinDoc(paras, "doc_id", "text",
        delimiter = "\n\n").collect().map(_.getString(1))
    assert(pOut.toSeq == Seq("ad block\nline two\n\nbody"))
  }

  test("removeContaminatedSpans drops matched lines, keeps remainder in order") {
    val corpus = Seq(
      (1L, "what is the capital of france\nparis has great food\nmore prose here"),
      (2L, "intro text\nWhat is the CAPITAL of France?\noutro text"),
      (3L, "nothing from any benchmark\n\nblank line above survives")
    ).toDF("doc_id", "text")
    // bench doc contains the eval prompt plus a blank line — the blank
    // must NOT wipe corpus blanks
    val bench = Seq((100L, "what is the capital of france\n\nname the largest ocean"))
      .toDF("bench_id", "bench_text")
    val out = Dedup.removeContaminatedSpans(corpus, "doc_id", "text",
        bench, "bench_text", normalize = Dedup.normalizeText)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(
      (1L, "paris has great food\nmore prose here"),
      (2L, "intro text\noutro text"), // normalized match catches the variant
      (3L, "nothing from any benchmark\n\nblank line above survives")))
    // a doc that is ONLY the prompt survives emptied
    val onlyPrompt = Seq((9L, "what is the capital of france")).toDF("doc_id", "text")
    val emptied = Dedup.removeContaminatedSpans(onlyPrompt, "doc_id", "text",
        bench, "bench_text", normalize = Dedup.normalizeText)
      .head().getString(1)
    assert(emptied == "")
  }

  test("decontaminateByTokens: word-n-gram recipe; no cross-bench-doc pooling") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma completely different tail here now"),
      (3L, "unrelated words entirely on their own path today")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "completely different tail here now plus extras")
    ).toDF("bench_id", "bench_text")
    // doc 2's trigram overlap: 1/6 vs bench 100, 3/6 vs bench 101 —
    // per-pair max is 0.5, pooled across bench docs would be 4/6.
    // At 0.6 only pooling could flag it; it must survive.
    val kept = Dedup.decontaminateByTokens(corpus, "doc_id", "text",
        bench, "bench_id", "bench_text", n = 3, minOverlap = 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L)) // doc 1 is verbatim bench 100
    // at 0.5 the bench-101 overlap alone legitimately flags doc 2
    val tight = Dedup.decontaminateByTokens(corpus, "doc_id", "text",
        bench, "bench_id", "bench_text", n = 3, minOverlap = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tight == Set(3L))
  }

  test("minhash LSH recall matches exact jaccard (candidates superset, est close)") {
    val exact = Dedup.ngramJaccardPairs(docs, "id", "text", 3, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "id", "text", n = 3, k = 128, bands = 32,
      minEstJaccard = 0.6)
    val got = lsh.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.subsetOf(got.keySet)) // full recall on true near-dups
    // estimate within ~0.15 of exact for the engineered pair
    val trueJ = ReferenceForms.ngramJaccardPairsAllPairs(docs, "id", "text", 3, 0.0)
      .where($"id_a" === 1 && $"id_b" === 2).head().getDouble(2)
    assert(math.abs(got((1L, 2L)) - trueJ) < 0.15)
  }

  test("simhash: near-dups close in hamming, unrelated far") {
    val fps = docs.select($"id", Dedup.simhash64(TextFunctions.tokens($"text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(1L), fps(2L)) < ham(fps(1L), fps(3L)))
    assert(ham(fps(1L), fps(2L)) <= 16)
  }

  test("simhashPairs pigeonhole finds close pair") {
    val pairs = Dedup.simhashPairs(docs, "id", TextFunctions.tokens($"text"), maxDist = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhash pigeonhole pairs == in-memory brute force on random fingerprints") {
    // the single-shuffle bucket rewrite must emit EXACTLY the hamming
    // <= maxDist pair set (pigeonhole recall is complete by
    // construction); brute-force over seeded random fingerprints with
    // planted near-dups catches an emission/dedup/filter regression
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val base = (0 until 60).map(i => i.toLong -> rnd.nextLong())
      // planted near-dups: flip 1-6 bits of an existing fingerprint
      val planted = (60 until 80).map { i =>
        val (_, src) = base(rnd.nextInt(base.size))
        val flips = 1 + rnd.nextInt(6)
        val fp = (1 to flips).foldLeft(src)((f, _) => f ^ (1L << rnd.nextInt(64)))
        i.toLong -> fp
      }
      val all = base ++ planted
      val maxDist = 7
      val got = Dedup.simhashPairsFromFp(all.toDF("__id", "__fp"), maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val expect = (for {
        (ia, fa) <- all; (ib, fb) <- all if ia < ib
        h = java.lang.Long.bitCount(fa ^ fb) if h <= maxDist
      } yield (ia, ib, h)).toSet
      assert(got == expect, s"seed=$seed: got ${got.size}, expect ${expect.size}")
    }
  }

  test("multi-block pigeonhole (agreeBlocks=2) emits the same pair set as single-block") {
    // the Manku-style block-combination tables must be output-identical
    // to the classic one-block pigeonhole — both are complete-recall
    // candidate schemes in front of the same exact hamming filter
    val rnd = new scala.util.Random(7)
    val base = (0 until 80).map(i => i.toLong -> rnd.nextLong())
    val planted = (80 until 120).map { i =>
      val (_, src) = base(rnd.nextInt(base.size))
      val fp = (1 to 1 + rnd.nextInt(8)).foldLeft(src)((f, _) => f ^ (1L << rnd.nextInt(64)))
      i.toLong -> fp
    }
    val fps = (base ++ planted).toDF("__id", "__fp")
    for (maxDist <- Seq(3, 7)) {
      val one = Dedup.simhashPairsFromFp(fps, maxDist, agreeBlocksOpt = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val two = Dedup.simhashPairsFromFp(fps, maxDist, agreeBlocksOpt = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(one == two, s"maxDist=$maxDist: ${one.size} vs ${two.size}")
    }
  }

  test("simhashFingerprintsMd5 == independent driver md5 simhash; pairsFp == brute force") {
    // pins the md5-digit bit semantics against an engine-independent
    // driver implementation (MessageDigest), then checks the public
    // supplied-fingerprint pairing tier against brute-force Hamming
    def driverFp(text: String): Long = {
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val md = java.security.MessageDigest.getInstance("MD5")
      val counts = new Array[Int](60)
      toks.foreach { t =>
        val hex = md.digest(t.getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
        for (j <- 0 until 60) {
          val d = Integer.parseInt(hex.substring(j / 4, j / 4 + 1), 16)
          counts(j) += (if (((d >> (j % 4)) & 1) == 1) 1 else -1)
        }
      }
      (0 until 60).map(j => if (counts(j) > 0) 1L << j else 0L).reduce(_ | _)
    }
    val expectFp = docs.collect().map(r => r.getLong(0) -> driverFp(r.getString(1))).toMap
    val fps = Dedup.simhashFingerprintsMd5(docs, "id", TextFunctions.tokens($"text"))
    val gotFp = fps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotFp == expectFp)
    assert(gotFp.values.forall(f => f >= 0L && f < (1L << 60)))
    val maxDist = 30 // wide enough that the fixture yields pairs
    val pairs = Dedup.simhashPairsFp(fps, "__id", $"__fp", maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expect = (for {
      (ia, fa) <- expectFp; (ib, fb) <- expectFp if ia < ib
      h = java.lang.Long.bitCount(fa ^ fb) if h <= maxDist
    } yield (ia, ib, h)).toSet
    assert(pairs == expect && pairs.nonEmpty)
  }

  // driver-side brute force: every maximal duplicated span pair of
  // length >= minLen over code points, ordered (id,start)a < (id,start)b
  private def bruteSpans(docs: Seq[(Long, String)], minLen: Int): Set[(Long, Int, Long, Int, Int)] = {
    def cps(s: String): Array[Int] = s.codePoints().toArray
    val arrs = docs.map { case (i, t) => i -> cps(t) }
    (for {
      (ia, va) <- arrs; (ib, vb) <- arrs
      if ia < ib || (ia == ib)
      pa <- 1 to va.length; pb <- 1 to vb.length
      if ia < ib || pa < pb
      // seed must be a maximal START: previous chars differ or boundary
      if pa == 1 || pb == 1 || va(pa - 2) != vb(pb - 2)
      len = {
        var l = 0
        while (pa - 1 + l < va.length && pb - 1 + l < vb.length &&
          va(pa - 1 + l) == vb(pb - 1 + l)) l += 1
        l
      }
      if len >= minLen
    } yield (ia, pa, ib, pb, len)).toSet
  }

  test("WinnowAnchors kernel == columnar winnowing form, both hash tiers, code-point safe") {
    val fixture = Seq(
      (1L, "abc abc abc abc abc abc abc abc abc"), // periodic → tied hashes
      (2L, "emoji 😀 and accents éàü across the gram boundary here 😀😀"),
      (3L, "short"),                                // below w sites → empty
      (4L, ""),                                     // empty text
      (5L, "x" * 40),                               // constant text → one run
      (6L, "the quick brown fox jumps over the lazy dog and keeps going")
    ).toDF("id", "text")
    for (byMd5 <- Seq(false, true); (k, w) <- Seq((5, 6), (12, 14), (2, 2))) {
      val viaKernel = Dedup.anchorSites(fixture, "id", col("text"), k, w, byMd5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val viaColumnar = ReferenceForms.anchorSitesColumnar(fixture, "id", col("text"), k, w, byMd5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(viaKernel == viaColumnar,
        s"byMd5=$byMd5 k=$k w=$w: kernel ${viaKernel.size} != columnar ${viaColumnar.size}\n" +
        s"missing=${(viaColumnar -- viaKernel).take(5)}\nextra=${(viaKernel -- viaColumnar).take(5)}")
      assert(viaKernel.nonEmpty)
    }
    // randomized: tiny alphabet manufactures hash ties and long runs
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(100 + seed)
      val docs = (1L to 8L).map { i =>
        i -> (1 to 30 + rnd.nextInt(120)).map(_ => "ab "(rnd.nextInt(3))).mkString
      }.toDF("id", "text")
      val viaKernel = Dedup.anchorSites(docs, "id", col("text"), 4, 5, byMd5 = false)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val viaColumnar = ReferenceForms.anchorSitesColumnar(docs, "id", col("text"), 4, 5, byMd5 = false)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(viaKernel == viaColumnar, s"seed=$seed")
    }
  }

  test("duplicateSpanPairs == brute-force maximal spans; md5 tier identical; code-point safe") {
    val shared = "every copy of this exact sentence is long enough to cross the span threshold"
    val sharedU = "emoji 😀 and accents éàü inside the duplicated span payload here ok" // 69 cps
    val fixture = Seq(
      (1L, "prefix one " + shared + " suffix alpha"),
      (2L, "a different lead-in then " + shared + " and another tail"),
      (3L, "unique content with no duplication at all in this document body"),
      (4L, "repeat " + sharedU + " middle " + sharedU + " end"), // within-doc pair
      (5L, "x " + sharedU + " y")                                // cross-doc with 4
    ).toDF("id", "text")
    val minLen = 50
    val got = Dedup.duplicateSpanPairs(fixture, "id", "text", minLen,
        maxBucketSize = 0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getInt(4))).toSet
    val expect = bruteSpans(fixture.collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq, minLen)
    assert(got == expect, s"got ${got.toSeq.sorted}\nexp ${expect.toSeq.sorted}")
    assert(got.nonEmpty && got.exists(t => t._1 == 4L && t._3 == 4L),
      "expected a within-doc pair")
    val gotMd5 = Dedup.duplicateSpanPairs(fixture, "id", "text", minLen,
        maxBucketSize = 0, byMd5 = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getInt(4))).toSet
    assert(gotMd5 == expect)
  }

  test("duplicateSpanPairs: randomized differential vs brute force") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val alphabet = "ab " // tiny alphabet → natural repeats
      def randStr(n: Int) = (1 to n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val frag = randStr(30)
      val docs = (1L to 6L).map { i =>
        // random text with the shared fragment spliced in at a random spot
        val base = randStr(40 + rnd.nextInt(40))
        val at = rnd.nextInt(base.length)
        i -> (base.substring(0, at) + frag + base.substring(at))
      }
      val minLen = 12
      val got = Dedup.duplicateSpanPairs(docs.toDF("id", "text"), "id", "text",
          minLen, maxBucketSize = 0)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
          r.getInt(4))).toSet
      val expect = bruteSpans(docs, minLen)
      assert(got == expect, s"seed=$seed: got ${got.size} exp ${expect.size}\n" +
        s"missing=${(expect -- got).take(5)}\nextra=${(got -- expect).take(5)}")
    }
  }

  test("leakageSafeSplit: clusters never straddle, md5 rule exact, partition invariance") {
    def md560(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    // planted clusters: chain {1,2,3} (transitive — only (1,2),(2,3)
    // paired), pair {10,11}, singletons 20..29
    val docs = (Seq(1L, 2L, 3L, 10L, 11L) ++ (20L to 29L))
      .map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    def run(parts: Int): Map[Long, String] = {
      val (tr, ho) = Dedup.leakageSafeSplit(docs.repartition(parts), "doc_id",
        pairs, holdoutNumer = 2, holdoutDenom = 5, seed = 42L)
      (tr.collect().map(_.getLong(0) -> "train") ++
        ho.collect().map(_.getLong(0) -> "holdout")).toMap
    }
    val got = run(3)
    assert(got.keySet == (Seq(1L, 2L, 3L, 10L, 11L) ++ (20L to 29L)).toSet)
    // whole clusters on one side
    assert(Set(got(1L), got(2L), got(3L)).size == 1)
    assert(got(10L) == got(11L))
    // the draw is exactly splitByMd5's rule on the cluster representative
    def expect(grp: Long): String =
      if (md560(grp.toString + "42") % 5 < 2) "holdout" else "train"
    assert(got(1L) == expect(1L) && got(2L) == expect(1L) && got(3L) == expect(1L))
    assert(got(10L) == expect(10L) && got(11L) == expect(10L))
    (20L to 29L).foreach(i => assert(got(i) == expect(i), s"singleton $i"))
    // both sides nonempty on this fixture and deterministic across partitionings
    assert(got.values.toSet == Set("train", "holdout"))
    assert(run(1) == got)
    // schema passes through untouched
    val (tr, _) = Dedup.leakageSafeSplit(docs, "doc_id", pairs, 1, 5)
    assert(tr.columns.toSeq == Seq("doc_id", "text"))
  }

  test("duplicateTokenSpanPairs: planted token runs, whole-token trim, tiers agree") {
    // merges join letters our words avoid (t/h/e/i/n/g), so every
    // token is a single code point — expected counts are countable by
    // hand: s1q..s9q = 3 tokens, s10q..s30q = 4 → S = 111 tokens
    val merges = Seq(("t", "h"), ("th", "e"), ("i", "n"), ("in", "g"))
    val S = (1 to 30).map(i => s"s${i}q").mkString(" ")
    val R = "r1q " + (2 to 30).map(i => s"s${i}q").mkString(" ")
    val docs = Seq(
      (1L, "ab cd " + S + " qq"),
      (2L, "xy zz w " + S + " ss"),
      (3L, "xy zz w " + R + " ss")).toDF("id", "text")
    def run(minTokens: Int, byMd5: Boolean) =
      Dedup.duplicateTokenSpanPairs(docs, "id", "text", minTokens, merges,
          maxBucketSize = 0, byMd5 = byMd5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    // (1,2): S itself, boundary fragments trimmed both sides;
    // (1,3): S minus its first token ('1' onward — the span starts at
    //        a mid-run token boundary shared by both docs);
    // (2,3): '1' onward PLUS the shared " ss" tail (span runs to the
    //        end of both strings — the keep-at-boundary branch)
    val expect = Set(
      (1L, 5L, 2L, 6L, 111L),
      (1L, 6L, 3L, 7L, 110L),
      (2L, 7L, 3L, 7L, 112L))
    val got = run(50, byMd5 = true)
    assert(got == expect, s"got ${got.toSeq.sorted}")
    assert(run(50, byMd5 = false) == expect, "xxhash tier must agree")
    // sub-threshold shared runs stay invisible
    assert(run(120, byMd5 = true).isEmpty)
  }

  test("stripDuplicateSpans: non-first occurrences cut, splice code-point exact") {
    val shared = "this duplicated sentence is definitely longer than fifty characters total"
    val docs = Seq(
      (1L, "keep " + shared + " first"),
      (2L, "lead " + shared + " tail"),
      (3L, "clean document with nothing duplicated in it whatsoever right here")
    ).toDF("id", "text")
    val out = Dedup.stripDuplicateSpans(docs, "id", "text", minLen = 50,
        maxBucketSize = 0)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 (first occurrence) and doc 3 (clean) unchanged
    assert(out(1L) == "keep " + shared + " first")
    assert(out(3L).startsWith("clean document"))
    // doc 2: the maximal shared span is cut (it extends into the
    // surrounding spaces if they match — compute via the pair output)
    val span = Dedup.duplicateSpanPairs(docs, "id", "text", 50, maxBucketSize = 0)
      .where($"id_b" === 2L).head()
    val t2 = "lead " + shared + " tail"
    val (s2, l2) = (span.getInt(3), span.getInt(4))
    val expected = t2.substring(0, s2 - 1) + t2.substring(s2 - 1 + l2)
    assert(out(2L) == expected, s"${out(2L)} != $expected")
    assert(!out(2L).contains(shared))
  }

  test("fused MinHashSignature expression == explode+agg signatures bit-for-bit") {
    val viaAgg = Dedup.minhashSignatures(docs, "id", Dedup.charShingles($"text", 5), 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaExpr = Dedup.minhashSignaturesFused(docs, "id", $"text", 5, 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaAgg == viaExpr)
  }

  test("fused MinHashSignature stays bit-equal on multi-byte UTF-8 text") {
    // 2- and 3-byte chars exercise the char-aligned byte-window walk
    val uni = Seq(
      (1L, "héllo wörld — ünïcode tëst ééé"),
      (2L, "日本語のテキストです これはテスト"),
      (3L, "mixed ascii and 中文 and ελληνικά")
    ).toDF("id", "text")
    val viaAgg = Dedup.minhashSignatures(uni, "id", Dedup.charShingles($"text", 5), 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaExpr = Dedup.minhashSignaturesFused(uni, "id", $"text", 5, 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaAgg == viaExpr)
  }

  test("empty-input edges: LSH pairs, components, near-dup drops") {
    val empty = spark.emptyDataset[(Long, String)].toDF("id", "text")
    assert(Dedup.minhashLshPairs(empty, "id", "text", 3, 32, 8, 0.5).count() == 0)
    val noPairs = spark.emptyDataset[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(noPairs).count() == 0)
    assert(Dedup.dropNearDups(docs, "id", noPairs).count() == docs.count())
    assert(Dedup.dropNearDupsByCluster(docs, "id", noPairs).count() == docs.count())
  }

  test("minhashLshPairsVerified: exact-verify stage filters sub-threshold candidates") {
    // docs 1,2 are true near-dups; 5,6 share enough 3-grams to collide
    // in bands but sit below 0.9 true Jaccard — verify must drop them
    val mixed = docs.union(Seq(
      (5L, "the quick brown fox jumps over the lazy dog again and never more"),
      (6L, "the quick brown fox jumps over the lazy dog but somewhere else entirely")
    ).toDF("id", "text"))
    val unverified = Dedup.minhashLshPairs(mixed, "id", "text", 3, 128, 32, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.minhashLshPairsVerified(mixed, "id", "text", 3, 128, 32,
        minEstJaccard = 0.5, minJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // candidates include sub-0.9 collisions; the verified set is
    // exactly the true >= 0.9 pairs
    assert(unverified.nonEmpty)
    assert(verified.forall(_._3 >= 0.9))
    val exact = Dedup.ngramJaccardPairs(mixed, "id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.map(p => (p._1, p._2)) == exact)
  }

  test("minhash bucket cap: generous cap is a no-op, cap=1 kills all pairs") {
    val base = Dedup.minhashLshPairs(docs, "id", "text", 3, 128, 32, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.minhashLshPairs(docs, "id", "text", 3, 128, 32, 0.6,
      maxBucketSize = 1000).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == base)
    assert(Dedup.minhashLshPairs(docs, "id", "text", 3, 128, 32, 0.6,
      maxBucketSize = 1).count() == 0)
  }

  test("bucket-cap recall loss is auditable via lshBucketStats") {
    // lshBucketStats(minSize = m) reports exactly the buckets a cap of
    // m would sacrifice — so the recall cost of a cap is measurable,
    // never silent. minSize=1: every colliding band bucket (>=2 docs —
    // the engineered near-dup pair collides in many bands) appears.
    val stats = Dedup.lshBucketStats(docs, "id", "text", 3, 128, 32,
      minSize = 1).collect()
    assert(stats.nonEmpty)
    assert(stats.forall(_.getAs[Long]("bucket_size") >= 2L))
    // and the reported count matches what capping actually drops: with
    // cap=1 the pair set collapses to empty (all collisions capped)
    assert(Dedup.minhashLshPairs(docs, "id", "text", 3, 128, 32, 0.6,
      maxBucketSize = 1).count() == 0)
    // no bucket exceeds the default 1000 on a sane corpus
    assert(Dedup.lshBucketStats(docs, "id", "text", 3, 128, 32,
      minSize = 1000).count() == 0)
  }

  test("fused SimHash64 expression == explode+agg fingerprints bit-for-bit") {
    val viaAgg = Dedup.simhashFingerprints(docs, "id", TextFunctions.tokens($"text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaExpr = Dedup.simhashFingerprintsFused(docs, "id", $"text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg == viaExpr)
  }

  test("dropNearDups removes the higher id of each pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", 3, 0.7)
    val kept = Dedup.dropNearDups(docs, "id", pairs).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("connectedComponents: chains collapse to min-id labels, multi-round convergence") {
    // chain 1-2-3-4 (diameter 3, needs >1 propagation round) + pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("keepBestPerCluster keeps the top-scoring row, singletons survive") {
    val df = Seq((1L, "short"), (2L, "the longest text here"), (3L, "mid text"),
      (4L, "alone")).toDF("id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b") // cluster {1,2,3}
    val kept = Dedup.keepBestPerCluster(df, "id", pairs, length($"text"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L)) // 2 is longest in its cluster; 4 unpaired
  }

  test("connectedComponents matches in-memory union-find on random graphs") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val pairs = (1 to 40).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(p => p._1 != p._2)
      val got = Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // normalize: representative = min id in component
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val expect = nodes.groupBy(find).flatMap { case (_, ns) =>
        val m = ns.min; ns.map(_ -> m)
      }
      assert(got == expect, s"seed=$seed")
    }
  }

  test("connectedComponents handles string ids (join-probe path, multi-round)") {
    // string ids make the decimal-sum probe unsound (ANSI cast throws) —
    // the type-agnostic join-based change probe must run instead; the
    // chain needs >1 round so a premature "converged" would split it
    val pairs = Seq(("b", "c"), ("c", "d"), ("a", "b"), ("x", "y")).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "x" -> "x", "y" -> "x"))
  }

  test("connectedComponents handles fractional double ids without false convergence") {
    // 1.4→1.2 is invisible to a decimal(38,0)-rounded sum — doubles must
    // take the change-probe path and keep propagating to the fixpoint
    val pairs = Seq((1.4, 1.2), (1.2, 1.0)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(comp == Map(1.4 -> 1.0, 1.2 -> 1.0, 1.0 -> 1.0))
  }

  test("connectedComponentsStar matches min-label propagation on random graphs + chains") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(100 + seed)
      val pairs = (1 to 40).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(p => p._1 != p._2)
      val df = pairs.toDF("id_a", "id_b")
      val star = Dedup.connectedComponentsStar(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val prop = Dedup.connectedComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == prop, s"seed=$seed")
    }
    // a 12-node chain (deep diameter — the star algorithm's home turf)
    val chain = (1L to 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponentsStar(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == (1L to 12L).map(_ -> 1L).toMap)
    // empty pair set → empty labels; string ids work (no numeric probe)
    assert(Dedup.connectedComponentsStar(Seq.empty[(Long, Long)]
      .toDF("id_a", "id_b")).count() == 0)
    val sc = Dedup.connectedComponentsStar(
        Seq(("b", "c"), ("a", "b"), ("x", "y")).toDF("id_a", "id_b"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sc == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("connectedComponents fails loudly instead of returning split components") {
    val chain = Seq((2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2)
    }
  }

  test("dropNearDupsByCluster keeps exactly one representative per cluster") {
    val df = (1L to 6L).map(i => (i, s"doc$i")).toDF("id", "text")
    // chain {1,2,3} keeps 1; the unnormalized pair (5,4) distinguishes
    // the forms: pairwise dropNearDups drops id_b=4 and keeps 5, the
    // cluster form keeps the component minimum 4
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 4L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDupsByCluster(df, "id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 6L))
  }

  test("default bucket cap drops degenerate buckets, keeps sane ones") {
    // 40 identical docs: one signature, so every band bucket holds all
    // 40 docs — the degenerate-hash skew shape the cap guards against
    val dup = (1L to 40L).map(i => (i, "identical degenerate text shared by every document"))
      .toDF("id", "text")
    // default cap (1000) >> 40: all C(40,2) pairs survive
    assert(Dedup.minhashLshPairs(dup, "id", "text", 3, 32, 8, 0.5).count() == 40L * 39 / 2)
    // cap below the bucket size removes every candidate from it
    assert(Dedup.minhashLshPairs(dup, "id", "text", 3, 32, 8, 0.5,
      maxBucketSize = 10).count() == 0)
  }

  test("reliable checkpoint engages when a checkpoint dir is set; pairs unchanged") {
    val base = Dedup.minhashLshPairs(docs, "id", "text", 3, 128, 32, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    spark.sparkContext.setCheckpointDir(dir.toString)
    val got = Dedup.minhashLshPairs(docs, "id", "text", 3, 128, 32, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == base)
    // the signature table was checkpointed reliably (files on disk),
    // not pinned in executor memory
    assert(dir.listFiles().nonEmpty)
  }
}

class SimilaritySpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // closest to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(0.0f, 0.95f, 0.3f)),  // closest to 2
    (4L, Array(-1.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("l2NormalizeFused: bit-equal to the historical HOF form, float+double, zero vec") {
    // the HOF reference this kernel replaced (O(d²) per row — the
    // interpreted-HOF captured-expression hazard)
    def hofForm(c: org.apache.spark.sql.Column) = {
      val vd = transform(c, _.cast("double"))
      transform(vd, x => x / sqrt(Similarity.dotFused(vd, vd)))
    }
    val rnd = new scala.util.Random(47)
    val data = (0L until 50L).map(i =>
      (i, Array.fill(16)((rnd.nextDouble() * 2 - 1).toFloat)))
    val df = data.toDF("id", "v").repartition(5)
    def bits(d: org.apache.spark.sql.DataFrame) = d
      .select(col("id"), col("n"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits).toSeq)
      .toMap
    val got = bits(df.select(col("id"),
      Similarity.l2NormalizeFused(col("v")).as("n")))
    val want = bits(df.select(col("id"), hofForm(col("v")).as("n")))
    assert(got == want)
    // double input too (no float cast on either path)
    val dd = data.map { case (i, a) => (i, a.map(_.toDouble)) }
      .toDF("id", "v")
    assert(bits(dd.select(col("id"),
        Similarity.l2NormalizeFused(col("v")).as("n"))) ==
      bits(dd.select(col("id"), hofForm(col("v")).as("n"))))
    // zero vector: the kernel gives IEEE 0/0 = NaN; the HOF form under
    // ANSI mode THROWS (Divide divideByZeroError) — the kernel's
    // behavior is the deliberate improvement, asserted here
    val zdf = Seq((0L, Array.fill(4)(0.0f))).toDF("id", "v")
    val z = zdf.select(Similarity.l2NormalizeFused(col("v")).as("n"))
      .collect()(0).getSeq[Double](0)
    assert(z.forall(_.isNaN))
    intercept[Exception](
      zdf.select(hofForm(col("v")).as("n")).collect())
  }

  test("l2NormalizeFused: null elements contribute 0 and propagate (r14 advice)") {
    // parquet-read vectors carry containsNull=true; a value with an
    // actual null element must not yield garbage/NPE — defined
    // semantics: null contributes 0 to the norm, stays null in output
    val df = Seq((0L, Seq[java.lang.Double](3.0, null, 4.0)),
                 (1L, Seq[java.lang.Double](1.0, 2.0, 2.0)))
      .toDF("id", "v")
    val got = df.select(col("id"),
        Similarity.l2NormalizeFused(col("v")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getSeq[java.lang.Double](1))
      .toMap
    assert(got(0L)(0) == 3.0 / 5.0 && got(0L)(1) == null
      && got(0L)(2) == 4.0 / 5.0)
    // null-free rows through the SAME (containsNull=true) plan stay
    // bit-equal to the primitive path
    assert(got(1L).map(_.toDouble) == Seq(1.0 / 3.0, 2.0 / 3.0, 2.0 / 3.0))
    // whole-null input still propagates null (nullIntolerant)
    val nn = Seq((0L, null: Seq[java.lang.Double])).toDF("id", "v")
      .select(Similarity.l2NormalizeFused(col("v")).as("n")).collect()
    assert(nn(0).isNullAt(0))
  }

  test("dotFused/cosineFused: null ELEMENT nulls the result (r15, list_dot_product semantics)") {
    // the r14 advice item: the kernel previously read the null slot
    // unguarded (garbage on UnsafeArrayData), so dotFused(v,v) > 0
    // could PASS a null-element vector the oracle's list_dot_product
    // excluded (farthestFirstCenters divergence class)
    val df = Seq(
        (0L, Seq[java.lang.Double](3.0, null, 4.0)),
        (1L, Seq[java.lang.Double](1.0, 2.0, 2.0)))
      .toDF("id", "v")
    val got = df.select(col("id"),
        Similarity.dotFused(col("v"), col("v")).as("d"),
        Similarity.cosineFused(col("v"), col("v")).as("c"))
      .collect().map(r => r.getLong(0) ->
        (r.isNullAt(1), r.isNullAt(2), if (r.isNullAt(1)) 0.0 else r.getDouble(1)))
      .toMap
    assert(got(0L)._1 && got(0L)._2)                 // null element -> null
    assert(!got(1L)._1 && got(1L)._3 == 9.0)         // clean row unaffected
    // the filter consequence: > 0 on a null result is NULL -> row drops,
    // matching the DuckDB list_dot_product(...) > 0 oracle exclusion
    assert(df.where(Similarity.dotFused(col("v"), col("v")) > 0).count() == 1L)
    // interpreted path agrees with codegen (eval via literal-free fold)
    val interp = df.select(col("id"),
        Similarity.dotFused(col("v"), col("v")).as("d"))
      .where(col("id") === 0L).selectExpr("d IS NULL").collect()
    assert(interp(0).getBoolean(0))
  }

  test("farthestFirstCenters: greedy replica order + dists; zero vectors excluded") {
    val vecs = Seq(
      ("a", Array(1.0f, 0.0f, 0.0f)),
      ("b", Array(0.95f, 0.05f, 0.0f)),   // near a
      ("c", Array(0.0f, 1.0f, 0.0f)),
      ("d", Array(0.0f, 0.0f, 1.0f)),
      ("e", Array(-1.0f, 0.0f, 0.0f)),
      ("z", Array(0.0f, 0.0f, 0.0f)))     // zero vector -> excluded
    val df = vecs.toDF("vid", "emb")
    def norm(v: Array[Float]): Array[Double] = {
      var ss = 0.0; v.foreach(x => ss += x.toDouble * x.toDouble)
      val n = math.sqrt(ss); v.map(_.toDouble / n)
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    // driver greedy replica
    val nm = vecs.filter(_._2.exists(_ != 0f))
      .map { case (i, v) => i -> norm(v) }.toMap
    var sel = List("a")
    var md = (nm.keySet - "a").map(i =>
      i -> (1.0 - dot(nm(i), nm("a")))).toMap
    val replica = scala.collection.mutable.ListBuffer(("a", 0.0))
    while (sel.size < 4 && md.nonEmpty) {
      val best = md.toSeq.sortBy { case (i, d) => (-d, i) }.head
      replica += ((best._1, best._2))
      sel = best._1 :: sel
      md = (md - best._1).map { case (i, d) =>
        i -> math.min(d, 1.0 - dot(nm(i), nm(best._1))) }
    }
    val got = Similarity.farthestFirstCenters(df, "vid", "emb", k = 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    assert(got.map(_._2).toSeq == replica.map(_._1).toSeq,
      s"order: ${got.toSeq} vs $replica")
    got.zip(replica).foreach { case ((_, _, gd), (_, wd)) =>
      assert(math.abs(gd - wd) < 1e-9, s"$gd vs $wd")
    }
    // e (opposite of a) must be picked immediately after the seed
    assert(got(1)._2 == "e" && math.abs(got(1)._3 - 2.0) < 1e-9)
    // z never appears; k beyond the population stops early
    val all = Similarity.farthestFirstCenters(df, "vid", "emb", k = 20)
      .collect().map(_.getString(1))
    assert(!all.contains("z") && all.length == 5)
    // null-ELEMENT vectors are excluded too (r15: dotFused(v,v) > 0
    // is NULL under the null-aware kernel, matching the oracle's
    // list_dot_product exclusion — the r14 advice divergence class)
    val withNull = Seq(
        ("a", Seq[java.lang.Double](1.0, 0.0, 0.0)),
        ("c", Seq[java.lang.Double](0.0, 1.0, 0.0)),
        ("n", Seq[java.lang.Double](5.0, null, 0.0)))
      .toDF("vid", "emb")
    val got2 = Similarity.farthestFirstCenters(withNull, "vid", "emb", k = 3)
      .collect().map(_.getString(1))
    assert(got2.toSeq == Seq("a", "c"))
  }

  test("silhouetteReport: brute replica, boundary s=0, unused centroid absent, k=1, exclusions") {
    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0),
      Array(0.0, 0.0, 1.0)) // nothing lands near the 3rd
    val data = Seq(
      (0L, Seq[java.lang.Double](0.9, 0.1, 0.0)),   // cluster 1
      (1L, Seq[java.lang.Double](1.0, 0.05, 0.0)),  // cluster 1
      (2L, Seq[java.lang.Double](0.1, 1.0, 0.0)),   // cluster 2
      (3L, Seq[java.lang.Double](1.0, 1.0, 0.0)),   // exact boundary: a=b -> s=0
      (4L, Seq[java.lang.Double](0.0, 0.0, 0.0)),   // zero vector -> excluded
      (5L, Seq[java.lang.Double](1.0, null, 0.0)))  // null element -> excluded
    val df = data.toDF("id", "v")
    val got = Similarity.silhouetteReport(df, "v", cents)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // brute replica (same index-order folds)
    def norm(v: Seq[Double]) = {
      var ss = 0.0; v.foreach(x => ss += x * x); val n = math.sqrt(ss)
      v.map(_ / n)
    }
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val nc = cents.map(c => norm(c.toSeq))
    val rows = data.take(4).map { case (_, v) =>
      val nv = norm(v.map(_.toDouble))
      val ds = nc.zipWithIndex.map { case (c, i) => (1.0 - dot(nv, c), i + 1) }
        .sortBy(identity)
      val (a, b) = (ds(0)._1, ds(1)._1)
      val s = if (math.max(a, b) == 0.0) 0.0 else (b - a) / math.max(a, b)
      (ds(0)._2, s)
    }
    val byCluster = rows.groupBy(_._1).map { case (c, ss) =>
      val vals = ss.map(_._2)
      val mean = vals.map(s => math.rint(s * 1e12).toLong).sum.toDouble /
        1e12 / vals.size
      c -> (vals.size.toLong, mean, vals.min, vals.max)
    }
    assert(got == byCluster, s"got=$got want=$byCluster")
    // boundary vector (1,1,0): equidistant -> tie-break cluster 1, s=0
    assert(rows(3)._1 == 1 && rows(3)._2 == 0.0)
    // unused centroid 3 absent; zero/null-element vectors excluded
    assert(!got.contains(3) && got(1)._1 == 3L && got(2)._1 == 1L)
    // k = 1: every row reports s = 0.0 (no "other" cluster)
    val k1 = Similarity.silhouetteReport(df, "v", Array(Array(1.0, 0.0, 0.0)))
      .collect()
    assert(k1.length == 1 && k1(0).getLong(1) == 4L
      && k1(0).getDouble(2) == 0.0 && k1(0).getDouble(4) == 0.0)
  }

  test("bruteForceTopK exact ranking") {
    val top = Similarity.bruteForceTopK(vecs, vecs.where($"vec_id" === 0), "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(top.toSeq == Seq((1L, 1), (2L, 2)))
  }

  test("cosine column matches manual computation") {
    val c = vecs.where($"vec_id" === 0).crossJoin(
        vecs.where($"vec_id" === 4).select($"embedding".as("e2")))
      .select(Similarity.cosine($"embedding", $"e2")).head().getDouble(0)
    assert(math.abs(c - (-1.0)) < 1e-9)
  }

  test("IVF: clustered data, full recall at small nprobe") {
    // 3 well-separated clusters in 4d, 6 points each
    val rnd = new scala.util.Random(7)
    val centers = Seq(Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f), Array(0f, 0f, 10f, 0f))
    val pts = for (c <- centers.indices; j <- 0 until 6) yield
      ((c * 6 + j).toLong, centers(c).map(x => x + rnd.nextFloat() * 0.2f))
    val df = pts.toDF("vec_id", "embedding")
    val cents = Similarity.trainIvfCentroids(df, "embedding", k = 3, iters = 4)
    assert(cents.length == 3)
    val exact = Similarity.bruteForceTopK(df, df.where($"vec_id" === 0), "vec_id", "embedding", 3)
      .collect().map(_.getLong(1)).toSet
    val ivf = Similarity.ivfTopK(df, df.where($"vec_id" === 0), "vec_id", "embedding",
      cents, nprobe = 1, k = 3).collect().map(_.getLong(1)).toSet
    assert(ivf == exact) // neighbors live in the same cluster ⇒ nprobe=1 suffices
  }

  test("cosineNearDupPairs: exact thresholded pair set, ordered ids") {
    val pairs = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // only (0,1) clears 0.9: cos(0,1)≈0.994; (2,3)≈0.953 also qualifies
    assert(pairs == Set((0L, 1L), (2L, 3L)))
  }

  test("cosineNearDupPairs blockBy restricts pairs to the blocking key") {
    val blocked = vecs.withColumn("blk",
      when($"vec_id" % 2 === 0, "even").otherwise("odd"))
    val pairs = Similarity.cosineNearDupPairs(blocked, "vec_id", "embedding",
        minCosine = 0.9, blockBy = Some("blk"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (0,1) and (2,3) each straddle the even/odd split — never scored
    assert(pairs.isEmpty)
  }

  test("persisted IVF index: indexed results == in-memory results; scan is partition-pruned") {
    val rnd = new scala.util.Random(7)
    val centers = Seq(Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f), Array(0f, 0f, 10f, 0f))
    val pts = for (c <- centers.indices; j <- 0 until 6) yield
      ((c * 6 + j).toLong, centers(c).map(x => x + rnd.nextFloat() * 0.2f))
    val df = pts.toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    val cents = Similarity.buildIvfIndex(df, "vec_id", "embedding", path, kLists = 3, iters = 4)
    val qs = df.where($"vec_id" === 0)
    val indexed = Similarity.ivfTopKIndexed(spark, path, qs, "vec_id", "embedding",
      nprobe = 1, k = 3)
    val inMem = Similarity.ivfTopK(df, qs, "vec_id", "embedding", cents, nprobe = 1, k = 3)
    assert(indexed.collect().toSeq == inMem.collect().toSeq)
    // the probe join keys on the partition column → the scan carries a
    // partition filter (dynamic pruning reads only probed lists)
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters: [isnotnull(__cid"),
      s"expected partition-pruned index scan:\n$plan")
  }

  test("clusterBalancedSample flattens cluster skew; deterministic across partitioning") {
    // 3 well-separated clusters with skewed sizes 30/6/3
    val rnd = new scala.util.Random(9)
    val centers = Seq(Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f), Array(0f, 0f, 10f, 0f))
    val pts = for (c <- centers.indices; j <- 0 until Seq(30, 6, 3)(c)) yield
      ((c * 100 + j).toLong, centers(c).map(x => x + rnd.nextFloat() * 0.2f))
    val df = pts.toDF("vec_id", "embedding")
    // fixed centroids (the production reuse path): one per true center
    val cents = Some(centers.map(_.map(_.toDouble)).toArray)
    val got = Similarity.clusterBalancedSample(df, "vec_id", "embedding",
        kClusters = 3, nPerCluster = 4, cents = cents)
      .collect().map(_.getLong(0)).toSet
    // at most 4 per cluster; the size-3 cluster survives whole — the
    // skewed 30/6/3 corpus flattens to 4/4/3
    val byCluster = got.groupBy(_ / 100).view.mapValues(_.size).toMap
    assert(byCluster == Map(0L -> 4, 1L -> 4, 2L -> 3), byCluster.toString)
    val re = Similarity.clusterBalancedSample(df.repartition(7), "vec_id",
        "embedding", kClusters = 3, nPerCluster = 4, cents = cents)
      .collect().map(_.getLong(0)).toSet
    assert(re == got)
    // in-place training still respects the cap over ITS clustering
    val trained = Similarity.clusterBalancedSample(df, "vec_id", "embedding",
      kClusters = 3, nPerCluster = 4)
    assert(trained.count() <= 12)
  }

  test("PCA: orthonormal descending components, full-dim isometry, subspace recovery, whitening") {
    val m = Similarity.trainPcaProjection(emb, "embedding", outDim = 64)
    // components orthonormal (rows of an orthogonal matrix)
    for (i <- m.components.indices; j <- i until m.components.length) {
      val d = m.components(i).zip(m.components(j)).map { case (a, b) => a * b }.sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(d - want) < 1e-8, s"c$i · c$j = $d")
    }
    // eigenvalues descending and non-negative (covariance is PSD)
    assert(m.eigenvalues.toSeq == m.eigenvalues.sortBy(-_).toSeq)
    assert(m.eigenvalues.forall(_ > -1e-8))
    // full-dim projection preserves pairwise L2 distances (isometry)
    val pro = emb.where($"vec_id" < 8)
      .select($"vec_id", Similarity.pcaProject($"embedding", m).as("p"),
        transform($"embedding", _.cast("double")).as("v"))
      .collect().map(r => (r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray))
    def l2(a: Array[Double], b: Array[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    for (Seq((pa, va), (pb, vb)) <- pro.toSeq.combinations(2)) {
      assert(math.abs(l2(pa, pb) - l2(va, vb)) < 1e-6,
        s"${l2(pa, pb)} vs ${l2(va, vb)}")
    }
    // subspace recovery: 4-d points on a 2-d plane -> two nonzero
    // eigenvalues, the rest ~0, and outDim=2 loses nothing
    val rnd = new scala.util.Random(3)
    val plane = (1L to 60L).map { i =>
      val (a, b) = (rnd.nextGaussian(), rnd.nextGaussian())
      (i, Array((a + b).toFloat, (a - b).toFloat, (2 * a + 0.5 * b).toFloat, b.toFloat))
    }.toDF("vec_id", "embedding")
    val pm = Similarity.trainPcaProjection(plane, "embedding", outDim = 4)
    assert(pm.eigenvalues(1) > 1e-3 && math.abs(pm.eigenvalues(2)) < 1e-8 &&
      math.abs(pm.eigenvalues(3)) < 1e-8, pm.eigenvalues.mkString(","))
    // whitening: per-component variance ~1 on the training data
    val pm2 = Similarity.trainPcaProjection(plane, "embedding", outDim = 2)
    val ws = plane.select(Similarity.pcaProject($"embedding", pm2, whiten = true).as("w"))
      .collect().map(_.getSeq[Double](0).toArray)
    for (k <- 0 until 2) {
      val xs = ws.map(_(k))
      val mu = xs.sum / xs.length
      val va = xs.map(x => (x - mu) * (x - mu)).sum / xs.length
      assert(math.abs(va - 1.0) < 1e-6, s"component $k variance $va")
    }
  }

  test("OPQ: MatVec kernel exact, rotation orthonormal, error <= raw PQ on anisotropic data") {
    // MatVec kernel == driver matrix-vector product (float and double input)
    val mat = Array(Array(1.0, 2.0, -1.0), Array(0.5, 0.0, 3.0))
    val fdf = Seq((1L, Array(1.0f, -2.0f, 0.5f))).toDF("id", "v")
    val got = fdf.select(Similarity.opqRotate($"v", mat).as("r"))
      .head().getSeq[Double](0).toArray
    val want = mat.map(row => row.zip(Array(1.0, -2.0, 0.5)).map { case (a, b) => a * b }.sum)
    assert(got.zip(want).forall { case (a, b) => math.abs(a - b) < 1e-12 },
      got.mkString(","))
    val ddf = Seq((1L, Array(1.0, -2.0, 0.5))).toDF("id", "v")
    val gotD = ddf.select(Similarity.opqRotate($"v", mat).as("r"))
      .head().getSeq[Double](0).toArray
    assert(gotD.zip(want).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    // a truncated vector throws LOUDLY instead of reading adjacent
    // unsafe-buffer memory (UnsafeArrayData does no bounds checks)
    val short = Seq((1L, Array(1.0f, 2.0f))).toDF("id", "v")
    val err = intercept[Exception] {
      short.select(Similarity.opqRotate($"v", mat).as("r")).head()
    }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("mat_vec")), msgs(err).mkString(" | "))

    // anisotropic fixture: correlated dims with a steep variance decay,
    // mixed through a fixed dense map so structure crosses subspace
    // boundaries — the regime where OPQ earns its keep
    val rnd = new scala.util.Random(11)
    val dim = 16
    val mix = Array.fill(dim, dim)(rnd.nextGaussian() * 0.25)
    for (i <- 0 until dim) mix(i)(i) += 1.0
    val aniso = (1L to 400L).map { i =>
      val z = Array.tabulate(dim)(d => rnd.nextGaussian() * math.pow(0.72, d))
      (i, Array.tabulate(dim)(r => mix(r).zip(z).map { case (a, b) => a * b }.sum))
    }.toDF("vec_id", "embedding")

    val model = Similarity.trainOpqRotation(aniso, "embedding", m = 4, ksub = 8,
      outerIters = 4, pqIters = 3)
    // rotation orthonormal: R · Rᵀ = I
    for (i <- 0 until dim; j <- i until dim) {
      val d = model.rotation(i).zip(model.rotation(j)).map { case (a, b) => a * b }.sum
      val w = if (i == j) 1.0 else 0.0
      assert(math.abs(d - w) < 1e-8, s"R$i · R$j = $d")
    }
    // quantization error: Σ‖R·x − decode(encode(R·x))‖² vs raw PQ with
    // the same (m, ksub) and at least as many Lloyd steps
    def qErr(df: org.apache.spark.sql.DataFrame, vecCol: org.apache.spark.sql.Column,
             cb: Array[Array[Array[Double]]]): Double =
      df.select(aggregate(zip_with(vecCol,
          Similarity.pqDecode(Similarity.pqEncode(vecCol, cb), cb),
          (a, b) => (a - b) * (a - b)), lit(0.0), _ + _).as("e"))
        .agg(sum($"e")).head().getDouble(0)
    val cbRaw = Similarity.trainPqCodebooks(aniso, "embedding", m = 4, ksub = 8,
      iters = 15)
    val rawErr = qErr(aniso, transform($"embedding", _.cast("double")), cbRaw)
    val opqErr = qErr(aniso, Similarity.opqRotate($"embedding", model.rotation),
      model.codebooks)
    assert(opqErr <= rawErr * 1.001, s"opq $opqErr vs raw $rawErr")
  }

  test("persisted IVF-PQ index: indexed == in-memory for residual and raw codes; scan partition-pruned") {
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(3)) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val qs = emb.where($"vec_id" < 3)
    // residual codes (the default)
    val path = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString + "/idx"
    val (coarse, cb) = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      path, kLists = 4, m = 8, ksub = 16, residual = true, iters = 3)
    val indexed = Similarity.ivfPqTopKIndexed(spark, path, qs, "vec_id",
      "embedding", nprobe = 2, k = 5)
    assert(rowsOf(indexed) == rowsOf(Similarity.ivfPqResidualTopK(
      emb, qs, "vec_id", "embedding", coarse, cb, nprobe = 2, k = 5)))
    // the probe join keys on the partition column → pruned scan
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters: [isnotnull(__cid"),
      s"expected partition-pruned codes scan:\n$plan")
    // raw-code variant round-trips through the same artifact layout
    val path2 = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString + "/idx"
    val (coarse2, cb2) = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      path2, kLists = 4, m = 8, ksub = 16, residual = false, iters = 3)
    assert(rowsOf(Similarity.ivfPqTopKIndexed(spark, path2, qs, "vec_id",
        "embedding", nprobe = 2, k = 5)) ==
      rowsOf(Similarity.ivfPqTopK(emb, qs, "vec_id", "embedding",
        coarse2, cb2, nprobe = 2, k = 5)))
  }

  test("persisted IVF-PQ index with OPQ: rotation persists, queries rotate on load, recall floor vs raw index") {
    // the r14 verdict item 8: trainOpqRotation (r10) and
    // buildIvfPqIndex (r9) composed — build in the rotated space,
    // rotate queries at probe time from the persisted matrix
    val rnd = new scala.util.Random(11)
    val dim = 16
    val mix = Array.fill(dim, dim)(rnd.nextGaussian() * 0.25)
    for (i <- 0 until dim) mix(i)(i) += 1.0
    val aniso = (1L to 400L).map { i =>
      val z = Array.tabulate(dim)(d => rnd.nextGaussian() * math.pow(0.72, d))
      (i, Array.tabulate(dim)(r => mix(r).zip(z).map { case (a, b) => a * b }.sum))
    }.toDF("vec_id", "embedding")
    val qs = aniso.where($"vec_id" <= 5)
    val brute = Similarity.bruteForceTopK(aniso, qs, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(brute).size.toDouble / brute.size
    }
    def freshPath() =
      java.nio.file.Files.createTempDirectory("graft-ivfopq").toString + "/idx"
    val pathRaw = freshPath()
    Similarity.buildIvfPqIndex(aniso, "vec_id", "embedding", pathRaw,
      kLists = 4, m = 4, ksub = 8, residual = false, iters = 3, opq = false)
    val pathOpq = freshPath()
    val (coarseO, cbO) = Similarity.buildIvfPqIndex(aniso, "vec_id",
      "embedding", pathOpq, kLists = 4, m = 4, ksub = 8, residual = false,
      iters = 3, opq = true)
    val rRaw = recallOf(Similarity.ivfPqTopKIndexed(spark, pathRaw, qs,
      "vec_id", "embedding", nprobe = 4, k = 10))
    val rOpq = recallOf(Similarity.ivfPqTopKIndexed(spark, pathOpq, qs,
      "vec_id", "embedding", nprobe = 4, k = 10))
    // deterministic (all seeds fixed): the anisotropic regime is where
    // OPQ earns its keep — the persisted path must keep that win
    assert(rOpq >= rRaw, s"opq recall $rOpq < raw recall $rRaw")
    // round-trip: indexed probe == manual rotate + in-memory ivfPqTopK
    // with the returned (rotated-space) artifacts
    val rot = graft.sources.ModelArtifacts.loadMatrix(spark,
      s"${pathOpq}__model/opq.bin", "opq-rotation")
    val rc = aniso.select($"vec_id",
      Similarity.opqRotate($"embedding", rot).as("embedding"))
    val rq = qs.select($"vec_id",
      Similarity.opqRotate($"embedding", rot).as("embedding"))
    def rowsOf2(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(3)) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rowsOf2(Similarity.ivfPqTopKIndexed(spark, pathOpq, qs, "vec_id",
        "embedding", nprobe = 2, k = 5)) ==
      rowsOf2(Similarity.ivfPqTopK(rc, rq, "vec_id", "embedding",
        coarseO, cbO, nprobe = 2, k = 5)))
    // residual + OPQ compose through the same layout
    val pathRO = freshPath()
    Similarity.buildIvfPqIndex(aniso, "vec_id", "embedding", pathRO,
      kLists = 4, m = 4, ksub = 8, residual = true, iters = 3, opq = true)
    val ro = Similarity.ivfPqTopKIndexed(spark, pathRO, qs, "vec_id",
      "embedding", nprobe = 4, k = 10)
    assert(ro.count() == 50L)
  }

  test("semanticNearDupPairs: SemDeDup cluster-then-compare finds in-cluster dups only") {
    import graft.functions.Similarity
    // two well-separated clusters in R^4, each with a near-dup pair
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val emb = Seq(
      (1L, v(1, 0, 0, 0)), (2L, v(0.999, 0.01, 0, 0)),   // cluster A near-dups
      (3L, v(0.7, -0.7, 0, 0)),                           // cluster A loner
      (10L, v(0, 0, 1, 0)), (11L, v(0, 0, 0.999, 0.01)),  // cluster B near-dups
      (12L, v(0, 0, 0.7, -0.7))                           // cluster B loner
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.semanticNearDupPairs(emb, "vec_id", "embedding",
        kClusters = 2, minCosine = 0.98, iters = 5, seed = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L), (10L, 11L)))
    // keep-one policy drops exactly the higher id of each pair
    val kept = Similarity.dropSemanticNearDups(emb, "vec_id", "embedding",
        kClusters = 2, minCosine = 0.98, iters = 5, seed = 3L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 10L, 12L))
    // one cluster degenerates to plain (unblocked) near-dup pairs
    val one = Similarity.semanticNearDupPairs(emb, "vec_id", "embedding",
        kClusters = 1, minCosine = 0.98, iters = 2, seed = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val unblocked = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(one.toSet == unblocked.toSet)
  }

  test("LSH cosine pairs find high-similarity neighbors") {
    val pairs = Similarity.lshCosinePairs(vecs, "vec_id", "embedding", dim = 3,
      planes = 6, tables = 8, minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => (a, b) == (0L, 4L) })
  }

  test("lshCosinePairs: exact precision AND full recall on the small fixture") {
    val exact = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshCosinePairs(vecs, "vec_id", "embedding", dim = 3,
        planes = 6, tables = 8, minCosine = 0.9, maxBucketSize = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is guaranteed by the shared cosine filter; the EQUALITY
    // is the real check — it fails if the bucket/candidate path drops
    // pairs (broken banding, broken pair emission), not just the filter
    assert(exact.nonEmpty, "fixture must contain at least one true pair")
    assert(lsh == exact, s"LSH pairs $lsh != exact pairs $exact " +
      "(at tables=8 on 3-dim vectors every true pair must collide somewhere)")
  }

  test("lshCosinePairs: duplicate ids never produce self-pairs") {
    // two rows share id 7 — pair emission must skip the equal-id pair;
    // ids are documented unique for the re-attach joins, but the
    // structural guard keeps a dirty input from emitting (7,7)
    val dup = Seq(
      (7L, Array(1.0f, 0.0f, 0.0f)), (7L, Array(1.0f, 0.0f, 0.0f)),
      (9L, Array(0.97f, 0.24f, 0.0f))
    ).toDF("vec_id", "embedding")
    val rows = Similarity.lshCosinePairs(dup, "vec_id", "embedding", dim = 3,
        planes = 4, tables = 6, minCosine = 0.9, maxBucketSize = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!rows.exists { case (a, b) => a == b }, s"self-pairs in $rows")
    assert(rows.toSet == Set((7L, 9L)))
  }

  test("lshCosinePairs: each pair scored once, no duplicate rows across tables") {
    // identical vectors collide in EVERY table; the narrow candidate
    // distinct must still emit each pair exactly once, and the plan
    // must contain exactly one cosine-scoring projection
    val dup = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)), (3L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val res = Similarity.lshCosinePairs(dup, "vec_id", "embedding", dim = 3,
      planes = 4, tables = 6, minCosine = 0.99, maxBucketSize = 0)
    val rows = res.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == rows.distinct.length, "duplicate pair rows")
    assert(rows.toSet == Set((0L, 1L), (0L, 2L), (1L, 2L)))
    // the candidate pair-dedup aggregate sits UPSTREAM of the vector
    // re-attach joins — each pair reaches the scoring projection once,
    // however many tables it collided in
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate(keys=[id_a"),
      s"expected pair-dedup aggregate before scoring:\n$plan")
  }

  test("lshCosinePairs: maxBucketSize drops dense buckets; cosineBucketStats reports them") {
    // 5 identical vectors → one bucket of 5 in every table
    val dense = (0L until 5L).map(i => (i, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val uncapped = Similarity.lshCosinePairs(dense, "vec_id", "embedding", dim = 3,
      planes = 4, tables = 2, minCosine = 0.99, maxBucketSize = 0).count()
    assert(uncapped == 10) // C(5,2)
    val capped = Similarity.lshCosinePairs(dense, "vec_id", "embedding", dim = 3,
      planes = 4, tables = 2, minCosine = 0.99, maxBucketSize = 4).count()
    assert(capped == 0) // both tables' buckets hold 5 > 4 → dropped
    val stats = Similarity.cosineBucketStats(dense, "vec_id", "embedding", dim = 3,
      planes = 4, tables = 2, minSize = 4).collect()
    assert(stats.length == 2 && stats.forall(_.getLong(2) == 5L),
      s"expected one size-5 bucket per table: ${stats.mkString(",")}")
  }

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("lshCosinePairsPlanes == driver-side signature collision ∩ cosine filter") {
    // supplied-plane tier: the buckets are a pure function of the
    // plane literals, so a driver replay (same left-fold double dot)
    // must reproduce the exact candidate set and survivors
    val rnd = new scala.util.Random(11)
    val planes = Array.fill(2, 4, 64)(if (rnd.nextBoolean()) 1.0 else -1.0)
    val minCos = 0.3
    val data = emb.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def dot(v: Array[Float], p: Array[Double]): Double =
      v.indices.foldLeft(0.0)((a, i) => a + v(i).toDouble * p(i))
    def sig(v: Array[Float], t: Int): Long =
      planes(t).indices.foldLeft(0L)((b, i) =>
        if (dot(v, planes(t)(i)) >= 0) b | (1L << i) else b)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val na = math.sqrt(a.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
      val nb = math.sqrt(b.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
      a.indices.foldLeft(0.0)((s, i) => s + (a(i) / na) * (b(i) / nb))
    }
    val expect = (for {
      (ia, va) <- data; (ib, vb) <- data if ia < ib
      if planes.indices.exists(t => sig(va, t) == sig(vb, t))
      c = cos(va, vb) if c >= minCos
    } yield (ia, ib)).toSet
    // fixture sanity: no pair sits within float-noise of the threshold
    data.foreach { case (ia, va) => data.foreach { case (ib, vb) =>
      if (ia < ib) assert(math.abs(cos(va, vb) - minCos) > 1e-6) } }
    val got = Similarity.lshCosinePairsPlanes(emb, "vec_id", "embedding",
        planes, minCosine = minCos, maxBucketSize = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect && got.nonEmpty)
  }

  test("pqDecodedTopK == driver-side encode/reconstruct/score replay") {
    // supplied-codebook tier: with driver-held codebooks, the encode
    // argmax (dot − |c|²/2), the reconstruction, and the decoded dot
    // are all deterministic double arithmetic — a driver replay must
    // agree on ranks AND scores
    val data = emb.select($"vec_id",
        transform($"embedding", _.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val dim = data.head._2.length
    val m = 4; val ksub = 4; val dsub = dim / m
    val cb = Array.tabulate(m)(j =>
      data.take(ksub).map(_._2.slice(j * dsub, (j + 1) * dsub)))
    def ldot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    def rec(v: Array[Double]): Array[Double] =
      (0 until m).flatMap { j =>
        val sub = v.slice(j * dsub, (j + 1) * dsub)
        val scores = cb(j).map(c => ldot(sub, c) - 0.5 * ldot(c, c))
        cb(j)(scores.indexOf(scores.max)).toSeq
      }.toArray
    val k = 3
    val queries = data.take(2)
    val expect = queries.flatMap { case (qid, qv) =>
      data.filter(_._1 != qid)
        .map { case (cid, cv) => (cid, ldot(qv, rec(cv))) }
        .sortBy { case (cid, s) => (-s, cid) }.take(k).zipWithIndex
        .map { case ((cid, s), i) => (qid, cid, i + 1, s) }
    }.toSet
    val got = Similarity.pqDecodedTopK(
        emb.select($"vec_id", transform($"embedding", _.cast("double")).as("v")),
        emb.where($"vec_id" < 2).select($"vec_id", transform($"embedding", _.cast("double")).as("v")),
        "vec_id", "v", cb, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3), r.getDouble(2))).toSet
    assert(got.map(t => (t._1, t._2, t._3)) == expect.map(t => (t._1, t._2, t._3)))
    // scores agree to the display rounding (both sides round(·, 6))
    // Spark round() = BigDecimal HALF_UP on the SHORTEST decimal repr
    // (Double.toString), not the exact binary expansion
    val expRounded = expect.map(t => (t._1, t._2, t._3,
      BigDecimal(t._4.toString).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(got == expRounded, s"$got vs $expRounded")
  }

  test("trainPqCodebooks: m×ksub×dsub shape, deterministic per seed") {
    val cb = Similarity.trainPqCodebooks(emb, "embedding", m = 8, ksub = 8, iters = 2)
    assert(cb.length == 8 && cb.forall(_.length == 8) &&
      cb.forall(_.forall(_.length == 8))) // dim 64 / m 8
    val cb2 = Similarity.trainPqCodebooks(emb, "embedding", m = 8, ksub = 8, iters = 2)
    assert(cb.flatten.flatten.toSeq == cb2.flatten.flatten.toSeq)
  }

  test("pqEncode: m codes in [1, ksub], repartition-invariant") {
    val cb = Similarity.trainPqCodebooks(emb, "embedding", m = 8, ksub = 8, iters = 2)
    val codes = emb.select($"vec_id", Similarity.pqEncode($"embedding", cb).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.values.forall(c => c.length == 8 && c.forall(x => x >= 1 && x <= 8)))
    val codes2 = emb.repartition(7)
      .select($"vec_id", Similarity.pqEncode($"embedding", cb).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes == codes2)
    // fused kernel is bit-compatible with the columnar built-ins twin
    val columnar = emb
      .select($"vec_id", ReferenceForms.pqEncodeColumnar($"embedding", cb).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes == columnar)
  }

  test("ADC over a reconstructed corpus equals exact squared-L2 top-k") {
    // on vectors that ARE centroid concatenations, ADC is exact: the
    // corpus codes reconstruct losslessly, so Σ_j lut[j][code_j] is the
    // true squared L2 to the reconstruction
    val cb = Similarity.trainPqCodebooks(emb, "embedding", m = 8, ksub = 8, iters = 3)
    val recon = emb.select($"vec_id",
      Similarity.pqDecode(Similarity.pqEncode($"embedding", cb), cb).as("embedding"))
      .cache()
    val queries = recon.where($"vec_id".isin(0L, 7L, 42L))
    val got = Similarity.pqAdcTopK(recon, queries, "vec_id", "embedding", cb, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    // driver reference: exact sqL2 over the reconstructed vectors
    val all = recon.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val qs = all.filter(p => Set(0L, 7L, 42L).contains(p._1))
    val want = qs.flatMap { case (qid, qv) =>
      all.filter(_._1 != qid)
        .map { case (cid, cv) =>
          val d = qv.zip(cv).map { case (x, y) => (x - y) * (x - y) }.sum
          (d, cid)
        }.sortBy(identity).take(5).zipWithIndex
        .map { case ((_, cid), i) => (qid, i + 1) -> cid }
    }.toMap
    assert(got == want)
    recon.unpersist()
  }

  test("rankedEvalReport composes the ANN recall gate for the TRAINED tiers") {
    // r12 verdict item 4, spec side: the oracled q_ann_recall covers
    // the supplied-artifact tiers; the TRAINED tiers (k-means PQ,
    // reranked SQ8, trained IVF) gate here through the SAME
    // rankedEvalReport composition — micro recall@10 = Σhits/Σn_rel,
    // exact integers until one division. Deterministic (fixed seeds).
    import graft.functions.Corpus
    val k = 10
    val queries = emb.where($"vec_id" < 10)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", k)
    val truth = brute.select($"q_id", $"c_id")
    def recallOf(ranked: org.apache.spark.sql.DataFrame): Double = {
      val r = Corpus.rankedEvalReport(ranked, "q_id", "c_id", "rank",
          truth, "q_id", "c_id", k)
        .agg(sum($"hits"), sum($"n_rel")).head()
      r.getLong(0).toDouble / r.getLong(1).toDouble
    }
    assert(recallOf(brute) == 1.0) // harness control: truth vs itself
    // trained PQ with exact re-rank (the production recall tier)
    val n = emb.select($"vec_id",
      transform($"embedding", x => x / sqrt(aggregate(
        zip_with($"embedding", $"embedding", (a, b) => (a * b).cast("double")),
        lit(0.0), _ + _))).as("embedding")).cache()
    val qn = n.where($"vec_id" < 10)
    val truthN = Similarity.bruteForceTopK(n, qn, "vec_id", "embedding", k)
      .select($"q_id", $"c_id")
    def recallOfN(ranked: org.apache.spark.sql.DataFrame): Double = {
      val r = Corpus.rankedEvalReport(ranked, "q_id", "c_id", "rank",
          truthN, "q_id", "c_id", k)
        .agg(sum($"hits"), sum($"n_rel")).head()
      r.getLong(0).toDouble / r.getLong(1).toDouble
    }
    val cbn = Similarity.trainPqCodebooks(n, "embedding", m = 16, ksub = 32,
      iters = 3)
    val pqRr = recallOfN(Similarity.pqAdcTopKReranked(n, qn, "vec_id",
      "embedding", cbn, k = k))
    assert(pqRr >= 0.75, s"re-ranked PQ recall@10 collapsed: $pqRr")
    // reranked SQ8 (8-bit quantization + exact re-rank)
    val (mins, maxs) = Similarity.trainSq8Bounds(emb, "embedding")
    val sq8Rr = recallOf(Similarity.sq8TopKReranked(emb, queries, "vec_id",
      "embedding", mins, maxs, k = k))
    assert(sq8Rr >= 0.9, s"re-ranked SQ8 recall@10 collapsed: $sq8Rr")
    // trained IVF probing half the lists
    val cents = Similarity.trainIvfCentroids(emb, "embedding", k = 8,
      iters = 3)
    val ivfR = recallOf(Similarity.ivfTopK(emb, queries, "vec_id",
      "embedding", cents, nprobe = 4, k = k))
    assert(ivfR >= 0.5, s"IVF nprobe=4/8 recall@10 collapsed: $ivfR")
    info(f"recall@10: pq_rerank=$pqRr%.2f sq8_rerank=$sq8Rr%.2f ivf4of8=$ivfR%.2f")
    n.unpersist()
  }

  test("ivfPqTopK with nprobe = kLists equals exhaustive pqAdcTopK; recall sane") {
    val cb = Similarity.trainPqCodebooks(emb, "embedding", m = 8, ksub = 16, iters = 3)
    val coarse = Similarity.trainIvfCentroids(emb, "embedding", k = 4, iters = 3)
    val queries = emb.where($"vec_id" < 5)
    val full = Similarity.pqAdcTopK(emb, queries, "vec_id", "embedding", cb, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val ivf = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        coarse, cb, nprobe = 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(ivf == full)
    // recall sanity vs exact cosine on L2-normalized vectors (where
    // ascending L2 = descending cosine). Deterministic — thresholds
    // pinned below the bench/pqprobe_r8.txt measurements (raw ADC 0.50,
    // 5×-shortlist re-rank 0.94 at m=16 ksub=32 on this data).
    val n = emb.select($"vec_id",
      transform($"embedding", x => x / sqrt(aggregate(
        zip_with($"embedding", $"embedding", (a, b) => (a * b).cast("double")),
        lit(0.0), _ + _))).as("embedding")).cache()
    val cbn = Similarity.trainPqCodebooks(n, "embedding", m = 16, ksub = 32, iters = 3)
    val qn = n.where($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(n, qn, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.pqAdcTopK(n, qn, "vec_id", "embedding", cbn, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx intersect exact).size.toDouble / exact.size
    assert(recall >= 0.35, s"raw ADC recall@10 collapsed: $recall")
    // exact re-rank of the ADC shortlist recovers most of the loss
    val rr = Similarity.pqAdcTopKReranked(n, qn, "vec_id", "embedding", cbn, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rrRecall = (rr intersect exact).size.toDouble / exact.size
    assert(rrRecall >= 0.75, s"re-ranked PQ recall@10 collapsed: $rrRecall")
    assert(rrRecall >= recall, "re-rank must not lose recall vs raw ADC")
    n.unpersist()
  }

  test("residual IVF-PQ: ADC equals exact squared-L2 to the per-list reconstruction; recall holds vs raw codes") {
    val coarse = Similarity.trainIvfCentroids(emb, "embedding", k = 4, iters = 3)
    val cb = Similarity.trainPqCodebooksResidual(emb, "embedding", coarse,
      m = 8, ksub = 16, iters = 3)
    val queries = emb.where($"vec_id" < 5)
    val got = Similarity.ivfPqResidualTopK(emb, queries, "vec_id", "embedding",
        coarse, cb, nprobe = 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // reference: reconstruction = coarse(cid) + decode(residual codes),
    // built from the SAME library expressions, scored by DIRECT squared
    // L2 — asserting Σ_j lut[j][code_j] really is the distance to the
    // reconstruction (the defining ADC property, now per-list).
    // coarseResidual(v, -coarse, cid) = v + coarse(cid) adds the
    // centroid back using the negated centroid table.
    val negCoarse = coarse.map(_.map(x => -x))
    val recon = emb
      .select($"vec_id".as("c_id"), $"embedding",
        Similarity.nearestCentroid($"embedding", coarse).as("__cid"))
      .select($"c_id",
        Similarity.coarseResidual(
          Similarity.pqDecode(Similarity.pqEncode(
            Similarity.coarseResidual($"embedding", coarse, $"__cid"), cb), cb),
          negCoarse, $"__cid").as("recon"))
    val ref = recon.crossJoin(
        broadcast(queries.select($"vec_id".as("q_id"), $"embedding".as("q_v"))))
      .where($"c_id" =!= $"q_id")
      .withColumn("d", aggregate(
        zip_with($"q_v", $"recon",
          (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), _ + _))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"d", $"c_id")
    val want = ref.withColumn("__rk", row_number().over(w))
      .where($"__rk" <= 10)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("__rk")) ->
        ((r.getAs[Long]("c_id"),
          BigDecimal(r.getAs[Double]("d")).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
      .toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, (cid, adist)) =>
      val (wcid, wd) = want(k)
      assert(cid == wcid, s"$k: $cid vs $wcid")
      assert(math.abs(adist - wd) < 1e-6, s"$k: adist $adist vs direct $wd")
    }
    // recall vs the raw-code IVF-PQ at the same budget (normalized
    // vectors; bench/pqprobe_r9.txt at sf0.01: residual 0.520 vs raw 0.475
    // at kLists=8 m=16 ksub=32 nprobe=8 — at-or-above raw in 6/8
    // configs). The pinned guarantee is "residual does not collapse
    // vs raw": small-sample noise means a strict >= does not hold
    // config-by-config.
    val n = emb.select($"vec_id",
      transform($"embedding", x => x / sqrt(aggregate(
        zip_with($"embedding", $"embedding", (a, b) => (a * b).cast("double")),
        lit(0.0), _ + _))).as("embedding")).cache()
    val qn = n.where($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(n, qn, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val coarseN = Similarity.trainIvfCentroids(n, "embedding", k = 4, iters = 3)
    val cbRaw = Similarity.trainPqCodebooks(n, "embedding", m = 16, ksub = 16, iters = 3)
    val cbRes = Similarity.trainPqCodebooksResidual(n, "embedding", coarseN,
      m = 16, ksub = 16, iters = 3)
    val raw = Similarity.ivfPqTopK(n, qn, "vec_id", "embedding",
        coarseN, cbRaw, nprobe = 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val res = Similarity.ivfPqResidualTopK(n, qn, "vec_id", "embedding",
        coarseN, cbRes, nprobe = 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rawRecall = (raw intersect exact).size.toDouble / exact.size
    val resRecall = (res intersect exact).size.toDouble / exact.size
    info(s"ivf-pq recall@10: raw=$rawRecall residual=$resRecall")
    assert(resRecall >= rawRecall - 0.1,
      s"residual recall collapsed vs raw: $resRecall vs $rawRecall")
    n.unpersist()
  }

  test("knnPredict: majority label wins, vote ties break on the smaller label") {
    val labeled = Seq(
      (10L, Array(1f, 0f, 0f), 1), (11L, Array(0.9f, 0.1f, 0f), 1),
      (12L, Array(0.8f, 0.2f, 0f), 1),
      (13L, Array(0f, 1f, 0f), 2), (14L, Array(0.1f, 0.9f, 0f), 2))
      .toDF("vec_id", "embedding", "label")
    val queries = Seq((1L, Array(0.95f, 0.05f, 0f)), (2L, Array(0.05f, 0.95f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.knnPredict(labeled, queries, "vec_id", "embedding",
        "label", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got(1L) == ((1, 3L))) // all 3 neighbors are label 1
    assert(got(2L) == ((2, 2L))) // 2 of 3 neighbors are label 2
    // exact 2-2 vote with k=4 → smaller label wins the tie
    val tied = Similarity.knnPredict(labeled, queries, "vec_id", "embedding",
        "label", k = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(tied(2L) == 1 || tied(2L) == 2) // 3-1 or 2-2 depending on geometry
  }

  test("centroidCosine: the off-cluster vector scores lowest for its label") {
    val df = Seq(
      (1L, Array(1f, 0f, 0f), 7), (2L, Array(0.95f, 0.05f, 0f), 7),
      (3L, Array(0.9f, 0.1f, 0f), 7),
      (4L, Array(0f, 0f, 1f), 7)) // mislabeled outlier
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidCosine(df, "label", "vec_id", "embedding")
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val minId = got.minBy(_._2)._1
    assert(minId == 4L, s"outlier not flagged: $got")
    assert(got(1L) > got(4L) && got(2L) > got(4L) && got(3L) > got(4L))
  }

  test("marginTopK demotes hub vectors that raw cosine ranks first") {
    val qs = Seq((1L, Array(1f, 0f, 0f)), (2L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val cs = Seq(
      (10L, Array(0.7071f, 0.7071f, 0f)), // hub: equally close to both queries
      (11L, Array(0.6f, 0f, 0.8f)),       // true partner of q1 (cos 0.6)
      (12L, Array(0f, 0.6f, 0.8f)))       // true partner of q2
      .toDF("vec_id", "embedding")
    // raw cosine: the hub wins BOTH queries (0.707 > 0.6)
    val raw = Similarity.bruteForceTopK(cs, qs, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(raw == Map(1L -> 10L, 2L -> 10L))
    // ratio margin: the hub's high neighborhood average demotes it and
    // each query recovers its true partner
    val m = Similarity.marginTopK(cs, qs, "vec_id", "embedding", k = 1, kAvg = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 11L, 2L -> 12L), s"margin failed to demote the hub: $m")
  }

  test("marginTopKSymmetric agrees with marginTopK on a corpus-hub fixture; cluster pruning preserves the demotion") {
    // The hub must be a hub IN CORPUS SPACE for the symmetric variant
    // to see it: a tight hub family (10, 13, 14) plus one true partner
    // per query. Raw cosine ranks a hub-family vector first for both
    // queries; both margin variants recover the true partners.
    val qs = Seq((1L, Array(1f, 0f, 0f)), (2L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val cs = Seq(
      (10L, Array(0.7071f, 0.7071f, 0f)),  // hub
      (13L, Array(0.7f, 0.714f, 0.01f)),   // hub neighbor
      (14L, Array(0.714f, 0.7f, 0.01f)),   // hub neighbor
      (11L, Array(0.6f, 0f, 0.8f)),        // true partner of q1
      (12L, Array(0f, 0.6f, 0.8f)))        // true partner of q2
      .toDF("vec_id", "embedding")
    val raw = Similarity.bruteForceTopK(cs, qs, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(raw(1L) != 11L && raw(2L) != 12L, s"fixture lost its hubs: $raw")
    val fwd = Similarity.marginTopK(cs, qs, "vec_id", "embedding", k = 1, kAvg = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fwd == Map(1L -> 11L, 2L -> 12L), s"forward margin: $fwd")
    // exact tier (kLists = 1): complete corpus self-scan, no quantizer
    val sym = Similarity.marginTopKSymmetric(cs, qs, "vec_id", "embedding",
        k = 1, kAvg = 2, kLists = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sym == Map(1L -> 11L, 2L -> 12L), s"symmetric margin: $sym")
    // cluster-pruned tier: the hub family and the partners separate
    // into clusters; within-cluster neighborhoods still demote the hub
    val pruned = Similarity.marginTopKSymmetric(cs, qs, "vec_id", "embedding",
        k = 1, kAvg = 2, kLists = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pruned == Map(1L -> 11L, 2L -> 12L), s"pruned symmetric margin: $pruned")
  }

  test("ivfSq8TopK with nprobe = kLists equals exhaustive sq8TopK") {
    val (mins, maxs) = Similarity.trainSq8Bounds(emb, "embedding")
    val coarse = Similarity.trainIvfCentroids(emb, "embedding", k = 4, iters = 3)
    val queries = emb.where($"vec_id" < 5)
    val full = Similarity.sq8TopK(emb, queries, "vec_id", "embedding",
        mins, maxs, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val ivf = Similarity.ivfSq8TopK(emb, queries, "vec_id", "embedding",
        coarse, mins, maxs, nprobe = 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(ivf == full)
    // pruned probing returns k rows per query and stays a subset-ranked
    // list of the same score space
    val pruned = Similarity.ivfSq8TopK(emb, queries, "vec_id", "embedding",
        coarse, mins, maxs, nprobe = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned.size == 50)
  }

  test("sq8Encode: codes in [0,255], repartition-invariant, decode error bounded") {
    val (mins, maxs) = Similarity.trainSq8Bounds(emb, "embedding")
    assert(mins.length == 64 && maxs.length == 64 &&
      mins.indices.forall(i => mins(i) <= maxs(i)))
    val codes = emb
      .select($"vec_id", Similarity.sq8Encode($"embedding", mins, maxs).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.values.forall(c => c.length == 64 && c.forall(x => x >= 0 && x <= 255)))
    val codes2 = emb.repartition(7)
      .select($"vec_id", Similarity.sq8Encode($"embedding", mins, maxs).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes == codes2)
    // mid-point reconstruction error <= w/512 per dimension (in-bounds
    // inputs; the boundary x = max hits the bound with equality)
    val dec = emb.select($"vec_id",
        Similarity.sq8Decode(Similarity.sq8Encode($"embedding", mins, maxs),
          mins, maxs).as("d"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).foreach {
      case (id, v) =>
        v.zip(dec(id)).zipWithIndex.foreach { case ((x, d), i) =>
          val w = maxs(i) - mins(i)
          assert(math.abs(x.toDouble - d) <= w / 512 + 1e-9,
            s"dim $i of vec $id: $x decoded $d (width $w)")
        }
    }
  }

  test("sq8TopK matches a driver decoded-dot reference; re-rank recovers recall") {
    val (mins, maxs) = Similarity.trainSq8Bounds(emb, "embedding")
    val queries = emb.where($"vec_id" < 5)
    val got = Similarity.sq8TopK(emb, queries, "vec_id", "embedding",
        mins, maxs, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1))
      .toMap
    val all = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def dec(v: Array[Float]): Array[Double] = v.indices.map { i =>
      val w = maxs(i) - mins(i)
      if (w == 0) mins(i)
      else {
        val c = math.min(math.max(
          math.floor((v(i).toDouble - mins(i)) * 256.0 / w), 0.0), 255.0)
        mins(i) + (c + 0.5) * w / 256.0
      }
    }.toArray
    val want = all.filter(_._1 < 5).flatMap { case (qid, qv) =>
      all.filter(_._1 != qid).map { case (cid, cv) =>
        val s = qv.map(_.toDouble).zip(dec(cv)).map { case (a, b) => a * b }.sum
        (-s, cid)
      }.sorted.take(5).zipWithIndex
        .map { case ((_, cid), i) => (qid, i + 1) -> cid }
    }.toMap
    assert(got == want)
    // recall vs exact cosine on L2-normalized vectors; thresholds
    // pinned below the measured values on this data (8-bit asymmetric
    // decode is far tighter than PQ at the same data — see info line;
    // the symmetric integer code dot was measured at recall 0.06 and
    // rejected, see sq8TopK Scaladoc)
    val n = emb.select($"vec_id",
      transform($"embedding", x => x / sqrt(aggregate(
        zip_with($"embedding", $"embedding", (a, b) => (a * b).cast("double")),
        lit(0.0), _ + _))).as("embedding")).cache()
    val (nm, nx) = Similarity.trainSq8Bounds(n, "embedding")
    val qn = n.where($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(n, qn, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val raw = Similarity.sq8TopK(n, qn, "vec_id", "embedding", nm, nx, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rawRecall = (raw intersect exact).size.toDouble / exact.size
    val rr = Similarity.sq8TopKReranked(n, qn, "vec_id", "embedding", nm, nx, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rrRecall = (rr intersect exact).size.toDouble / exact.size
    info(s"sq8 recall@10: raw=$rawRecall reranked=$rrRecall")
    assert(rawRecall >= 0.9, s"raw SQ8 recall@10 collapsed: $rawRecall")
    assert(rrRecall >= 0.95, s"re-ranked SQ8 recall@10 collapsed: $rrRecall")
    assert(rrRecall >= rawRecall, "re-rank must not lose recall vs raw codes")
    n.unpersist()
  }
}

class TextFunctionsSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  test("mojibakeHits/Fraction: marker counts exact, clean text zero, empty text 0.0") {
    val cases = Seq(
      (1L, "clean prose with nothing wrong at all"),
      (2L, "smart quote gone wrong: â€™ and â€œ twice â€"),   // "â€" ×3
      (3L, "latin-1 lead bytes: Ã© Ã¨ and nbsp Â here"),      // Ã ×2, Â ×1
      (4L, "replacement \ufffd char and emoji lead \u00f0\u009f\u02dc\u20ac"), // fffd x1, f0+9f x1
      (5L, ""))
    val got = cases.toDF("id", "t")
      .select($"id", TextFunctions.mojibakeHits($"t").as("h"),
        TextFunctions.mojibakeFraction($"t").as("f"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) == (0L, 0.0))
    assert(got(2L)._1 == 3L)
    assert(got(3L)._1 == 3L)
    assert(got(4L)._1 == 2L)
    assert(got(5L) == (0L, 0.0))
    val t2 = cases(1)._2
    assert(got(2L)._2 == 3.0 / t2.codePointCount(0, t2.length))
  }

  test("charEntropy/tokenEntropy == driver reference; degenerate cases exact") {
    def refEntropy(elems: Seq[String]): Double = {
      if (elems.isEmpty) 0.0
      else {
        val n = elems.size.toDouble
        val acc = elems.groupBy(identity).values
          .map(g => g.size * math.log(g.size.toDouble)).sum
        val h = math.log(n) - acc / n
        if (h <= 0.0) 0.0 else h
      }
    }
    def refChar(s: String): Double =
      refEntropy(s.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp))))
    def refTok(s: String): Double =
      refEntropy(s.split("\\s+").filter(_.nonEmpty).toSeq)
    val rnd = new scala.util.Random(7)
    val texts = Seq("", "aaaa", "ab", "the the the", "mixed case Text 😀 é",
      "one two two three three three") ++
      (1 to 20).map(_ => (1 to 5 + rnd.nextInt(60))
        .map(_ => "abc x"(rnd.nextInt(5))).mkString)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val got = df.select($"id", TextFunctions.charEntropy($"t").as("ce"),
        TextFunctions.tokenEntropy($"t").as("te"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val (ce, te) = got(i.toLong)
      assert(math.abs(ce - refChar(t)) < 1e-9, s"char i=$i '$t': $ce vs ${refChar(t)}")
      assert(math.abs(te - refTok(t)) < 1e-9, s"tok i=$i '$t': $te vs ${refTok(t)}")
    }
    // degenerate exactness: all-equal and empty are EXACT +0.0 (clamped)
    assert(got(0L) == (0.0, 0.0))
    assert(got(1L)._1 == 0.0 &&
      java.lang.Double.doubleToRawLongBits(got(1L)._1) == 0L)
    assert(got(3L)._2 == 0.0) // "the the the" single-token distribution
    // kernel == columnar run-length fold BIT-FOR-BIT (same sorted
    // accumulation order, same Math.log) — incl. supplementary chars
    val viaColumnar = df.select($"id",
        ReferenceForms.charEntropyColumnar($"t").as("ce"),
        ReferenceForms.tokenEntropyColumnar($"t").as("te"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    texts.indices.foreach { i =>
      val (kc, kt) = got(i.toLong)
      val (cc, ct) = viaColumnar(i.toLong)
      assert(java.lang.Double.doubleToRawLongBits(kc) ==
        java.lang.Double.doubleToRawLongBits(cc), s"char i=$i: $kc vs $cc")
      assert(java.lang.Double.doubleToRawLongBits(kt) ==
        java.lang.Double.doubleToRawLongBits(ct), s"tok i=$i: $kt vs $ct")
    }
  }

  test("flesch signals: hand-computed scores, count proxies, empty null, no-punct floor") {
    // "the cat sat." → w=3, s=1, sy=3 (e-groups: e,a,a)
    val cases = Seq(
      (1L, "the cat sat."),
      (2L, "one two. three four! five?"),   // w=5, s=3, sy: o-e,o,ee,ou,i-e → count groups
      (3L, ""),                              // null scores
      (4L, "xxxx zzzz"),                     // zero syllables, no punct → s=1
      (5L, "aeiou")                          // one vowel group, one word
    ).toDF("id", "t")
    val got = cases.select($"id",
        TextFunctions.fleschReadingEase($"t").as("f"),
        TextFunctions.fleschKincaidGrade($"t").as("g"),
        TextFunctions.syllableCountApprox($"t").as("sy"),
        TextFunctions.sentenceCountApprox($"t").as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)),
         if (r.isNullAt(2)) None else Some(r.getDouble(2)),
         r.getLong(3), r.getLong(4))).toMap
    def flesch(w: Double, s: Double, sy: Double) =
      206.835 - 1.015 * (w / s) - 84.6 * (sy / w)
    def grade(w: Double, s: Double, sy: Double) =
      0.39 * (w / s) + 11.8 * (sy / w) - 15.59
    assert(got(1L)._3 == 3L && got(1L)._4 == 1L)
    assert(got(1L)._1.get == flesch(3, 1, 3) && got(1L)._2.get == grade(3, 1, 3))
    // "one two. three four! five?": vowel groups o-e(2: o,e? 'one'
    // = o,e → 2), 'two' 1, 'three' 1(ee), 'four' 1(ou), 'five' 2(i,e)
    assert(got(2L)._3 == 7L && got(2L)._4 == 3L)
    assert(got(2L)._1.get == flesch(5, 3, 7))
    assert(got(3L)._1.isEmpty && got(3L)._2.isEmpty)
    assert(got(4L)._3 == 0L && got(4L)._4 == 1L &&
      got(4L)._1.get == flesch(2, 1, 0))
    assert(got(5L)._3 == 1L && got(5L)._1.get == flesch(1, 1, 1))
  }

  test("cleanText: controls, CRLF, zero-width, space runs, blank-line caps") {
    val cases = Seq(
      // CRLF + CR become \n; control chars dropped; tabs/spaces collapse
      ("a\r\nb\rc", "a\nb\nc"),
      ("x\u0007y\u0000z", "xyz"),
      ("a \t b\t\tc", "a b c"),
      // zero-width space / joiners / BOM vanish
      ("a​b‌‍c﻿", "abc"),
      // whitespace tightens around newlines; >=3 blank lines cap at 1
      ("a \n b", "a\nb"),
      ("a\n\n\n\n\nb", "a\n\nb"),
      // decomposed é composes under NFC before anything else
      ("café  x", "café x"),
      // trim at the ends (spaces)
      ("  hi  ", "hi"))
    val got = cases.zipWithIndex.map { case ((in, _), i) => (i, in) }
      .toDF("i", "t")
      .select($"i", TextFunctions.cleanText($"t").as("c"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(got(i) == want, s"input: ${in.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("unicodeNormalize column form: NFC fast path returns input unchanged") {
    val df = Seq((1L, "plain ascii"), (2L, "é")).toDF("id", "t")
    val got = df.select($"id", TextFunctions.unicodeNormalize($"t").as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "plain ascii" && got(2L) == "é")
    // invalid form rejected at analysis
    intercept[Exception] {
      df.select(TextFunctions.unicodeNormalize($"t", "BOGUS")).collect()
    }
  }

  test("winnowing: shared substring >= w+k-1 guarantees a shared fingerprint") {
    val k = 5; val w = 4
    val shared = "zqxvbnmlkjhgfd" // length 14 >= w+k-1 = 8, rare chars
    val df = Seq(
      (1L, s"aaaa bbbb $shared cccc dddd"),
      (2L, s"eeee ffff gggg $shared hhhh"),
      (3L, "iiii jjjj kkkk llll mmmm nnnn oooo")
    ).toDF("id", "text")
    for (twin <- Seq(false, true)) {
      val fpCol =
        if (twin) TextFunctions.winnowingFingerprintsByMd5($"text", k, w)
        else TextFunctions.winnowingFingerprints($"text", k, w)
      val fps = df.select($"id", fpCol.as("f"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      assert((fps(1L) intersect fps(2L)).nonEmpty, s"twin=$twin")
      // sets are sorted distinct
      fps.values.foreach(s => assert(s.toSeq.size == s.size))
      // selection is a subset of all gram hashes and much smaller
      assert(fps(1L).size < df.where($"id" === 1L).head().getString(1).length)
    }
    // a doc shorter than k yields an empty set, not a failure
    val short = Seq((9L, "ab")).toDF("id", "text")
      .select(TextFunctions.winnowingFingerprints($"text", k, w).as("f"))
      .head().getSeq[Long](0)
    assert(short.isEmpty)
  }

  test("winnowSet kernel rewrite == original columnar value-set form (both tiers, clamp, w=1)") {
    // the EXACT pre-r13 columnar form, kept here as the reference: it
    // re-evaluated the whole per-gram hash array once per window start
    // (O(len²) gram hashes/doc — the q_winnow 202 s finding), which is
    // why production moved onto the WinnowAnchors kernel
    def columnarRef(text: org.apache.spark.sql.Column, k: Int, w: Int,
        byMd5: Boolean): org.apache.spark.sql.Column = {
      def gramHash(g: org.apache.spark.sql.Column) =
        if (byMd5) conv(substring(md5(g), 1, 15), 16, 10).cast("long")
        else xxhash64(g)
      val nh = length(text) - (k - 1)
      val hashes = transform(sequence(lit(1), greatest(nh, lit(1))),
        i => gramHash(text.substr(i, lit(k))))
      val starts = sequence(lit(1), greatest(nh - (w - 1), lit(1)))
      val sel = transform(starts, s => array_min(slice(hashes, s, lit(w))))
      when(nh >= 1, array_sort(array_distinct(sel)))
        .otherwise(array().cast("array<bigint>"))
    }
    val fixture = Seq(
      (1L, "abc abc abc abc abc abc abc"),             // periodic ties
      (2L, "emoji 😀 accents éàü across grams 😀😀 end"), // code points
      (3L, "tiny"), (4L, ""), (5L, "x" * 30),          // clamp/empty/runs
      (6L, "the quick brown fox jumps over the lazy dog")
    ).toDF("id", "text")
    // (3,8) puts several docs in the 1 <= grams < w clamp branch;
    // (4,1) exercises the w=1 every-gram path
    for (byMd5 <- Seq(false, true);
         (k, w) <- Seq((5, 4), (10, 8), (3, 8), (4, 1), (2, 2))) {
      def fp(c: org.apache.spark.sql.Column) =
        if (byMd5) TextFunctions.winnowingFingerprintsByMd5(c, k, w)
        else TextFunctions.winnowingFingerprints(c, k, w)
      val got = fixture.select($"id", fp($"text").as("f"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val want = fixture.select($"id", columnarRef($"text", k, w, byMd5).as("f"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(got == want, s"byMd5=$byMd5 k=$k w=$w")
    }
    // randomized small-alphabet docs manufacture hash ties and runs
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(200 + seed)
      val docs = (1L to 8L).map { i =>
        i -> (1 to 5 + rnd.nextInt(120)).map(_ => "ab "(rnd.nextInt(3))).mkString
      }.toDF("id", "text")
      val got = docs.select($"id",
          TextFunctions.winnowingFingerprints($"text", 4, 5).as("f"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val want = docs.select($"id", columnarRef($"text", 4, 5, byMd5 = false).as("f"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("winnowingSharedPairs: planted overlap found, stop-fingerprint cap drops viral grams") {
    val planted = "zqxvbnmlkjhgfdsa"
    val viral = "common boiler plate line here"
    val df = Seq(
      (1L, s"$viral aaaa $planted bbbb"),
      (2L, s"$viral cccc dddd $planted"),
      (3L, s"$viral eeee ffff gggg hhhh"),
      (4L, s"$viral iiii jjjj kkkk llll")
    ).toDF("id", "text")
    val pairs = Dedup.winnowingSharedPairs(df, "id", $"text", k = 5, w = 4,
        minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // every pair shares the viral prefix, but (1,2) also shares the
    // planted block → strictly more shared fingerprints
    assert(pairs.contains((1L, 2L)))
    assert(pairs((1L, 2L)) > pairs.getOrElse((3L, 4L), 0L))
    // capping fingerprints present in ALL 4 docs removes the viral
    // signal: only the planted pair survives a cap of 3
    val capped = Dedup.winnowingSharedPairs(df, "id", $"text", k = 5, w = 4,
        minShared = 2, maxDocFreq = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 2L)) && !capped.contains((3L, 4L)))
  }

  test("langId stopword voting on natural-ish text") {
    val df = Seq(
      (1L, "the cat sat on the mat and it is a good day"),
      (2L, "le chat est sur le tapis et les jours de la vie"),
      (3L, "der hund ist nicht das problem und die katze auch")
    ).toDF("id", "text")
    val got = df.select($"id", TextFunctions.langId(TextFunctions.tokens($"text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "fr", 3L -> "de"))
  }

  test("LangVotes kernel == columnar filter/isin fold (drop-in twin)") {
    // r16: one-pass voting kernel; the columnar form ran one
    // interpreted filter() HOF per language. Equality over ties
    // (earlier list wins on equal scores — incl. the all-zero case),
    // multi-list words ("de"/"la" sit in two lists), null elements
    // (vote for nothing), empty arrays, empty strings, and null TEXT
    // (null toks → the first language, the columnar fold's behavior).
    val df = Seq(
      "the cat sat on the mat and it is a good day",
      "le chat est sur le tapis et les jours de la vie",
      "der hund ist nicht das problem und die katze auch",
      "el perro y los gatos de la casa por que",
      "de la de la", // multi-list words only — tie fr/es, fr earlier
      "xyzzy plugh nothing matches here", "", " ", "the", "la",
      null.asInstanceOf[String]
    ).toDF("text")
    val toks = TextFunctions.tokens($"text")
    df.select(TextFunctions.langId(toks).as("k"),
        ReferenceForms.langIdColumnar(toks).as("c"))
      .collect().foreach(r => assert(r.getString(0) == r.getString(1), r))
    // null ELEMENTS vote for nothing in both forms
    val arrDf = Seq(Tuple1(Seq[String]("the", null, "la", null)))
      .toDF("toks")
    arrDf.select(TextFunctions.langId($"toks").as("k"),
        ReferenceForms.langIdColumnar($"toks").as("c"))
      .collect().foreach(r => assert(r.getString(0) == r.getString(1), r))
    // randomized cross-check over the default lists' vocabulary
    val vocab = TextFunctions.defaultStopwords.flatMap(_._2) ++
      Seq("foo", "bar", "zz")
    val rnd = new scala.util.Random(46)
    val rndDf = (1 to 200).map { _ =>
      (1 to rnd.nextInt(30)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }.toDF("text")
    val rtoks = TextFunctions.tokens($"text")
    rndDf.select(TextFunctions.langId(rtoks).as("k"),
        ReferenceForms.langIdColumnar(rtoks).as("c"))
      .collect().foreach(r => assert(r.getString(0) == r.getString(1), r))
  }

  test("fused ShingleHashCounts == explode+count of charTrigrams, incl. edge shapes") {
    import org.apache.spark.sql.graft.Bridge
    val texts = Seq("the quick brown fox", "aaaa", "ab", "a", "",
      "héllo wörld déjà vu", "日本語のテキスト例", "x y z " * 40)
    for (t <- texts) {
      val df = Seq(Tuple1(t)).toDF("text")
      val fused = df.select(explode(Bridge.column(
          graft.plans.ShingleHashCounts(Bridge.expression(col("text")), 3))).as("e"))
        .select(col("e.h"), col("e.c").cast("long").as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      val composable = df.select(explode(TextFunctions.charTrigrams(col("text"))).as("tri"))
        .groupBy(xxhash64(lower(col("tri"))).as("h")).agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      // charTrigrams lowercases internally; the fused caller lowercases
      // before the kernel — compare against lowered text
      val fusedLowered = df.select(explode(Bridge.column(
          graft.plans.ShingleHashCounts(Bridge.expression(lower(col("text"))), 3))).as("e"))
        .select(col("e.h"), col("e.c").cast("long").as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(fusedLowered == composable, s"mismatch on '$t'")
      // counts always sum to the window rule
      val expectWindows = math.max(t.codePointCount(0, t.length) - 2, 1)
      assert(fused.map(_._2).sum == expectWindows, s"window count on '$t'")
    }
  }

  test("langIdNgram: trigram NB labels natural text, floors handle unseen, ties break on lang") {
    val seed = Seq(
      ("en", "the quick brown fox jumps over the lazy dog in the field"),
      ("fr", "le renard brun saute par dessus le chien paresseux dans le champ"),
      ("de", "der braune fuchs springt ueber den faulen hund auf dem feld")
    ).toDF("lang", "seed_text")
    val profiles = TextFunctions.fitLangTrigramProfiles(seed, $"lang", $"seed_text")
    // model sanity: every (lang, tri) has floor < logp <= 0, one floor per lang
    val pr = profiles.collect()
    assert(pr.forall(r => r.getDouble(3) < r.getDouble(2) && r.getDouble(2) < 0))
    assert(profiles.select("lang", "floor").distinct().count() == 3)
    val docs = Seq(
      (1L, "the dog jumps over the brown fox"),
      (2L, "le chien saute par dessus le renard"),
      (3L, "der hund springt ueber den fuchs"),
      (4L, "zzz qqq xxx")  // nothing seen: decided by floors alone
    ).toDF("doc_id", "text")
    val got = TextFunctions.langIdNgram(docs, "doc_id", $"text", profiles)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en" && got(2L) == "fr" && got(3L) == "de")
    // doc 4: all trigrams unseen -> score_l = n * floor_l; the largest
    // floor (smallest N_l + V penalty) wins — recompute it directly
    val floors = profiles.select("lang", "floor").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val expected4 = floors.toSeq.sortBy { case (l, f) => (-f, l) }.head._1
    assert(got(4L) == expected4)
    // exact tie (empty-ish doc impossible here, engineer one: single
    // trigram seen by no language) -> smallest lang wins when floors
    // tie; with distinct floors the max floor decides — both covered
    // by expected4 above. Also: argmax is repartition-invariant.
    val re = TextFunctions.langIdNgram(docs.repartition(5), "doc_id", $"text", profiles)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(re == got)
    // scored variant: same argmax, nonnegative margin, confident docs
    // beat the all-unseen doc (whose margin is a pure floor gap)
    val scored = TextFunctions.langIdNgramScored(docs, "doc_id", $"text", profiles)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(scored.view.mapValues(_._1).toMap == got)
    assert(scored.values.forall(_._2 >= 0.0))
    assert(scored(1L)._2 > scored(4L)._2 && scored(2L)._2 > scored(4L)._2,
      s"natural text should out-margin floor-only text: $scored")
    // one-language profiles have no runner-up — fail fast, not mid-job
    val one = TextFunctions.fitLangTrigramProfiles(
      seed.where($"lang" === "en"), $"lang", $"seed_text")
    intercept[IllegalArgumentException] {
      TextFunctions.langIdNgramScored(docs, "doc_id", $"text", one)
    }
  }

  test("tfidfTopTerms ranks by rounded score with term tiebreak") {
    // corpus of 4 docs; "common" appears in all (idf = ln(1) = 0)
    val df = Seq(
      (1L, "common rare rare"),
      (2L, "common mid"),
      (3L, "common mid"),
      (4L, "common")
    ).toDF("doc_id", "text")
    val got = TextFunctions.tfidfTopTerms(df, "doc_id", $"text", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .groupBy(_._1)
    // doc 1: rare tf=2 df=1 → 2*ln4 = 2.772589; common tf=1 df=4 → 0
    assert(got(1L).sortBy(_._2).toSeq == Seq(
      (1L, 1L, "rare", 2.772589), (1L, 2L, "common", 0.0)))
    // doc 2: mid tf=1 df=2 → ln2 = 0.693147; common 0
    assert(got(2L).sortBy(_._2).toSeq == Seq(
      (2L, 1L, "mid", 0.693147), (2L, 2L, "common", 0.0)))
    // doc 4: only one term, k=2 returns just it
    assert(got(4L).toSeq == Seq((4L, 1L, "common", 0.0)))
  }

  test("unigramLogProbScore: mean log-prob under the corpus's own unigram fit") {
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextFunctions.unigramLogProbScore(df, "doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // freq: a=2 b=2 c=1, total=5
    // doc 1: avg(ln2,ln2,ln2) - ln5 = ln(2/5) = -0.916291
    // doc 2: (ln2+ln1)/2 - ln5 = -1.262864
    assert(got(1L) == -0.916291)
    assert(got(2L) == -1.262864)
  }

  test("bigramLogProbScore: JM-interpolated bigram/unigram mean log-prob") {
    val df = Seq((1L, "a a b"), (2L, "b a"), (3L, " ")).toDF("doc_id", "text")
    val got = TextFunctions.bigramLogProbScore(df, "doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r6(d: Double): Double = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // corpus: uni a=3 b=2 N=5; bi (a,a)=1 (a,b)=1 (b,a)=1
    // doc1: ln(3/5), ln(.5/3 + .5*3/5), ln(.5/3 + .5*2/5)
    val d1 = Seq(math.log(3.0 / 5),
      math.log(0.5 * (1.0 / 3) + 0.5 * (3.0 / 5)),
      math.log(0.5 * (1.0 / 3) + 0.5 * (2.0 / 5)))
    assert(got(1L) == r6(d1.sum / 3))
    val d2 = Seq(math.log(2.0 / 5), math.log(0.5 * (1.0 / 2) + 0.5 * (3.0 / 5)))
    assert(got(2L) == r6(d2.sum / 2))
    // zero-token doc contributes nothing and is absent (as the unigram form)
    assert(!got.contains(3L))
    // unseen bigram backs off to the unigram term alone: with lambda=1
    // an unseen pair would be ln 0 — guard the interpolation floor
    val lam0 = TextFunctions.bigramLogProbScore(df, "doc_id", $"text", lambda = 0.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // lambda=0 degenerates to pure unigram scoring
    val uni = TextFunctions.unigramLogProbScore(df, "doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(lam0 == uni)
  }

  test("kneserNeyLogProbScore == independent driver KN; distributions normalize") {
    val corpus = Map(
      1L -> "the cat sat on the mat",
      2L -> "the cat ran",
      3L -> "a dog sat on a mat",
      4L -> "mat the cat the",
      5L -> "solo")   // one-token doc: pure continuation/uniform branch
    val docs = corpus.toSeq.toDF("doc_id", "text")
    val D = 0.75
    // independent driver KN from raw token lists
    val tokss = corpus.view.mapValues(_.split("\\s+").filter(_.nonEmpty).toList).toMap
    val events = tokss.toSeq.flatMap { case (id0, ts) =>
      ts.zipWithIndex.map { case (t, i) =>
        (id0, if (i == 0) None else Some(ts(i - 1)), t) } }
    val c2 = events.collect { case (_, Some(p), t) => (p, t) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cp = c2.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val fert = c2.keys.toSeq.groupBy(_._1).view.mapValues(_.size).toMap
    val cont = c2.keys.toSeq.groupBy(_._2).view.mapValues(_.size).toMap
    val bigT = c2.size
    val v2 = c2.keys.map(_._2).toSet.size
    val vocab = events.map(_._3).toSet
    def p1(t: String): Double =
      if (bigT == 0) 1.0 / vocab.size
      else math.max(cont.getOrElse(t, 0) - D, 0.0) / bigT + D * v2 / bigT / vocab.size
    def pkn(p0: String, t: String): Double =
      math.max(c2.getOrElse((p0, t), 0L) - D, 0.0) / cp(p0) +
        D * fert(p0) / cp(p0) * p1(t)
    val sim = events.groupBy(_._1).view.mapValues { es =>
      es.map { case (_, pv, t) =>
        math.log(pv.fold(p1(t))(pkn(_, t))) }.sum / es.size
    }.toMap
    val got = TextFunctions.kneserNeyLogProbScore(docs, "doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == sim.keySet)
    for ((idv, s) <- sim)
      assert(math.abs(got(idv) - s) < 1e-6, s"doc $idv: ${got(idv)} vs $s")
    // 'solo' appears only at a doc start → zero continuation count;
    // the uniform floor must keep its probability strictly positive
    assert(p1("solo") > 0 && got(5L) == BigDecimal(math.log(p1("solo")))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // proper distributions: Σ_t P1(t) = 1 and Σ_t P(t|p) = 1 ∀ contexts
    assert(math.abs(vocab.toSeq.map(p1).sum - 1.0) < 1e-9)
    for (p0 <- cp.keys)
      assert(math.abs(vocab.toSeq.map(t => pkn(p0, t)).sum - 1.0) < 1e-9,
        s"context $p0 not normalized")
  }

  test("codeSignals: exact densities on crafted code/prose/empty docs") {
    val code = "def main() {\n  let x = 1;\n\tval y = (x);\n}"
    // 4 non-blank lines; 2 end ';' after rtrim; 2 start with 2 spaces
    // or tab; braces ()/{}/[] chars: 3 + 0 + 2 + 1 = 6; tokens = 12 of
    // which def/let/val are whole-token keywords
    val df = Seq((1L, code), (2L, "plain words only"), (3L, ""))
      .toDF("id", "text")
    val got = df.select($"id", TextFunctions.codeSignals($"text").as("c"))
      .select($"id", $"c.brace_frac", $"c.semi_line_frac",
        $"c.indent_line_frac", $"c.keyword_tok_frac")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((6.0 / code.length, 0.5, 0.5, 3.0 / 12)))
    assert(got(2L) == ((0.0, 0.0, 0.0, 0.0)))
    assert(got(3L) == ((0.0, 0.0, 0.0, 0.0)))  // all zero-guards
    // trailing spaces before ';' still count (rtrim), CRLF-free fixture
    val tr = Seq((9L, "x;  \ny")).toDF("id", "text")
      .select(TextFunctions.codeSignals($"text").as("c"))
      .select($"c.semi_line_frac").head().getDouble(0)
    assert(tr == 0.5)
  }

  test("kneserNey3LogProbScore == independent driver KN3; every level normalizes") {
    val corpus = Map(
      1L -> "the cat sat on the mat and the cat ran",
      2L -> "the dog sat on the mat",
      3L -> "a dog ran to the mat and a cat sat",
      4L -> "mat the cat the dog",
      5L -> "solo",          // 1-token doc: pure P1 branch
      6L -> "two words")     // 2-token doc: P1 + P(w|v) branches only
    val docs = corpus.toSeq.toDF("doc_id", "text")
    val D = 0.75
    val tokss = corpus.view.mapValues(_.split("\\s+").filter(_.nonEmpty).toList).toMap
    // events (id, u, v, t) with u = 2-back, v = 1-back
    val events = tokss.toSeq.flatMap { case (id0, ts) =>
      ts.zipWithIndex.map { case (t, i) =>
        (id0,
          if (i >= 2) Some(ts(i - 2)) else None,
          if (i >= 1) Some(ts(i - 1)) else None, t) } }
    // the ONE trigram table; all lower orders derive from it
    val c3 = events.collect { case (_, Some(u), Some(v), t) => ((u, v), t) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c3p = c3.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val f3 = c3.keys.toSeq.groupBy(_._1).view.mapValues(_.size).toMap
    val cb = c3.keys.toSeq.map { case ((u, v), t) => ((v, t), u) }.distinct
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val cbp = cb.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val f2 = cb.keys.toSeq.groupBy(_._1).view.mapValues(_.size).toMap
    val cu = cb.keys.toSeq.groupBy(_._2).view.mapValues(_.size).toMap
    val nct = cb.size
    val v2 = cb.keys.map(_._2).toSet.size
    val vocab = events.map(_._4).toSet
    def p1(t: String): Double =
      if (nct == 0) 1.0 / vocab.size
      else math.max(cu.getOrElse(t, 0) - D, 0.0) / nct + D * v2 / nct / vocab.size
    def p2(v: String, t: String): Double =
      cbp.get(v) match {
        case None => p1(t)
        case Some(den) =>
          math.max(cb.getOrElse((v, t), 0L) - D, 0.0) / den +
            D * f2(v) / den * p1(t)
      }
    def p3(u: String, v: String, t: String): Double =
      c3p.get((u, v)) match {
        case None => p2(v, t)
        case Some(den) =>
          math.max(c3.getOrElse(((u, v), t), 0L) - D, 0.0) / den +
            D * f3((u, v)) / den * p2(v, t)
      }
    val sim = events.groupBy(_._1).view.mapValues { es =>
      es.map {
        case (_, _, None, t)          => math.log(p1(t))
        case (_, None, Some(v), t)    => math.log(p2(v, t))
        case (_, Some(u), Some(v), t) => math.log(p3(u, v, t))
      }.sum / es.size
    }.toMap
    val got = TextFunctions.kneserNey3LogProbScore(docs, "doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == sim.keySet)
    for ((idv, s) <- sim)
      assert(math.abs(got(idv) - s) < 1e-6, s"doc $idv: ${got(idv)} vs $s")
    // Σ P(w|ctx) = 1 at EVERY interpolation level / context class
    assert(math.abs(vocab.toSeq.map(p1).sum - 1.0) < 1e-9)
    for (v <- cbp.keys)
      assert(math.abs(vocab.toSeq.map(t => p2(v, t)).sum - 1.0) < 1e-9,
        s"middle context $v not normalized")
    for ((u, v) <- c3p.keys)
      assert(math.abs(vocab.toSeq.map(t => p3(u, v, t)).sum - 1.0) < 1e-9,
        s"trigram context ($u,$v) not normalized")
    // a (v,t) pair that is a corpus BIGRAM but inside no trigram (the
    // 2-token doc) still scores strictly positive via backoff mass
    assert(got(6L) > Double.NegativeInfinity)
    assert(p2("two", "words") > 0)
  }

  test("kneserNey4LogProbScore == independent driver KN4; every level normalizes") {
    val corpus = Map(
      1L -> "the cat sat on the mat and the cat sat on a rug",
      2L -> "the dog sat on the mat",
      3L -> "a dog ran to the mat and a cat sat on it",
      4L -> "mat the cat the dog",
      5L -> "solo",             // 1-token doc: pure P1 branch
      6L -> "two words",        // 2-token: P1 + P(w|v)
      7L -> "just three toks")  // 3-token: adds the P(w|u,v) branch
    val docs = corpus.toSeq.toDF("doc_id", "text")
    val D = 0.75
    val tokss = corpus.view.mapValues(_.split("\\s+").filter(_.nonEmpty).toList).toMap
    // events (id, s, u, v, t): s = 3-back, u = 2-back, v = 1-back
    val events = tokss.toSeq.flatMap { case (id0, ts) =>
      ts.zipWithIndex.map { case (t, i) =>
        (id0,
          if (i >= 3) Some(ts(i - 3)) else None,
          if (i >= 2) Some(ts(i - 2)) else None,
          if (i >= 1) Some(ts(i - 1)) else None, t) } }
    // the ONE 4-gram table; every lower order derives from it
    val c4 = events.collect { case (_, Some(s), Some(u), Some(v), t) =>
      ((s, u, v), t) }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c4p = c4.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val f4 = c4.keys.toSeq.groupBy(_._1).view.mapValues(_.size).toMap
    val ctr = c4.keys.toSeq.map { case ((s, u, v), t) => (((u, v), t), s) }
      .distinct.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val ctp = ctr.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val f3 = ctr.keys.toSeq.groupBy(_._1).view.mapValues(_.size).toMap
    val cb = ctr.keys.toSeq.map { case (((u, v), t)) => ((v, t), u) }.distinct
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val cbp = cb.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val f2 = cb.keys.toSeq.groupBy(_._1).view.mapValues(_.size).toMap
    val cu = cb.keys.toSeq.groupBy(_._2).view.mapValues(_.size).toMap
    val nct = cb.size
    val v2 = cb.keys.map(_._2).toSet.size
    val vocab = events.map(_._5).toSet
    def p1(t: String): Double =
      if (nct == 0) 1.0 / vocab.size
      else math.max(cu.getOrElse(t, 0) - D, 0.0) / nct + D * v2 / nct / vocab.size
    def p2(v: String, t: String): Double = cbp.get(v) match {
      case None => p1(t)
      case Some(den) => math.max(cb.getOrElse((v, t), 0L) - D, 0.0) / den +
        D * f2(v) / den * p1(t)
    }
    def p3(u: String, v: String, t: String): Double = ctp.get((u, v)) match {
      case None => p2(v, t)
      case Some(den) => math.max(ctr.getOrElse(((u, v), t), 0L) - D, 0.0) / den +
        D * f3((u, v)) / den * p2(v, t)
    }
    def p4(s: String, u: String, v: String, t: String): Double =
      c4p.get((s, u, v)) match {
        case None => p3(u, v, t)
        case Some(den) => math.max(c4.getOrElse(((s, u, v), t), 0L) - D, 0.0) / den +
          D * f4((s, u, v)) / den * p3(u, v, t)
      }
    val sim = events.groupBy(_._1).view.mapValues { es =>
      es.map {
        case (_, _, _, None, t)                   => math.log(p1(t))
        case (_, _, None, Some(v), t)             => math.log(p2(v, t))
        case (_, None, Some(u), Some(v), t)       => math.log(p3(u, v, t))
        case (_, Some(s), Some(u), Some(v), t)    => math.log(p4(s, u, v, t))
      }.sum / es.size
    }.toMap
    val got = TextFunctions.kneserNey4LogProbScore(docs, "doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == sim.keySet)
    for ((idv, sv) <- sim)
      assert(math.abs(got(idv) - sv) < 1e-6, s"doc $idv: ${got(idv)} vs $sv")
    // Σ P(w|ctx) = 1 at EVERY interpolation level / context class
    assert(math.abs(vocab.toSeq.map(p1).sum - 1.0) < 1e-9)
    for (v <- cbp.keys)
      assert(math.abs(vocab.toSeq.map(t => p2(v, t)).sum - 1.0) < 1e-9,
        s"P(w|v) context $v not normalized")
    for ((u, v) <- ctp.keys)
      assert(math.abs(vocab.toSeq.map(t => p3(u, v, t)).sum - 1.0) < 1e-9,
        s"P(w|u,v) context ($u,$v) not normalized")
    for ((s, u, v) <- c4p.keys)
      assert(math.abs(vocab.toSeq.map(t => p4(s, u, v, t)).sum - 1.0) < 1e-9,
        s"4-gram context ($s,$u,$v) not normalized")
    // 1/2/3-token docs exercise every backoff branch without a 4-gram
    assert(got(5L) > Double.NegativeInfinity &&
      got(6L) > Double.NegativeInfinity && got(7L) > Double.NegativeInfinity)
  }

  test("hashedLogisticScore: mean-pooled bucket weights through the sigmoid; twins agree in shape") {
    val df = Seq((1L, "a a b"), (2L, "zz"), (3L, "   ")).toDF("doc_id", "text")
    val dim = 8
    // every bucket weighted: w(b) = b - 4 (integer-valued; exact mean)
    val weights = spark.range(dim).select($"id".as("bucket"),
      ($"id" - lit(4L)).cast("double").as("weight"))
    def scoresOf(got: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      got.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val md5Got = scoresOf(TextFunctions.hashedLogisticScoreByMd5(
      df, "doc_id", $"text", weights, bias = 0.0, dim = dim, seed = 7L))
    // manual recompute with the same md5 bucket rule
    def bucket(t: String): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest((t + "7").getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString.take(15), 16) % dim
    def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))
    def r6(d: Double): Double = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val z1 = Seq("a", "a", "b").map(t => (bucket(t) - 4).toDouble).sum / 3
    assert(md5Got(1L) == r6(sigmoid(z1)))
    assert(md5Got(2L) == r6(sigmoid((bucket("zz") - 4).toDouble)))
    // zero-token doc survives with sigmoid(bias)
    assert(md5Got(3L) == r6(sigmoid(0.0)))
    val biased = scoresOf(TextFunctions.hashedLogisticScoreByMd5(
      df, "doc_id", $"text", weights, bias = 2.0, dim = dim, seed = 7L))
    assert(biased(3L) == r6(sigmoid(2.0)))
    // production (xxhash64) twin: same schema/contract, all in (0,1),
    // zero-token row identical (hash never runs for it)
    val xxGot = scoresOf(TextFunctions.hashedLogisticScore(
      df, "doc_id", $"text", weights, bias = 0.0, dim = dim, seed = 7L))
    assert(xxGot.keySet == md5Got.keySet)
    assert(xxGot.values.forall(s => s > 0.0 && s < 1.0))
    assert(xxGot(3L) == md5Got(3L))
    // sparse coefficient table: unmatched buckets pool weight 0
    val oneBucket = spark.range(1).select(lit(bucket("a")).as("bucket"),
      lit(3.0).as("weight"))
    val sparse = scoresOf(TextFunctions.hashedLogisticScoreByMd5(
      df, "doc_id", $"text", oneBucket, bias = 0.0, dim = dim, seed = 7L))
    val expectB = if (bucket("b") == bucket("a")) 3.0 else 0.0
    assert(sparse(1L) == r6(sigmoid((3.0 + 3.0 + expectB) / 3)))
  }

  test("trainHashedLogisticWeights: fit on a labeled sample separates held-out classes") {
    // two disjoint vocabularies; train on 16 docs, hold out 4
    val goodVocab = Seq("thorough", "referenced", "measured", "archival")
    val spamVocab = Seq("click", "buy", "winner", "free")
    val rng = new scala.util.Random(11)
    def doc(vocab: Seq[String]) =
      (1 to 6).map(_ => vocab(rng.nextInt(vocab.length))).mkString(" ")
    val train = ((1L to 8L).map(i => (i, doc(goodVocab), 1.0)) ++
      (9L to 16L).map(i => (i, doc(spamVocab), 0.0))).toDF("doc_id", "text", "y")
    val heldOut = Seq(
      (101L, doc(goodVocab)), (102L, doc(goodVocab)),
      (201L, doc(spamVocab)), (202L, doc(spamVocab))).toDF("doc_id", "text")
    val (w, bias) = TextFunctions.trainHashedLogisticWeights(
      train, "doc_id", $"text", $"y", iters = 40, dim = 1 << 12, seed = 7L)
    val scores = TextFunctions.hashedLogisticScore(
        heldOut, "doc_id", $"text", w, bias = bias, dim = 1 << 12, seed = 7L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val good = Seq(101L, 102L).map(scores)
    val spam = Seq(201L, 202L).map(scores)
    assert(good.min > 0.7 && spam.max < 0.3,
      s"no separation: good=$good spam=$spam bias=$bias")
    // training scores separate at the 0.5 boundary too
    val ts = TextFunctions.hashedLogisticScore(
        train, "doc_id", $"text", w, bias = bias, dim = 1 << 12, seed = 7L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert((1L to 8L).forall(ts(_) > 0.5) && (9L to 16L).forall(ts(_) < 0.5))
  }

  test("bm25Scores: sums per-term probabilistic scores over matching docs") {
    val df = Seq(
      (1L, "dup dup other"),
      (2L, "dup spark"),
      (3L, "other words here")
    ).toDF("doc_id", "text")
    val got = TextFunctions.bm25Scores(df, "doc_id", $"text", Seq("dup", "spark"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N=3, avgdl=8/3; dup: df=2 idf=ln(1.6); spark: df=1 idf=ln(8/3)
    // doc 1: dup tf=2 dl=3 -> 0.624307; doc 2: dup+spark dl=2 -> 1.616118
    // doc 3: no query term -> absent
    assert(got == Map(1L -> 0.624307, 2L -> 1.616118))
  }

  test("bm25TopK ranks rounded scores with doc_id tiebreak, caps at k") {
    val df = Seq(
      (1L, "dup dup other"),
      (2L, "dup spark"),
      (3L, "other words here"),
      (4L, "dup spark") // identical to doc 2 -> tied score, id tiebreak
    ).toDF("doc_id", "text")
    val got = TextFunctions.bm25TopK(df, "doc_id", $"text", Seq("dup", "spark"), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sortBy(_._2).toSeq == Seq((2L, 1L), (4L, 2L)))
  }

  test("canonicalizeUrl: case, ports, fragments, tracking params, slashes") {
    val cases = Seq(
      // scheme+host lowercased, default https port stripped
      ("HTTPS://Example.COM:443/Path/X", "https://example.com/Path/X"),
      // path case preserved; http default port stripped
      ("HTTP://A.com:80/P", "http://a.com/P"),
      // non-default port kept
      ("https://a.com:8080/x", "https://a.com:8080/x"),
      // fragment removed
      ("https://a.com/x#section-2", "https://a.com/x"),
      // tracking-only query removed entirely (case-insensitive)
      ("https://a.com/x?UTM_Source=feed&gclid=abc", "https://a.com/x"),
      // tracking removed, real params kept in order
      ("https://a.com/x?utm_medium=m&page=2&ref=tw&size=10",
        "https://a.com/x?page=2&size=10"),
      // leading tracking param followed by kept param
      ("https://a.com/x?fbclid=z&q=term", "https://a.com/x?q=term"),
      // trailing slash runs dropped when no query remains
      ("https://a.com/dir///", "https://a.com/dir"),
      ("https://a.com/", "https://a.com"),
      // slash inside a surviving query value untouched
      ("https://a.com/x?next=/home/", "https://a.com/x?next=/home/"),
      // bare '?' dropped
      ("https://a.com/x?", "https://a.com/x"),
      // non-URL passes through trimmed
      ("  not a url  ", "not a url"))
    val got = cases.zipWithIndex.map { case ((in, _), i) => (i.toLong, in) }
      .toDF("i", "u")
      .select($"i", TextFunctions.canonicalizeUrl($"u").as("c"))
      .collect().map(r => r.getLong(0).toInt -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(got(i) == want, s"input: $in")
    }
  }

  test("dedupByCanonicalUrl keeps min-id row per canonical form with variant count") {
    val df = Seq(
      (7L, "HTTPS://Example.COM:443/p/1", "a"),
      (3L, "https://example.com/p/1?utm_source=s", "b"),
      (5L, "https://example.com/p/1#frag", "c"),
      (9L, "https://example.com/p/2", "d")
    ).toDF("doc_id", "url", "payload")
    val out = Dedup.dedupByCanonicalUrl(df, "url", "doc_id")
      .orderBy("canonical_url")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(4)))
    assert(out.toSeq == Seq(
      ("https://example.com/p/1", 3L, 3L, "b"),
      ("https://example.com/p/2", 1L, 9L, "d")))
  }

  test("urlHost / registeredDomain: ports, case, label counts, schemeless") {
    val cases = Seq(
      ("HTTPS://Example.COM:443/Path", "example.com", "example.com"),
      ("https://cdn.spam.Tracker.BIZ:8080/x?q=1", "cdn.spam.tracker.biz", "tracker.biz"),
      ("http://localhost/x", "localhost", "localhost"),
      ("not a url", "", ""))
    val got = cases.zipWithIndex.map { case ((in, _, _), i) => (i, in) }
      .toDF("i", "u")
      .select($"i", TextFunctions.urlHost($"u").as("h"),
        TextFunctions.registeredDomain(TextFunctions.urlHost($"u")).as("d"))
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getString(2))).toMap
    cases.zipWithIndex.foreach { case ((in, h, d), i) =>
      assert(got(i) == ((h, d)), s"input: $in")
    }
  }

  test("domain blocklist: subdomain match, lookalike kept, literal ≡ broadcast-join") {
    val df = Seq(
      (1L, "https://tracker.biz/x"),          // exact → dropped
      (2L, "https://cdn.spam.tracker.biz/x"), // subdomain → dropped
      (3L, "https://xtracker.biz/x"),         // lookalike suffix → kept
      (4L, "https://example.com/x"),          // clean → kept
      (5L, "https://Tracker.BIZ:443/x")       // case/port variants → dropped
    ).toDF("doc_id", "url")
    val kept = TextFunctions.filterByDomainBlocklist(df, $"url", Seq("tracker.biz"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L))
    // the broadcast-join form on a registered-domain blocklist agrees
    // EXCEPT on the lookalike: xtracker.biz's registered domain is
    // itself (xtracker.biz ≠ tracker.biz), so both forms keep it
    val bl = Seq("tracker.biz").toDF("domain")
    val keptDf = TextFunctions.filterByDomainBlocklistDf(df, $"url", bl, "domain")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptDf == kept)
    // blocklist form preserves the input schema
    assert(TextFunctions.filterByDomainBlocklistDf(df, $"url", bl, "domain")
      .columns.toSeq == df.columns.toSeq)
  }

  test("domainStats groups hosts under registered domains with map-side-friendly aggregates") {
    val df = Seq(
      (1L, "https://www.example.com/a", "one two"),
      (2L, "https://blog.example.com/b", "three"),
      (3L, "https://spam.tracker.biz/c", "x y z"),
      (4L, "https://cdn.spam.tracker.biz/d", "w")
    ).toDF("doc_id", "url", "text")
    val got = TextFunctions.domainStats(df, $"url", $"text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("example.com") == ((2L, 2L, 3L, 12L)))
    assert(got("tracker.biz") == ((2L, 2L, 4L, 6L)))
  }

  test("gopherSignals: mean word length, dup lines, symbols, alpha fraction") {
    val df = Seq(
      (1L, "aa bbbb\ncc dd\ncc dd\ncc dd"),      // 4 lines, 3 identical
      (2L, "$$ ## !!"),                           // all symbols
      (3L, "one two three"),
      (4L, " \n \n ")                             // no non-empty lines
    ).toDF("id", "text")
    val got = df.select($"id",
        TextFunctions.gopherSignals($"text", TextFunctions.tokens($"text")).as("g"))
      .select($"id", $"g.mean_word_len", $"g.dup_line_frac",
        $"g.symbol_ratio", $"g.alpha_tok_frac")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // doc 1: 8 tokens (aa bbbb cc dd cc dd cc dd) mean len 18/8 = 2.25;
    // lines [aa bbbb, cc dd, cc dd, cc dd] → 2 distinct of 4 → dup 0.5
    assert(got(1L) == (2.25, 0.5, 0.0, 1.0))
    // doc 2: three 2-char symbol tokens: symbol ratio 6/8, no alpha
    assert(got(2L) == (2.0, 0.0, 0.75, 0.0))
    assert(got(3L) == (3.666667, 0.0, 0.0, 1.0)) // round(11/3, 6)
    // whitespace-only: zero non-empty lines means nothing duplicated
    assert(got(4L)._2 == 0.0)
  }

  test("gopherSignals: bullet/ellipsis line fractions and doc-length counts") {
    val df = Seq(
      (1L, "- first item\n* second\n  • indented bullet\nplain line"),
      (2L, "trailing dots...\nunicode ellipsis…\nnope\nalso nope"),
      (3L, "no lists here"),
      (4L, " \n \n ")                             // no non-empty lines
    ).toDF("id", "text")
    val got = df.select($"id",
        TextFunctions.gopherSignals($"text", TextFunctions.tokens($"text")).as("g"))
      .select($"id", $"g.bullet_line_frac", $"g.ellipsis_line_frac",
        $"g.n_words", $"g.n_chars")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    // doc 1: 3 of 4 non-empty lines start (after space-trim) with -/*/•
    assert(got(1L)._1 == 0.75)
    // doc 2: 2 of 4 lines end with ... or … (the unicode form counts)
    assert(got(2L)._2 == 0.5)
    assert(got(3L) == (0.0, 0.0, 3L, 13L))
    // whitespace-only doc: zero lines → both fractions 0, not NaN
    assert(got(4L)._1 == 0.0 && got(4L)._2 == 0.0 && got(4L)._3 == 0L)
  }

  test("gopherSignals: duplicate paragraph + char-weighted repetition fractions") {
    val df = Seq(
      // paragraphs: [x y, x y, unique longer para] → dup_para 1/3;
      // para chars: total 3+3+17=23, distinct 3+17=20 → char frac 3/23
      (1L, "x y\n\nx y\n\nunique longer par"),
      // lines [aaaa, b, aaaa] → dup_line_frac 1/3; line chars total 9,
      // distinct 5 → dup_line_char_frac 4/9 (the long line repeats, so
      // the char fraction exceeds the line fraction)
      (2L, "aaaa\nb\naaaa"),
      (3L, " \n \n ")).toDF("id", "text")
    val got = df.select($"id",
        TextFunctions.gopherSignals($"text", TextFunctions.tokens($"text")).as("g"))
      .select($"id", $"g.dup_para_frac", $"g.dup_line_char_frac", $"g.dup_para_char_frac")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    def r6(d: Double) = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L)._1 == r6(1.0 / 3) && got(1L)._3 == r6(3.0 / 23))
    assert(got(2L)._2 == r6(4.0 / 9))
    // no text → all zero, never NaN
    assert(got(3L) == ((0.0, 0.0, 0.0)))
  }

  // ---- unigram-LM tokenizer: independent simulation ----------------
  // E-step by BRUTE-FORCE segmentation enumeration (not a second copy
  // of the kernel's forward-backward): expected count of a piece =
  // Σ_seg P(seg)·occurrences / Σ_seg P(seg) over ALL segmentations —
  // tractable on short fixture words and genuinely independent.
  private def cpsOf(w: String): Vector[String] = {
    val b = Vector.newBuilder[String]; var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i); b += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    b.result()
  }
  private def segmentations(w: String, vocab: Map[String, Double],
                            maxLen: Int): Seq[(List[String], Double)] = {
    if (w.isEmpty) return Seq((Nil, 0.0))
    (1 to math.min(maxLen, w.length)).flatMap { l =>
      val p = w.substring(0, l)
      vocab.get(p) match {
        case Some(lp) if lp != Double.NegativeInfinity =>
          segmentations(w.substring(l), vocab, maxLen)
            .map { case (rest, s) => (p :: rest, s + lp) }
        case _ => Seq.empty
      }
    }
  }
  private def simTrainUnigram(wordCounts: Map[String, Long], vocabSize: Int,
                              maxPieceLen: Int, emIters: Int,
                              pruneFraction: Double,
                              seedCap: Int): Map[String, Double] = {
    val singles = wordCounts.keys.flatMap(cpsOf).toSet
    val subW = scala.collection.mutable.Map.empty[String, Long]
    for ((w, c) <- wordCounts; cps = cpsOf(w); len <- 1 to math.min(maxPieceLen, cps.size);
         s <- 0 to cps.size - len)
      subW(cps.slice(s, s + len).mkString) =
        subW.getOrElse(cps.slice(s, s + len).mkString, 0L) + c
    // all orderings compare strings by CODE POINT, matching the
    // trainer's contract (Spark UTF-8 orderBy == code-point order;
    // Java UTF-16 order disagrees on supplementary-plane pieces —
    // the 😀-bearing fixture exercises exactly that)
    def cpLt(a: String, b: String): Boolean = {
      val ai = a.codePoints().toArray; val bi = b.codePoints().toArray
      val n = math.min(ai.length, bi.length)
      var i = 0
      while (i < n) {
        if (ai(i) != bi(i)) return ai(i) < bi(i)
        i += 1
      }
      ai.length < bi.length
    }
    val multis = subW.toSeq.filter(kv => !singles(kv._1))
      .sortWith { case ((pa, wa), (pb, wb)) =>
        if (wa != wb) wa > wb else cpLt(pa, pb)
      }.take(seedCap)
    val sortedSingles = singles.toSeq.sortWith(cpLt)
    var pieces = sortedSingles ++ multis.map(_._1)
    var w0 = sortedSingles.map(s => subW(s).toDouble) ++
      multis.map(_._2.toDouble)
    var logps = { val t = w0.sum; w0.map(x => math.log(x / t)) }
    // max piece length in CHARS for segmentation bound
    def maxChars = pieces.map(_.length).max
    def eStep(): Seq[Double] = {
      val vocab = pieces.zip(logps).toMap
      val counts = scala.collection.mutable.Map.empty[String, Double]
      for ((word, c) <- wordCounts) {
        val segs = segmentations(word, vocab, maxChars)
        val tot = segs.map(s => math.exp(s._2)).sum
        for ((seg, lp) <- segs; p <- seg)
          counts(p) = counts.getOrElse(p, 0.0) + c * math.exp(lp) / tot
      }
      pieces.map(p => counts.getOrElse(p, 0.0))
    }
    def mStep(c: Seq[Double]): Unit = {
      val t = c.sum
      logps = c.map(x => if (x > 0) math.log(x / t) else Double.NegativeInfinity)
    }
    val targetMulti = math.max(vocabSize - singles.size, 0)
    var last: Seq[Double] = null
    var settled = false
    while (!settled) {
      for (_ <- 1 to emIters) { last = eStep(); mStep(last) }
      val multiIdx = pieces.indices.filter(i => !singles(pieces(i)))
      if (multiIdx.size <= targetMulti) settled = true
      else {
        val keepMulti = math.max(targetMulti,
          (multiIdx.size * (1 - pruneFraction)).floor.toInt)
        val kept = multiIdx.sortWith { (a, b) =>
          if (last(a) != last(b)) last(a) > last(b)
          else cpLt(pieces(a), pieces(b))
        }.take(keepMulti).toSet
        val keepIdx = pieces.indices.filter(i => singles(pieces(i)) || kept(i))
        val keptCounts = keepIdx.map(last)
        pieces = keepIdx.map(pieces)
        val t = keptCounts.sum
        logps = keptCounts.map(c => if (c > 0) math.log(c / t)
          else Double.NegativeInfinity)
        if (keepIdx.size <= vocabSize || keepMulti == targetMulti) settled = true
      }
    }
    mStep(eStep())
    pieces.zip(logps).toMap
  }

  test("trainUnigramVocab == brute-force-enumeration EM simulation") {
    val corpus = Seq(
      "hello hello hello hell hell jello jello yellow low low low",
      "hello jello low hell yellow yellow 😀😀 😀😀"
    ).toDF("text")
    val wordCounts = corpus.select(explode(TextFunctions.tokens($"text")).as("w"))
      .groupBy("w").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocabSize = 12; val maxPieceLen = 4
    val got = TextFunctions.trainUnigramVocab(corpus, $"text", vocabSize,
      maxPieceLen = maxPieceLen, emIters = 2, pruneFraction = 0.5).toMap
    val exp = simTrainUnigram(wordCounts, vocabSize, maxPieceLen,
      emIters = 2, pruneFraction = 0.5, seedCap = math.max(4 * vocabSize, 1000))
    assert(got.keySet == exp.keySet,
      s"pieces differ:\nonly-got=${got.keySet -- exp.keySet}\nonly-exp=${exp.keySet -- got.keySet}")
    for ((p, lp) <- exp)
      assert(math.abs(got(p) - lp) < 1e-9 ||
        (lp == Double.NegativeInfinity && got(p) == Double.NegativeInfinity),
        s"prob mismatch on '$p': ${got(p)} vs $lp")
    // singles protected; probs sum to 1
    val singles = wordCounts.keys.flatMap(cpsOf).toSet
    assert(singles.subsetOf(got.keySet))
    val mass = got.values.filter(_ != Double.NegativeInfinity).map(math.exp).sum
    assert(math.abs(mass - 1.0) < 1e-9, s"prob mass $mass")
    assert(got.keySet.exists(_.length > 1), "no multi-char piece survived")
  }

  test("unigramTokens: Viterbi matches enumeration argmax; OOV code points survive") {
    val corpus = Seq("hello hello hello hell jello jello low low").toDF("text")
    val vocab = TextFunctions.trainUnigramVocab(corpus, $"text", 10,
      maxPieceLen = 4, emIters = 2, pruneFraction = 0.5)
    val vmap = vocab.toMap
    val maxChars = vocab.map(_._1.length).max
    def bestSeg(w: String): List[String] = {
      val segs = segmentations(w, vmap, maxChars)
      assert(segs.nonEmpty, s"unsegmentable $w")
      val best = segs.map(_._2).max
      // DP tie-break: longest last piece, recursively from the end
      import scala.math.Ordering.Implicits._
      segs.filter(_._2 == best).map(_._1)
        .sortBy(seg => seg.reverse.map(p => -p.length))
        .head
    }
    val words = Seq("hello", "jello", "low", "hell")
    val out = Seq(words.mkString(" ")).toDF("text")
      .select(TextFunctions.unigramTokens($"text", vocab).as("t"))
      .head().getSeq[String](0).toList
    assert(out == words.flatMap(bestSeg), s"$out vs ${words.flatMap(bestSeg)}")
    // OOV: unseen code points become their own pieces, nothing dropped
    val oov = Seq("zap hello").toDF("text")
      .select(TextFunctions.unigramTokens($"text", vocab).as("t"))
      .head().getSeq[String](0).toList
    assert(oov.mkString == "zaphello", oov.toString)
    assert(oov.contains("z") && oov.contains("a"), oov.toString)
    // table round-trip
    val rt = TextFunctions.unigramVocabFromTable(
      TextFunctions.unigramVocabToTable(spark, vocab.toSeq))
    assert(rt.toMap == vmap)
  }

  test("unigramTokens: a corrupted vocab with surrogate-half pieces can never split a pair") {
    // a table-loaded vocab may contain garbage: pieces that end in a
    // lone HIGH surrogate / begin with a lone LOW surrogate would,
    // with a lattice node at the mid-pair boundary, let the winning
    // path cut 😀 in half — the kernel must admit no node there
    val high = "\ud83d"; val low = "\ude00" // the halves of 😀
    val vocab: Array[(String, Double)] = Array(
      ("x" + high, -0.1), (low + "y", -0.1), // attractive corrupt pieces
      ("x", -5.0), ("y", -5.0), ("😀", -5.0))
    val out = Seq("x😀y").toDF("text")
      .select(TextFunctions.unigramTokens($"text", vocab).as("t"))
      .head().getSeq[String](0).toList
    assert(out == List("x", "😀", "y"), s"surrogate pair split: $out")
    // lone surrogate halves (already-malformed input) still tokenize
    // as their own pieces rather than failing — driven on the kernel
    // directly: Spark's String→UTF8String conversion replaces lone
    // surrogates with U+FFFD, so the DataFrame path can't carry one
    val kernel = new graft.plans.UnigramVocab(vocab.map(_._1), vocab.map(_._2))
    val lone = kernel.viterbi("a" + high + "b").toList
    assert(lone.map(_.codePointAt(0)) == List('a'.toInt, 0xd83d, 'b'.toInt) &&
      lone.forall(_.length == 1),
      lone.map(_.codePointAt(0).toHexString).toString)
  }

  test("dupNgramCharFraction: tokens containing spaces never alias gram keys") {
    // with a string join key, bigrams ("x","y z") and ("x y","z") both
    // render "x y z" and a clean doc reports spurious duplication; the
    // array key keeps distinct tuples distinct
    val df = Seq((1L, Seq("x", "y z", "x y", "z"))).toDF("id", "toks")
    val got = TextFunctions.dupNgramCharFraction(df, "id", $"toks", n = 2)
      .head().getDouble(1)
    assert(got == 0.0, s"space-token gram aliasing: $got")
  }

  test("dupNgramCharFraction: position coverage, short docs, clean docs") {
    val df = Seq(
      // tokens a b c a b c d; dup bigrams "a b" (0,3) and "b c" (1,4)
      // cover positions {0..5} of 7 one-char tokens → 6/7
      (1L, "a b c a b c d"),
      (2L, "all distinct tokens here"), // no dup grams → 0.0
      (3L, "short"),                    // fewer tokens than n → 0.0
      (4L, "xx yy xx yy")).toDF("id", "text")
    val got = TextFunctions.dupNgramCharFraction(df, "id",
        TextFunctions.tokens($"text"), n = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r6(d: Double) = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == r6(6.0 / 7))
    assert(got(2L) == 0.0 && got(3L) == 0.0)
    // doc 4: dup bigram "xx yy" at starts 0 and 2 covers all 4 tokens
    assert(got(4L) == 1.0)
    assert(got.keySet == Set(1L, 2L, 3L, 4L)) // no silent row loss
  }

  test("compressionRatio: repetitive text scores low, prose higher, noise highest; deterministic") {
    val rep = "click here now " * 50
    val prose = "The measured throughput of the revised pipeline exceeded the " +
      "projected baseline across every tested configuration, although the " +
      "variance between consecutive runs remained notably wide."
    val rnd = new scala.util.Random(13)
    val noise = (1 to 600).map(_ => (rnd.nextInt(94) + 33).toChar).mkString
    val df = Seq((1L, rep), (2L, prose), (3L, noise), (4L, "")).toDF("id", "t")
    val got = df.select($"id", TextFunctions.compressionRatio($"t").as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) < 0.15, s"repetitive: ${got(1L)}")
    assert(got(2L) > got(1L) && got(3L) > got(2L),
      s"ordering: rep=${got(1L)} prose=${got(2L)} noise=${got(3L)}")
    assert(got(4L) == 1.0) // empty: nothing to compress, not 0
    // deterministic across re-execution and partitioning
    val re = df.repartition(5)
      .select($"id", TextFunctions.compressionRatio($"t").as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(re == got)
    // SQL registration matches the Column form
    df.createOrReplaceTempView("cr_docs")
    val sql = spark.sql("select id, compression_ratio(t) from cr_docs")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sql == got)
    // interpreted eval parity with codegen (the kernel is shared, but
    // guard the wiring)
    val expr = graft.plans.CompressionRatio(
      org.apache.spark.sql.catalyst.expressions.Literal.create(prose,
        org.apache.spark.sql.types.StringType))
    assert(expr.eval(null).asInstanceOf[Double] == got(2L))
  }

  test("htmlToText: blocks drop with content, structure becomes newlines, entities single-decode") {
    def x(h: String): String = Seq(Tuple1(h)).toDF("h")
      .select(TextFunctions.htmlToText($"h")).head().getString(0)
    // script content (with a decoy close tag inside a JS string),
    // style and comments vanish entirely
    assert(x("<script>var a = '</div>' + 1;</script>keep") == "keep")
    assert(x("<style>p { color: red }</style>keep") == "keep")
    assert(x("a<!-- secret\nstuff -->b") == "a b")
    // block closers and <br> preserve line structure; inline tags space
    assert(x("<p>one</p><p>two</p>") == "one\ntwo")
    assert(x("line<br>break") == "line\nbreak")
    assert(x("<b>bold</b> and <i>italic</i>") == "bold and italic")
    // entity decode, &amp; last so &amp;lt; never double-decodes
    assert(x("a &amp; b &lt;c&gt; &quot;d&quot; &#39;e&#39;") ==
      "a & b <c> \"d\" 'e'")
    assert(x("&amp;lt;") == "&lt;")
    assert(x("x&nbsp;y") == "x y")
    // whitespace tail: runs collapse, blank runs cap at one empty line
    assert(x("<p>a</p><div></div><div></div><div></div><p>b</p>") == "a\n\nb")
    // case-insensitive tags
    assert(x("<SCRIPT>nope</SCRIPT><P>ok</P>") == "ok")
    // unescaped comparison operators are NOT fake tags — the generic
    // strip requires a tag-shaped start, so the prose survives
    assert(x("<p>5 < 6 while 7 > 3</p>") == "5 < 6 while 7 > 3")
    assert(x("<!DOCTYPE html><p>x</p>") == "x")
  }

  test("dupNgramCharFraction matches a brute-force reference (randomized)") {
    val rng = new scala.util.Random(5)
    val docs = (1L to 40L).map { i =>
      val t = 1 + rng.nextInt(12)
      val toks = (1 to t).map(_ =>
        ('a' + rng.nextInt(3)).toChar.toString * (1 + rng.nextInt(2)))
      (i, toks.mkString(" "))
    }
    val n = 2
    def r6(d: Double) = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(text: String): Double = {
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.length < n) return 0.0
      val grams = toks.sliding(n).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).map { case (g, o) => g -> o.size }
      val covered = grams.zipWithIndex.filter(p => counts(p._1) >= 2)
        .flatMap { case (_, i) => i until i + n }.toSet
      val total = toks.map(_.length).sum.toDouble
      r6(covered.toSeq.map(toks(_).length).sum / math.max(total, 1.0))
    }
    val got = TextFunctions.dupNgramCharFraction(docs.toDF("id", "text"), "id",
        TextFunctions.tokens($"text"), n)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    docs.foreach { case (i, text) =>
      assert(got(i) == ref(text), s"doc $i '$text': ${got(i)} vs ${ref(text)}")
    }
  }

  test("gopherSignals symbol_ratio counts vertical tab as a symbol (RE2/DuckDB parity)") {
    // Java \s strips \x0B but RE2/DuckDB \s does not — the explicit
    // whitespace class must agree with the DuckDB oracle: "ab"
    // keeps the vertical tab as a symbol → ratio 1/3
    val got = Seq((1L, "ab")).toDF("id", "text")
      .select(TextFunctions.gopherSignals($"text", TextFunctions.tokens($"text"))
        .getField("symbol_ratio"))
      .head().getDouble(0)
    assert(got == 0.333333, got.toString)
  }

  test("topNgramFraction: repeated bigram dominates, varied text scores low") {
    val df = Seq(
      (1L, "buy now buy now buy now buy now"),     // "buy now"/"now buy" repeat
      (2L, "one two three four five six seven"),   // all bigrams unique
      (3L, "solo")                                 // shorter than n
    ).toDF("id", "text")
    val got = TextFunctions.topNgramFraction(df, $"id", TextFunctions.tokens($"text"), 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 1: 7 bigrams, "buy now" ×4 → 4/7
    assert(got(1L) == 0.571429)
    assert(got(2L) == 0.166667) // round(1/6, 6)
    assert(got(3L) == 1.0)
  }

  test("redactPii replaces emails and phone shapes, leaves prose alone") {
    val df = Seq(
      (1L, "mail bob_1.x+y@sub.example.org today"),
      (2L, "call +44 (0) 2079 460-958 now"),
      (3L, "plain text with the number 7 in it")
    ).toDF("id", "text")
    val got = df.select($"id", TextFunctions.redactPii($"text").as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "mail <EMAIL> today")
    assert(got(2L) == "call <PHONE> now")
    assert(got(3L) == "plain text with the number 7 in it")
  }

  test("bpeTokens: greedy min-rank merges per word, table from DataFrame, code points") {
    // classic fixture: l+o -> lo, lo+w -> low, e+r -> er
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"))
    def toks(text: String): Seq[String] = {
      val df = Seq(Tuple1(text)).toDF("text")
      df.select(TextFunctions.bpeTokens(col("text"), merges).as("t"))
        .head().getSeq[String](0)
    }
    assert(toks("low") == Seq("low"))
    assert(toks("lower") == Seq("low", "er"))         // low then er
    assert(toks("lowest") == Seq("low", "e", "s", "t"))
    assert(toks("hello") == Seq("h", "e", "l", "lo")) // lo merges, rest are chars
    assert(toks("low lower") == Seq("low", "low", "er")) // per-word, word boundary kept
    assert(toks("xyz") == Seq("x", "y", "z"))          // nothing merges
    assert(toks("") == Seq())                          // empty text -> empty array
    assert(toks("  low  ") == Seq("low"))              // whitespace runs dropped
    // multi-byte code points stay whole
    assert(toks("léo") == Seq("l", "é", "o"))
    // repeated-pair sweep is left-to-right non-overlapping
    assert(Seq(Tuple1("aaaa")).toDF("text")
      .select(TextFunctions.bpeTokens(col("text"), Seq(("a", "a"))).as("t"))
      .head().getSeq[String](0) == Seq("aa", "aa"))
    assert(Seq(Tuple1("aaa")).toDF("text")
      .select(TextFunctions.bpeTokens(col("text"), Seq(("a", "a"))).as("t"))
      .head().getSeq[String](0) == Seq("aa", "a"))
    // count helper and the DataFrame loading seam
    val mergesDf = merges.zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }.toDF("rank", "left", "right")
    assert(TextFunctions.bpeMergesFromTable(mergesDf) == merges)
    val counted = Seq((1L, "lower lowest")).toDF("doc_id", "text")
      .select(TextFunctions.bpeTokenCount(col("text"), merges).as("n"))
      .head().getLong(0)
    assert(counted == 6L) // [low, er] + [low, e, s, t]
  }

  test("collocationsPmi: hand-computed PMI, doc boundaries, minCount tail cut") {
    // one doc "a b a b c": bigrams (a,b)x2 (b,a) (b,c), N=4
    //   PMI(a,b) = ln(2*4 / (cl(a)=2 * cr(b)=2)) = ln 2
    //   PMI(b,a) = ln(1*4 / (cl(b)=2 * cr(a)=1)) = ln 2
    //   PMI(b,c) = ln(1*4 / (2*1)) = ln 2
    val df = Seq(Tuple1("a b a b c")).toDF("text")
    val got = TextFunctions.collocationsPmi(df, col("text"), minCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    val ln2 = BigDecimal(math.log(2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Set(("a", "b", 2L, ln2), ("b", "a", 1L, ln2),
      ("b", "c", 1L, ln2)), got.toString)
    // bigrams never cross document boundaries; single-token docs inert
    val two = Seq(Tuple1("a b"), Tuple1("b a"), Tuple1("c")).toDF("text")
    val g2 = TextFunctions.collocationsPmi(two, col("text"), minCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(g2 == Set(("a", "b"), ("b", "a")), g2.toString)
    // minCount cuts the low-frequency tail
    val g3 = TextFunctions.collocationsPmi(df, col("text"), minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(g3.toSeq == Seq(("a", "b")), g3.toSeq.toString)
  }

  test("phraseHits/phraseMatches: Aho-Corasick == brute positional scan; overlaps, fail chains") {
    def brute(s: String, pats: Seq[String]): (Long, Seq[String]) = {
      val hits = (for {
        p <- pats; i <- 0 to s.length - p.length
        if s.regionMatches(i, p, 0, p.length)
      } yield p)
      (hits.size.toLong, hits.distinct.sorted)
    }
    def run(s: String, pats: Seq[String]): (Long, Seq[String]) = {
      val r = Seq(Tuple1(s)).toDF("t")
        .select(TextFunctions.phraseHits(col("t"), pats).as("n"),
          TextFunctions.phraseMatches(col("t"), pats).as("m"))
        .head()
      (r.getLong(0), r.getSeq[String](1))
    }
    // fail-chain stress: nested self-overlapping patterns
    val acid = Seq("aaaa", "aa", "aba")
    assert(run("aaaaaa", acid) == brute("aaaaaa", acid))
    assert(run("aaaaaa", acid)._1 == 8L) // 3× aaaa + 5× aa
    assert(run("ababa", acid) == brute("ababa", acid)) // aba × 2 overlap
    // phrase spanning whitespace + substring-inside-word + no word rule
    val pats = Seq("fast filter", "qu", "a")
    assert(run("a fast filter query", pats) == brute("a fast filter query", pats))
    // empty text / no matches
    assert(run("", pats) == ((0L, Seq())))
    assert(run("zzz", pats) == ((0L, Seq())))
    // one pattern a prefix of another, both fire at the same position
    val pre = Seq("dat", "data")
    assert(run("data dat", pre) == ((3L, Seq("dat", "data"))))
    // randomized equivalence over a dense tiny alphabet
    val rnd = new scala.util.Random(3)
    def rs(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString
    val rpats = Seq.fill(6)(rs(1 + rnd.nextInt(4))).distinct
    (0 until 20).foreach { _ =>
      val s = rs(rnd.nextInt(30))
      assert(run(s, rpats) == brute(s, rpats), s"text='$s' pats=$rpats")
    }
  }

  test("scriptCount/scriptFraction/dominantScript: code points, ties, none fallback") {
    def one(text: String): org.apache.spark.sql.DataFrame =
      Seq(Tuple1(text)).toDF("t")
    def cnt(text: String, s: String): Long =
      one(text).select(TextFunctions.scriptCount(col("t"), s)).head().getLong(0)
    assert(cnt("abc def", "Latin") == 6L)       // space is not Latin
    assert(cnt("abcПри", "Latin") == 3L && cnt("abcПри", "Cyrillic") == 3L)
    assert(cnt("你好", "Han") == 2L && cnt("你好", "Latin") == 0L)
    // supplementary-plane Han counts as ONE code point
    assert(cnt("𠀀", "Han") == 1L)    // U+20000
    def frac(text: String, s: String): Double =
      one(text).select(TextFunctions.scriptFraction(col("t"), s)).head().getDouble(0)
    assert(frac("ab12", "Latin") == 0.5)
    assert(frac("", "Latin") == 0.0)            // no division by zero
    def dom(text: String, scripts: Seq[String]): String =
      one(text).select(TextFunctions.dominantScript(col("t"), scripts))
        .head().getString(0)
    assert(dom("abc你", Seq("Latin", "Han")) == "Latin")
    assert(dom("a你好", Seq("Latin", "Han")) == "Han")
    // exact tie: FIRST-listed script wins, in caller's order
    assert(dom("abcПри", Seq("Latin", "Cyrillic")) == "Latin")
    assert(dom("abcПри", Seq("Cyrillic", "Latin")) == "Cyrillic")
    // no listed script present -> none (digits/punct only, and empty)
    assert(dom("123 .!", Seq("Latin", "Han")) == "none")
    assert(dom("", Seq("Latin")) == "none")
    // a script NOT in the list never wins
    assert(dom("Привет", Seq("Latin", "Han")) == "none")
  }

  test("wordpieceTokens: greedy longest-match, whole-word UNK, code points, maxWordChars") {
    val vocab = Seq("un", "af", "able", "##aff", "##ord", "##able",
      "a", "##b", "x")
    def toks(text: String, v: Seq[String] = vocab,
             maxW: Int = 100): Seq[String] =
      Seq(Tuple1(text)).toDF("text")
        .select(TextFunctions.wordpieceTokens(col("text"), v,
          maxWordChars = maxW).as("t"))
        .head().getSeq[String](0)
    // longest-match among continuations: ##aff beats nothing-shorter
    assert(toks("unaffordable") == Seq("un", "##aff", "##ord", "##able"))
    // start pieces never match at pos>0 and vice versa: 'aff' is
    // continuation-only, so the start match is 'af', then pos 3 has
    // no continuation -> the WHOLE word is [UNK] (matched prefix
    // discarded, HF semantics)
    assert(toks("affable") == Seq("[UNK]"))
    assert(toks("ax") == Seq("[UNK]"))     // 'a' then no ##x
    assert(toks("xb") == Seq("x", "##b")) // continuation chain
    assert(toks("zzz") == Seq("[UNK]"))
    assert(toks("xb zzz ax") == Seq("x", "##b", "[UNK]", "[UNK]"))
    assert(toks("") == Seq())
    assert(toks("  xb  ") == Seq("x", "##b"))
    // maxWordChars: over-long words UNK outright (counted in code
    // points); at the exact bound they still tokenize
    assert(toks("xb", maxW = 1) == Seq("[UNK]"))
    assert(toks("xb", maxW = 2) == Seq("x", "##b"))
    // non-BMP safety: an astral-plane piece matches as ONE code point
    val astral = Seq("𝕏", "##y") // 𝕏 (U+1D54F) + ##y
    assert(toks("𝕏y", astral) == Seq("𝕏", "##y"))
    assert(toks("𝕏", astral, maxW = 1) == Seq("𝕏"))
    // greedy prefers the longest START piece too: 'filter' whole-word
    // beats 'fil'+pieces even when both paths exist
    val v2 = Seq("filter", "fil", "##ter", "f")
    assert(toks("filter", v2) == Seq("filter"))
    // custom unk token + count helper
    val got = Seq(Tuple1("xb zzz")).toDF("text")
      .select(TextFunctions.wordpieceTokens(col("text"), vocab,
        unk = "<unk>").as("t"))
      .head().getSeq[String](0)
    assert(got == Seq("x", "##b", "<unk>"))
    assert(Seq(Tuple1("xb zzz xb")).toDF("text")
      .select(TextFunctions.wordpieceTokenCount(col("text"), vocab).as("n"))
      .head().getLong(0) == 5L)
  }

  test("trainWordpieceVocab: distributed loop == independent driver simulation; apply closes the loop") {
    // independent reference: the HF WordPiece trainer semantics over a
    // word-count map, implemented with plain Scala collections (no
    // shared code with the operator)
    def cps(w: String): Vector[String] = {
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        b += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      b.result()
    }
    def simulate(wc: Map[String, Long], numMerges: Int,
                 minPairCount: Long): Seq[String] = {
      var state: Map[Vector[String], Long] = wc.map { case (w, c) =>
        cps(w).zipWithIndex.map { case (p, i) =>
          if (i == 0) p else "##" + p } -> c
      }
      val init = state.keys.flatten.toSeq.distinct.sorted
      val merges = scala.collection.mutable.ArrayBuffer.empty[String]
      var done = numMerges == 0
      while (!done) {
        val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        val uc = scala.collection.mutable.Map.empty[String, Long]
        state.foreach { case (ps, c) =>
          ps.sliding(2).filter(_.size == 2).foreach { p =>
            pc((p(0), p(1))) = pc.getOrElse((p(0), p(1)), 0L) + c
          }
          ps.foreach(u => uc(u) = uc.getOrElse(u, 0L) + c)
        }
        if (pc.isEmpty) done = true
        else {
          val ((l, r), c) = pc.toSeq.sortBy { case ((l, r), c) =>
            (-(c.toDouble / (uc(l) * uc(r))), l, r)
          }.head
          if (c < minPairCount) done = true
          else {
            val merged = l + r.substring(2)
            merges += merged
            state = state.map { case (ps, cnt) =>
              val out = Vector.newBuilder[String]
              var i = 0
              while (i < ps.length) {
                if (i < ps.length - 1 && ps(i) == l && ps(i + 1) == r) {
                  out += merged; i += 2
                } else { out += ps(i); i += 1 }
              }
              out.result() -> cnt
            }
            if (merges.size >= numMerges) done = true
          }
        }
      }
      (init ++ merges).distinct
    }
    // corpus with skew, repeated subwords, and a non-BMP word
    val lines = Seq("low low low lower lower lowest", "new newer newest low",
      "🦄x 🦄x slow slower", "low newer")
    val df = lines.map(Tuple1(_)).toDF("text").repartition(3)
    val wc = lines.flatMap(_.split(" ")).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    for ((nm, mpc) <- Seq((6, 2L), (12, 1L), (0, 1L))) {
      val got = TextFunctions.trainWordpieceVocab(df, col("text"), nm,
        minPairCount = mpc)
      val want = simulate(wc, nm, mpc)
      assert(got == want, s"numMerges=$nm minPairCount=$mpc:\n$got\n$want")
    }
    // the trained vocab NEVER UNKs a training word (alphabet retained);
    // trained to convergence every training word is a single piece, so
    // greedy apply returns it whole
    val vocab = TextFunctions.trainWordpieceVocab(df, col("text"), 50,
      minPairCount = 1)
    val toks = df.select(explode(
        TextFunctions.wordpieceTokens(col("text"), vocab)).as("t"))
      .collect().map(_.getString(0))
    assert(!toks.contains("[UNK]"), toks.toSeq.toString)
    val lowPieces = Seq(Tuple1("low")).toDF("text")
      .select(TextFunctions.wordpieceTokens(col("text"), vocab).as("t"))
      .head().getSeq[String](0)
    assert(lowPieces == Seq("low"), lowPieces.toString)
  }

  test("wordpieceTokens: fixture segmentation matches the q_wordpiece oracle trace") {
    // hand-traced expectations for the corpus vocabulary under the
    // q_wordpiece fixture vocab — the same rows the DuckDB recursive
    // CTE replays; a drift here means the oracle and kernel disagree
    val v = SparkEntry.wordpieceVocabFixture
    val cases = Map(
      "customer" -> Seq("cust", "##omer"),
      "column" -> Seq("col", "##umn"),
      "batch" -> Seq("ba", "##tch"),
      "filter" -> Seq("filter"),
      "join" -> Seq("j", "##o", "##i", "##n"),
      "the" -> Seq("the"),
      "a" -> Seq("a"),
      "data" -> Seq("data"),
      "scan" -> Seq("s", "##can"),
      "slow" -> Seq("s", "##low"),
      "query" -> Seq("q", "##uery"),
      "group" -> Seq("[UNK]"),  // gro, then no ##up
      "fast" -> Seq("[UNK]"),   // f, then no ##ast
      "small" -> Seq("[UNK]"), "vector" -> Seq("[UNK]"))
    val df = cases.keys.toSeq.map(Tuple1(_)).toDF("text")
      .select(col("text"),
        TextFunctions.wordpieceTokens(col("text"), v).as("t"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](1) == cases(r.getString(0)),
        s"word ${r.getString(0)}")
    }
  }

  test("bpeTokens: min-rank-greedy == sequential-by-rank on a valid table (oracle equivalence)") {
    // the q_bpe_tokens fixture + real-ish text; sequential reference
    // applies each rule in rank order as a full left-to-right sweep
    val merges = Seq(
      ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
      ("e", "r"), ("o", "n"), ("r", "e"), ("o", "u"), ("in", "g"))
    def sequential(word: String): Seq[String] = {
      var parts = word.map(_.toString).toVector
      for ((l, r) <- merges) {
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < parts.length) {
          if (j < parts.length - 1 && parts(j) == l && parts(j + 1) == r) {
            out += (l + r); j += 2
          } else { out += parts(j); j += 1 }
        }
        parts = out.result()
      }
      parts
    }
    val words = Seq("the", "thunder", "standing", "outrunning", "and",
      "inner", "thinking", "bound", "theron", "rethink", "andante")
    val got = Seq(Tuple1(words.mkString(" "))).toDF("text")
      .select(TextFunctions.bpeTokens(col("text"), merges).as("t"))
      .head().getSeq[String](0)
    assert(got == words.flatMap(sequential))
  }

  test("bpeTokens: applying a TRAINED table reproduces the training-end tokenization (randomized)") {
    // Simulated BPE training produces valid tables by construction
    // (every rule side is a char or an earlier product). The invariant:
    // applying the learned table to the training corpus must land on
    // exactly the tokenization training ended with — this exercises
    // the greedy min-rank apply loop against ground truth far beyond
    // hand fixtures.
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val alphabet = "abcd"
      val words = (1 to 12).map(_ =>
        (1 to (2 + rng.nextInt(8))).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString)
      var state: Map[String, Vector[String]] =
        words.distinct.map(w => w -> w.map(_.toString).toVector).toMap
      val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
      for (_ <- 1 to 6) {
        val pairCounts = scala.collection.mutable.Map[(String, String), Int]().withDefaultValue(0)
        for (w <- words; parts = state(w); j <- 0 until parts.length - 1)
          pairCounts((parts(j), parts(j + 1))) += 1
        if (pairCounts.nonEmpty) {
          val best = pairCounts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }._1
          merges += best
          state = state.map { case (w, parts) =>
            val out = Vector.newBuilder[String]
            var j = 0
            while (j < parts.length) {
              if (j < parts.length - 1 && parts(j) == best._1 && parts(j + 1) == best._2) {
                out += (best._1 + best._2); j += 2
              } else { out += parts(j); j += 1 }
            }
            w -> out.result()
          }
        }
      }
      val text = words.mkString(" ")
      val got = Seq(Tuple1(text)).toDF("text")
        .select(TextFunctions.bpeTokens(col("text"), merges.toSeq).as("t"))
        .head().getSeq[String](0)
      val expected = words.flatMap(state)
      assert(got == expected,
        s"trial $trial: merges=$merges words=$words\ngot=$got\nexpected=$expected")
    }
  }

  test("trainBpeMerges: distributed training matches a driver simulation; applying the table reproduces the training-end tokenization") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text").limit(40).cache()
    // independent driver reference: classic BPE over the same word
    // frequencies, same (count desc, left, right) tie-break
    val wc = docs.select(explode(TextFunctions.tokens($"text")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    def mergeLTR(parts: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var j = 0
      while (j < parts.length) {
        if (j < parts.length - 1 && parts(j) == l && parts(j + 1) == r) {
          out += (l + r); j += 2
        } else { out += parts(j); j += 1 }
      }
      out.result()
    }
    val counts = wc.toMap
    var state = wc.map { case (w, _) => w -> w.map(_.toString).toVector }.toMap
    val simMerges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((w, parts) <- state; j <- 0 until parts.length - 1)
        pc((parts(j), parts(j + 1))) += counts(w)
      pc.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.headOption match {
        case Some(((l, r), c)) if c >= 2L =>
          simMerges += ((l, r))
          state = state.map { case (w, parts) => w -> mergeLTR(parts, l, r) }
          if (simMerges.size >= 10) done = true
        case _ => done = true
      }
    }
    val trained = TextFunctions.trainBpeMerges(docs, $"text", numMerges = 10)
    assert(trained == simMerges.toSeq,
      s"trained=$trained\nsim=${simMerges.toSeq}")
    // the trained table's apply lands exactly on the training-end state
    val applied = docs.select(explode(TextFunctions.tokens($"text")).as("w")).distinct()
      .select($"w", TextFunctions.bpeTokens($"w", trained).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    applied.foreach { case (w, got) =>
      assert(got == state(w), s"word '$w': $got vs ${state(w)}")
    }
    docs.unpersist()
  }

  test("trainBpeMerges splits by code points: non-BMP merges apply cleanly") {
    // words "😀a" ×2 and "😀b": a code-UNIT split would train the
    // rule (surrogate-half, surrogate-half) which BpeApply (code-point
    // tokenizer) could never fire — training must see [😀, a] instead
    val docs = Seq(Tuple1("😀a 😀a 😀b")).toDF("text")
    val trained = TextFunctions.trainBpeMerges(docs, $"text", numMerges = 4)
    assert(trained == Seq(("😀", "a")), trained.toString)
    val got = Seq(Tuple1("😀a 😀b")).toDF("t")
      .select(TextFunctions.bpeTokens($"t", trained)).head().getSeq[String](0)
    assert(got == Seq("😀a", "😀", "b"), got.toString)
  }

  test("chunkTokens: overlap, tail chunk, degenerate sizes") {
    def chunksOf(text: String, size: Int, overlap: Int): Seq[String] =
      Seq(text).toDF("t")
        .select(TextFunctions.chunkTokens(TextFunctions.tokens($"t"), size, overlap))
        .head().getSeq[String](0)
    assert(chunksOf("a b c d e", 2, 0) == Seq("a b", "c d", "e"))
    assert(chunksOf("a b c d e", 3, 1) == Seq("a b c", "c d e"))
    assert(chunksOf("a", 4, 2) == Seq("a")) // doc shorter than a chunk
    intercept[IllegalArgumentException](chunksOf("a b", 2, 2))
  }

  test("chunkBySentences packs whole sentences to a token budget") {
    val df = Seq((1L, "One two three. Four five! Six seven eight? Nine.")).toDF("id", "t")
    val got = TextFunctions.chunkBySentences(df, $"id", $"t", tokenBudget = 5)
      .orderBy("chunk_id")
      .collect().map(r => (r.getLong(1), r.getString(2), r.getLong(4)))
    // budget 5: [One two three | Four five] = 5 tokens, then the rest
    assert(got.toSeq == Seq(
      (0L, "One two three Four five", 5L),
      (1L, "Six seven eight Nine.", 4L)))
  }

  test("packTokens never splits a token and respects the char budget rule") {
    val df = Seq((1L, "aa bb cc dd")).toDF("id", "t")
    // weights 2,2,2,2 cumulative-before 0,2,4,6 → budget 4: chunks {aa,bb},{cc,dd}
    val got = TextFunctions.packTokens(df, $"id", $"t", charBudget = 4)
      .orderBy("chunk_id").collect().map(r => (r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq((0L, "aa bb"), (1L, "cc dd")))
  }

  test("packCorpus: greedy running-sum packing, whole docs, dense seq ids, per-shard") {
    // weights: 4, 5, 3, 25 (heavier than 2 budgets), 1
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d e"), (3L, "a b c"),
      (4L, ("w " * 25).trim), (5L, "z")
    ).toDF("doc_id", "text")
    val packed = TextFunctions.packCorpus(docs, col("doc_id"),
        size(TextFunctions.tokens(col("text"))), budget = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).sortBy(r => (r._1, r._2)).toSeq
    // cb: 0,4,9,12,37 -> bins 0,0,0,1,3 -> dense seq ids 0,1,2
    assert(packed == Seq(
      (0L, 0L, "1,2,3", 3L, 12L),
      (0L, 1L, "4", 1L, 25L),
      (0L, 2L, "5", 1L, 1L)))
    // every doc lands in exactly one sequence
    assert(packed.map(_._4).sum == 5L)
    // sharded: packing runs independently per shard, ids keyed (shard, seq)
    val sharded = TextFunctions.packCorpus(docs, col("doc_id"),
        size(TextFunctions.tokens(col("text"))), budget = 10,
        shard = pmod(col("doc_id"), lit(2L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(r => (r._1, r._2)).toSeq
    // shard 0: docs 2 (wt 5), 4 (wt 25): cb 0, 5 -> bins 0, 0
    // shard 1: docs 1 (4), 3 (3), 5 (1): cb 0, 4, 7 -> all bin 0
    assert(sharded == Seq((0L, 0L, "2,4"), (1L, 0L, "1,3,5")))
    // repartition-invariant (hash shard + id order are data-derived)
    val re = TextFunctions.packCorpus(docs.repartition(7), col("doc_id"),
        size(TextFunctions.tokens(col("text"))), budget = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(r => (r._1, r._2)).toSeq
    assert(re == packed.map(r => (r._1, r._2, r._3)))
  }

  test("packCorpus invariants on random corpora: exhaustive, weight-conserving, ordered, dense") {
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 30 + rng.nextInt(40)
      val docs = (1 to n).map(i =>
        (i.toLong, ("w " * rng.nextInt(30)).trim)).toDF("doc_id", "text")
      val budget = 5 + rng.nextInt(40)
      val packed = TextFunctions.packCorpus(docs, col("doc_id"),
          size(TextFunctions.tokens(col("text"))), budget,
          shard = pmod(col("doc_id"), lit(3L)))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getString(2).split(",").filter(_.nonEmpty).map(_.toLong).toSeq, r.getLong(3), r.getLong(4)))
      // every doc lands in exactly one sequence
      val allIds = packed.flatMap(_._3)
      assert(allIds.sorted.toSeq == (1 to n).map(_.toLong), s"trial $trial: lost/dup docs")
      // doc count and weight columns are consistent with membership
      val weights = docs.select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("w"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      for ((_, _, ids, nDocs, totW) <- packed) {
        assert(ids.size == nDocs)
        assert(ids.map(weights).sum == totW)
        assert(ids == ids.sorted) // pack order = id order
      }
      // seq ids dense from 0 per shard
      for ((sh, rows) <- packed.groupBy(_._1))
        assert(rows.map(_._2).sorted.toSeq == (0L until rows.size).toSeq,
          s"trial $trial shard $sh: sparse seq ids")
      // full equivalence with an in-memory reference greedy packer
      for ((sh, rows) <- packed.groupBy(_._1)) {
        val shardDocs = (1 to n).map(_.toLong).filter(_ % 3 == sh).sorted
        var cum = 0L
        val bins = scala.collection.mutable.LinkedHashMap[Long, Vector[Long]]()
        for (d <- shardDocs) {
          val bin = cum / budget
          bins(bin) = bins.getOrElse(bin, Vector()) :+ d
          cum += weights(d)
        }
        val expected = bins.values.toSeq.zipWithIndex.map { case (ids, i) => (i.toLong, ids) }
        val got = rows.sortBy(_._2).map(r => (r._2, r._3.toVector)).toSeq
        assert(got == expected, s"trial $trial shard $sh:\ngot $got\nexpected $expected")
      }
    }
  }

  test("chunkUnits: chunk ids stay dense when one unit spans budget multiples") {
    // weights 1, 10, 1 with budget 5: raw bins 0,0,2 → dense ids 0,1
    val df = Seq((1L, "a bbbbbbbbbb c")).toDF("id", "t")
    val got = TextFunctions.packTokens(df, $"id", $"t", charBudget = 5)
      .orderBy("chunk_id")
      .collect().map(r => (r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq((0L, "a bbbbbbbbbb"), (1L, "c")))
  }

  test("fingerprint deterministic and content-sensitive") {
    val fps = Seq("abc", "abd", "abc").toDF("t")
      .select(TextFunctions.fingerprint($"t")).collect().map(_.getLong(0))
    assert(fps(0) == fps(2) && fps(0) != fps(1))
    // matches the explicit fold
    val expect = "abc".foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    assert(fps(0) == expect)
  }

  test("qualityScore higher for longer varied text") {
    val df = Seq(
      (1L, "word " * 40 + "tail"),
      (2L, "x x")
    ).toDF("id", "text")
    val q = df.select($"id",
        TextFunctions.qualityScore($"text", TextFunctions.tokens($"text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(1L) > q(2L))
  }

  test("tokenCountBpeish counts letter runs, digit runs, symbols") {
    val n = Seq("hello world42 x!").toDF("t")
      .select(TextFunctions.tokenCountBpeish($"t")).head().getLong(0)
    // hello, world, 42, x, !
    assert(n == 5L)
  }

  test("stripBoilerplate keeps dense prose, drops nav/link/short lines") {
    val df = Seq(
      (1L, "the cat sat on a mat and it is fine\nHome | About | Contact\nsee http://x.com for more of the info\nof the and to in"),
      (2L, "no stopwords here whatsoever friend"),
      (3L, "")).toDF("doc_id", "text")
    val got = TextFunctions.stripBoilerplate(df, "doc_id", $"text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: prose line kept; nav line (0 stopwords of 5 words... '|'
    // words) dropped; http line dropped; stopword-only line kept
    assert(got(1L) == (("the cat sat on a mat and it is fine\nof the and to in", 2L, 2L)), got(1L))
    // doc 2: 5 words, zero stopwords → density 0 < 0.125 → dropped
    assert(got(2L) == (("", 0L, 1L)), got(2L))
    // doc 3: empty text → one empty line, dropped; row survives
    assert(got(3L) == (("", 0L, 1L)), got(3L))
  }

  test("blockedWordCount counts occurrences; filter honors the maxHits budget") {
    val df = Seq(
      (1L, "clean text only"),
      (2L, "some SPAM here and spam there"),        // 2 hits, case-folded
      (3L, "spam. attached"),                       // punctuation → no match
      (4L, "one spam mention")).toDF("doc_id", "text")
    val blocked = Seq("spam", "tracker")
    val counts = df.select($"doc_id",
        TextFunctions.blockedWordCount(TextFunctions.tokens($"text"), blocked).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 0L, 2L -> 2L, 3L -> 0L, 4L -> 1L))
    val strict = TextFunctions.filterByWordBlocklist(df, $"text", blocked)
      .collect().map(_.getLong(0)).toSet
    assert(strict == Set(1L, 3L))
    val lenient = TextFunctions.filterByWordBlocklist(df, $"text", blocked, maxHits = 1)
      .collect().map(_.getLong(0)).toSet
    assert(lenient == Set(1L, 3L, 4L))
  }

  test("meanPoolEmbeddings: element-wise mean per key, repartition-invariant") {
    val df = Seq(
      (1, Array(1.0f, 2.0f, 3.0f)),
      (1, Array(3.0f, 2.0f, 1.0f)),
      (2, Array(5.0f, 5.0f, 5.0f))).toDF("label", "embedding")
    val got = Similarity.meanPoolEmbeddings(df, "label", "embedding")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getSeq[Double](2)))).toMap
    assert(got(1) == ((2L, Seq(2.0, 2.0, 2.0))))
    assert(got(2) == ((1L, Seq(5.0, 5.0, 5.0))))
    val re = Similarity.meanPoolEmbeddings(df.repartition(4), "label", "embedding")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getSeq[Double](2)))).toMap
    assert(re == got)
  }

  test("meanPoolEmbeddings dirty input: n_vecs counts null/empty-vector rows; all-degenerate keys drop") {
    val df = Seq(
      (1, Array(1.0f, 2.0f, 3.0f)),
      (1, Array(3.0f, 2.0f, 1.0f)),
      (1, null.asInstanceOf[Array[Float]]),  // counted, contributes nothing
      (1, Array.empty[Float]),               // counted, contributes nothing
      (3, null.asInstanceOf[Array[Float]]))  // key with NO usable vectors
      .toDF("label", "embedding")
    val got = Similarity.meanPoolEmbeddings(df, "label", "embedding")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getSeq[Double](2)))).toMap
    // n_vecs = count(*) per key (the oracle's count), mean over the
    // vectors that exist; a key with only null/empty vectors has no
    // pooled array and is dropped
    assert(got == Map(1 -> ((4L, Seq(2.0, 2.0, 2.0)))), s"got: $got")
  }

  test("ngramDiversity: templated feed scores low, varied feed high") {
    val df = Seq(
      (1L, "tmpl", "click here now"),
      (2L, "tmpl", "click here now"),
      (3L, "tmpl", "click here now"),
      (4L, "varied", "one two three"),
      (5L, "varied", "four five six"),
      (6L, "varied", "seven eight nine")).toDF("doc_id", "source", "text")
    val got = TextFunctions.ngramDiversity(df, Seq("source"),
        TextFunctions.tokens(col("text")), n = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // tmpl: 3 docs x 2 bigrams, all repeats of the same 2 -> 2/6
    assert(got("tmpl") == ((6L, 2L, 0.333333)))
    // varied: 6 distinct bigrams out of 6
    assert(got("varied") == ((6L, 6L, 1.0)))
  }

  test("piiStats counts match the scrub regexes; zero after redaction") {
    val df = Seq(
      (1L, "mail a@b.co and c.d@e.org plus phone +1 (555) 123-4567"),
      (2L, "no pii at all here")).toDF("id", "text")
    val got = df.select($"id", TextFunctions.piiStats($"text").as("p"))
      .select($"id", $"p.n_emails", $"p.n_phones")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((2L, 1L)) && got(2L) == ((0L, 0L)))
    // invariant: scrubbed text counts zero on both regexes
    val after = df
      .select(TextFunctions.piiStats(TextFunctions.redactPii($"text")).as("p"))
      .select($"p.n_emails", $"p.n_phones").collect()
    assert(after.forall(r => r.getLong(0) == 0L && r.getLong(1) == 0L))
  }

  test("gopherFlags: each rule trips on its crafted doc; filter keeps pass only") {
    val good = ("solid words flowing onward " * 13) + "the of have that"
    val docs = Seq(
      1L -> good,                                    // all rules pass
      2L -> "the of nice words",                     // < 50 words
      3L -> (good + " " + ("@#$%^&*" * 40)),         // symbol ratio > 0.1
      5L -> (0 until 60).map(i => s"- the of item$i line").mkString("\n"),
      6L -> ((0 until 60).map(i => s"the of word$i more...").mkString("\n")),
      7L -> (("1234 " * 55) + "the of"),             // alpha frac < 0.8
      8L -> ("plain words without those eight magic ones " * 8),
      9L -> (("the of same line\n" * 50) + good.replace(" ", "\n")),
      10L -> ("a b c d e f g h " * 10 + "the of")    // mean word len < 3
    ).map { case (i, t) => (i, t) }
    val f = TextFunctions.gopherFlags(col("text"), TextFunctions.tokens(col("text")))
    val got = docs.toDF("doc_id", "text")
      .select(col("doc_id"), f.as("f")).select("doc_id", "f.*")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8),
          r.getBoolean(9))).toMap
    // (words, word_len, symbol, bullet, ellipsis, alpha, stopword, dup, pass)
    assert(got(1L)._9, s"good doc must pass: ${got(1L)}")
    assert(!got(2L)._1 && !got(2L)._9)   // too short
    assert(!got(3L)._3 && !got(3L)._9)   // symbols
    assert(!got(5L)._4 && !got(5L)._9)   // all-bullet lines
    assert(!got(6L)._5 && !got(6L)._9)   // ellipsis-ended lines
    assert(!got(7L)._6 && !got(7L)._9)   // digit words
    assert(!got(8L)._7 && !got(8L)._9)   // no required stopwords
    assert(!got(9L)._8 && !got(9L)._9)   // duplicated lines
    assert(!got(10L)._2 && !got(10L)._9) // mean word length < 3
    val kept = TextFunctions.gopherQualityFilter(docs.toDF("doc_id", "text"), col("text"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == got.filter(_._2._9).keySet)
  }

  test("dsir: target-like docs score high, twins agree, sorted fold repartition-invariant") {
    val target = Seq((1L, "alpha alpha alpha beta"), (2L, "alpha beta"))
      .toDF("doc_id", "text")
    val raw = Seq((10L, "alpha alpha"), (11L, "gamma gamma gamma"), (12L, "   "))
      .toDF("doc_id", "text")
    val lrs = TextFunctions.dsirLogRatios(
      TextFunctions.fitHashedBucketCountsByMd5(target, $"text", buckets = 256),
      TextFunctions.fitHashedBucketCountsByMd5(raw, $"text", buckets = 256))
    assert(lrs.length == 256)
    val got = TextFunctions.dsirScoreByMd5(raw, "doc_id", $"text", lrs)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // zero-token doc dropped; target-frequent token wins over raw-only
    assert(got.keySet == Set(10L, 11L))
    assert(got(10L) > 0 && got(11L) < 0 && got(10L) > got(11L))
    // identical target/raw counts → ratio exactly 1 → all-zero ratios
    assert(TextFunctions.dsirLogRatios(Array(3L, 1L), Array(3L, 1L))
      .forall(_ == 0.0))
    // the xxhash64 production path agrees on the ordering after refit
    val lrsXx = TextFunctions.dsirLogRatios(
      TextFunctions.fitHashedBucketCounts(target, $"text", buckets = 256),
      TextFunctions.fitHashedBucketCounts(raw, $"text", buckets = 256))
    val gotXx = TextFunctions.dsirScore(raw, "doc_id", $"text", lrsXx)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gotXx.keySet == Set(10L, 11L) && gotXx(10L) > gotXx(11L))
    // sorted-bucket fold: scores are bit-identical across partitionings
    val got2 = TextFunctions
      .dsirScoreByMd5(raw.repartition(5), "doc_id", $"text", lrs)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == got2)
    // one-pass split fit == the two separate fits, both hashers
    val both = target.withColumn("__t", lit(true))
      .unionByName(raw.withColumn("__t", lit(false)))
    val (stc, src) = TextFunctions.fitHashedBucketCountsSplitByMd5(
      both, $"text", $"__t", buckets = 256)
    assert(stc.toSeq == TextFunctions
      .fitHashedBucketCountsByMd5(target, $"text", buckets = 256).toSeq)
    assert(src.toSeq == TextFunctions
      .fitHashedBucketCountsByMd5(raw, $"text", buckets = 256).toSeq)
    val (xtc, xrc) = TextFunctions.fitHashedBucketCountsSplit(
      both, $"text", $"__t", buckets = 256)
    assert(xtc.toSeq == TextFunctions
      .fitHashedBucketCounts(target, $"text", buckets = 256).toSeq)
    assert(xrc.toSeq == TextFunctions
      .fitHashedBucketCounts(raw, $"text", buckets = 256).toSeq)
    // a null flag (null source under ===) counts as raw, no NPE
    val withNull = Seq((50L, "alpha beta", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "src")
      .unionByName(target.withColumn("src", lit("t")))
    val (ntc, nrc) = TextFunctions.fitHashedBucketCountsSplitByMd5(
      withNull, $"text", $"src" === "t", buckets = 256)
    assert(ntc.sum == 6L && nrc.sum == 2L) // target's 6 tokens vs the null row's 2
  }
}

class MultimodalSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  def media = Multimodal.fromBinary(spark,
    Seq((1L, "hello"), (2L, "")).toDF("id", "payload"), "id",
    encode($"payload", "UTF-8"), "image")

  test("schema plumbing: binary + typed metadata") {
    assert(media.schema("content").dataType.typeName == "binary")
    assert(media.select($"meta.mime").head().getString(0) == "application/octet-stream")
  }

  test("extractFeaturesBatched == extractFeatures for the lifted per-row codec") {
    import spark.implicits._
    val perRow = Multimodal.extractFeatures(media)
      .collect().map(f => f.media_id -> (f.n_bytes, f.byte_crc, f.feat.toSeq)).toMap
    // batch size 2 forces multiple decodeBatch calls per partition
    val batched = Multimodal.extractFeaturesBatched(media,
        Multimodal.batching(Multimodal.FakeCodec, size = 2))
      .collect().map(f => f.media_id -> (f.n_bytes, f.byte_crc, f.feat.toSeq)).toMap
    assert(batched == perRow)
  }

  test("extractFeatures deterministic, batch-shaped, empty-safe") {
    val f = Multimodal.extractFeatures(media).collect().map(x => x.media_id -> x).toMap
    assert(f(1L).n_bytes == 5L && f(1L).head_byte == 'h'.toInt)
    assert(f(2L).n_bytes == 0L && f(2L).head_byte == -1)
    assert(f(1L).feat.length == 8)
    val again = Multimodal.extractFeatures(media).collect().map(x => x.media_id -> x.byte_crc).toMap
    assert(again(1L) == f(1L).byte_crc)
  }

  test("byteFeatures columnar") {
    val out = Multimodal.byteFeatures(media).where($"media_id" === 1)
      .select($"n_bytes").head().getLong(0)
    assert(out == 5L)
  }

  test("resizeStub strides payload bytes") {
    val out = Multimodal.resizeStub(media, factor = 2)
      .collect().toMap
    assert(new String(out(1L)) == "hlo") // "hello" striding every 2nd byte
    assert(out(2L).isEmpty)
  }

  test("frameSample slices payload chunks") {
    val big = Multimodal.fromBinary(spark,
      Seq((1L, "a" * 100)).toDF("id", "p"), "id", encode($"p", "UTF-8"), "video")
    val frames = Multimodal.frameSample(big, chunk = 10, stride = 2)
      .select(size($"frames")).head().getInt(0)
    assert(frames == 5)
  }

  test("aHash: kernel == definition, locality, empty/width edges") {
    // brute-force reference of the cell-mean definition
    def ref(bytes: Array[Byte], bits: Int): Long = {
      val n = bytes.length
      if (n == 0) return 0L
      val bs = bytes.map(_ & 0xff)
      val total = bs.map(_.toLong).sum
      (0 until bits).map { i =>
        val cell = bs.indices.filter(p => p.toLong * bits / n == i)
        val cs = cell.map(bs(_).toLong).sum
        if (cs * n > total * cell.length) 1L << i else 0L
      }.reduce(_ | _)
    }
    val rnd = new scala.util.Random(11)
    val payloads = Seq(
      Array.emptyByteArray,
      "hello world".getBytes("UTF-8"),
      Array.fill(7)(rnd.nextInt(256).toByte),     // n < bits: empty cells
      Array.fill(300)(rnd.nextInt(256).toByte),
      Array.fill(256)(42.toByte))                  // all-equal: hash 0
    val df = payloads.zipWithIndex
      .map { case (b, i) => (i.toLong, b) }.toDF("id", "content")
    for (bits <- Seq(60, 64)) {
      val got = df.select($"id", Multimodal.aHash($"content", bits))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      payloads.zipWithIndex.foreach { case (b, i) =>
        assert(got(i.toLong) == ref(b, bits), s"bits=$bits payload $i")
      }
    }
    // aHash64 = the bits=64 full-width variant
    val h64 = df.where($"id" === 1)
      .select(Multimodal.aHash64($"content")).head().getLong(0)
    assert(h64 == ref(payloads(1), 64))
    // all-equal payload: no cell mean exceeds the global mean
    val allEq = df.where($"id" === 4)
      .select(Multimodal.aHash($"content")).head().getLong(0)
    assert(allEq == 0L)
    // locality: flipping 3 bytes of a 300-byte payload moves few bits
    val base = payloads(3)
    val twin = base.clone(); twin(10) = 0; twin(150) = 0; twin(290) = 0
    val pair = Seq((0L, base), (1L, twin)).toDF("id", "content")
      .select(Multimodal.aHash($"content")).collect().map(_.getLong(0))
    assert(java.lang.Long.bitCount(pair(0) ^ pair(1)) <= 8)
  }

  test("mediaNearDupPairs: flipped-byte twin pairs, random payloads don't") {
    val rnd = new scala.util.Random(7)
    val a = Array.fill(400)(rnd.nextInt(256).toByte)
    val twin = a.clone(); twin(5) = 9; twin(200) = 9; twin(399) = 9
    val others = (3L to 12L).map(i =>
      i -> Array.fill(400)(rnd.nextInt(256).toByte))
    val df = (Seq(1L -> a, 2L -> twin) ++ others).toDF("media_id", "content")
    val pairs = Multimodal.mediaNearDupPairs(df, "media_id", $"content",
        maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 <= 8),
      s"twin must pair: ${pairs.toSeq}")
    assert(pairs.forall(p => p._1 == 1L && p._2 == 2L),
      s"independent random payloads must not pair: ${pairs.toSeq}")
    // hamming values = exact fingerprint XOR popcount (verify path)
    val fps = df.select($"media_id", Multimodal.aHash($"content"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (x, y, h) =>
      assert(java.lang.Long.bitCount(fps(x) ^ fps(y)) == h)
    }
  }

  test("dHash: hand cells, empties, and the gradient contrast vs aHash") {
    // 3 one-byte cells at bits=2: descending bytes set both adjacent
    // bits, ascending neither
    assert(graft.plans.DHash.hash(Array[Byte](30, 20, 10), 2) == 3L)
    assert(graft.plans.DHash.hash(Array[Byte](10, 20, 30), 2) == 0L)
    assert(graft.plans.DHash.hash(Array.emptyByteArray, 60) == 0L)
    // payload shorter than the cell count: bytes spread across
    // non-adjacent cells (p*cells/n), so every comparison has an
    // empty side -> deterministic 0 fingerprint
    assert(graft.plans.DHash.hash(Array[Byte](50, 40), 60) == 0L)
    // ...and with matching cell count the adjacent comparison fires
    assert(graft.plans.DHash.hash(Array[Byte](50, 40), 1) == 1L)
    // THE CONTRAST (why perceptual pipelines ship both hashes):
    // A = small-amplitude alternating cells (90/110, 100 bytes/cell,
    // 61 cells); B = A + a 0..120 brightness ramp. Adjacent-cell
    // differences (+-20) dwarf the per-cell ramp step (~2), so dHash
    // barely moves; the ramp's ~60 mean shift flips aHash's low/high
    // classification wholesale.
    val n = 6100
    val a = Array.tabulate(n)(p => (if ((p / 100) % 2 == 0) 90 else 110).toByte)
    val b = Array.tabulate(n)(p =>
      ((if ((p / 100) % 2 == 0) 90 else 110) + p * 120 / n).toByte)
    val dA = graft.plans.DHash.hash(a, 60)
    val dB = graft.plans.DHash.hash(b, 60)
    val aA = graft.plans.AHash.hash(a, 60)
    val aB = graft.plans.AHash.hash(b, 60)
    val dHam = java.lang.Long.bitCount(dA ^ dB)
    val aHam = java.lang.Long.bitCount(aA ^ aB)
    assert(dHam <= 4, s"gradient twin must stay close under dHash, got $dHam")
    assert(aHam >= 15, s"gradient twin must diverge under aHash, got $aHam")
    // column form agrees with the kernel
    val viaCol = Seq((1L, a), (2L, b)).toDF("id", "content")
      .select($"id", Multimodal.dHash($"content"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaCol(1L) == dA && viaCol(2L) == dB)
  }

  test("videoFrameNearDupPairs: end-to-end frames -> dHash -> pigeonhole -> rollup") {
    val rnd = new scala.util.Random(11)
    // "video" A: 4 frames' worth of bytes (chunk=64, stride=2 => 512B)
    val a = Array.fill(512)(rnd.nextInt(256).toByte)
    // B: same video with 2 bytes flipped in sampled frame 0 and one in
    // sampled frame 1 (offsets 0-63 and 128-191)
    val b = a.clone(); b(3) = 0; b(40) = 0; b(150) = 0
    // C: unrelated video
    val c = Array.fill(512)(rnd.nextInt(256).toByte)
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("media_id", "content")
    val got = Multimodal.videoFrameNearDupPairs(df, "media_id", $"content",
        chunk = 64, stride = 2, maxDist = 8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getInt(3)))
    // A/B share all 4 sampled frames (2 slightly-different + 2
    // identical); C pairs with nobody
    assert(got.length == 1 && got.head._1 == "1" && got.head._2 == "2",
      s"got ${got.toSeq}")
    assert(got.head._3 == 4L && got.head._4 == 0)
  }
}

/** Smoke: every declared query runs and returns rows at sf0.001, and
  * the flagship entry is non-empty (driver t1 analog). */
class EntrySpec extends AnyFunSuite {
  val spark = TestSpark.spark

  test("entry flagship non-empty") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query non-empty at sf0.001 and oracle coverage complete") {
    val dir = "/root/testdata/sf0.001"
    val dfs = SparkEntry.queries.map { case (name, fn) => name -> fn(spark, dir) }
    val counts = dfs.map { case (name, df) => name -> df.count() }
    val empty = counts.filter(_._2 == 0).keys.toSeq.sorted
    // pair-finding queries may legitimately be empty at tiny SF
    val allowedEmpty = Set("q_except", "q_ngram_jaccard", "q_minhash_lsh", "q_simhash", "q_ann_lsh")
    assert(empty.forall(allowedEmpty.contains), s"unexpected empty: $empty")
    // every FINAL output column must be atomic — the driver's compare
    // harness sorts cells with pandas, and an array/struct/map-typed
    // final column crashes it (the r8 q_embed_pool gate failure);
    // list(...) shapes belong in intermediate CTEs only
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val nonAtomic = dfs.toSeq.flatMap { case (name, df) =>
      df.schema.fields.toSeq.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(nonAtomic.isEmpty, s"non-atomic final columns: ${nonAtomic.mkString(", ")}")
    // census-complete: every query has an oracle and every oracle a query
    val q = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet == q,
      s"missing oracle: ${(q -- SparkEntry.oracleSql.keySet).toSeq.sorted}; " +
      s"oracle without query: ${(SparkEntry.oracleSql.keySet -- q).toSeq.sorted}")
    // bench tier names exist
    assert(SparkEntry.benchQueries.forall(SparkEntry.queries.contains))
    assert(SparkEntry.benchQueriesV2.forall(SparkEntry.queries.contains),
      s"unknown v2 names: ${SparkEntry.benchQueriesV2.filterNot(SparkEntry.queries.contains)}")
    // the two series tiers are disjoint (benchQueriesV3 is derived as
    // the rest of the registry, so it needs no check of its own)
    val both = SparkEntry.benchQueries.intersect(SparkEntry.benchQueriesV2)
    assert(both.isEmpty, s"in both series tiers: ${both.sorted}")
  }
}
