package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{native, HashKernels, Text}
import org.apache.spark.unsafe.types.UTF8String

/** Native expressions + text analysis semantics. */
class FunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  test("rolling fingerprint is order-sensitive and whitespace-normalizing") {
    val fp = (s: String) => HashKernels.rollingFingerprint(UTF8String.fromString(s))
    assert(fp("a b c") != fp("c b a"))          // order matters
    assert(fp("a  b\tc") == fp("a b c"))        // runs of whitespace collapse
    assert(fp("") == 0L)
  }

  test("chiSquaredTerms: contingency math exact on a hand-built corpus") {
    val docs = Seq(
      (1L, "x", "aa bb"), (2L, "x", "aa bb"), (3L, "x", "aa cc"),
      (4L, "y", "bb"), (5L, "y", "bb cc"), (6L, "y", "cc dd"))
      .toDF("doc_id", "source", "text")
    val got = Text.chiSquaredTerms(docs, topk = 2, minDf = 1)
      .orderBy("source", "rn")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    // replicate the fixed-order double chain for each expected cell
    def chi2(n: Long, a: Long, b: Long, c: Long, d: Long): Double = {
      val adbc = a * d - b * c
      n.toDouble * adbc.toDouble * adbc.toDouble /
        (a + b).toDouble / (c + d).toDouble /
        (a + c).toDouble / (b + d).toDouble
    }
    // "aa" only in x-docs (A=3,B=0,C=0,D=3): maximally indicative of x,
    // and its ABSENCE (A=0 dense cell) equally indicative of y; "dd"
    // (one y-doc) is the runner-up BOTH ways — present for y, absent for
    // x; "bb" (balanced 2/2) scores exactly 0 and never ranks
    assert(got.toSeq == Seq(
      ("x", "aa", 3L, chi2(6, 3, 0, 0, 3), 1L),
      ("x", "dd", 0L, chi2(6, 0, 1, 3, 2), 2L),
      ("y", "aa", 0L, chi2(6, 0, 3, 3, 0), 1L),
      ("y", "dd", 1L, chi2(6, 1, 0, 2, 3), 2L)))
    assert(chi2(6, 3, 0, 0, 3) == 6.0)
    assert(chi2(6, 0, 3, 3, 0) == 6.0) // absence is symmetric evidence
    assert(chi2(6, 2, 2, 1, 1) == 0.0) // the balanced "bb" cell
  }

  test("tokenEntropy: order-pinned fold matches the closed form") {
    val docs = Seq((1L, "x", "a a b"), (2L, "y", "c"))
      .toDF("doc_id", "source", "text")
    val got = Text.tokenEntropy(docs).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // x: counts a=2, b=1 -> H = ln 3 - (2 ln 2 + 1 ln 1)/3, folded in
    // term-ascending order; y: one token -> exactly 0
    val hx = math.log(3.0) -
      (2.0 * math.log(2.0) + 1.0 * math.log(1.0)) / 3.0
    assert(got.toSeq == Seq(("x", 2L, 3L, hx), ("y", 1L, 1L, 0.0)))
  }

  test("simhash: identical docs equal; near docs within small hamming distance") {
    val sh = (s: String) => HashKernels.simhash64(UTF8String.fromString(s))
    val base = "the quick brown fox jumps over the lazy dog again and again"
    assert(sh(base) == sh(base))
    val near = base.replace("dog", "cat")
    val ham = java.lang.Long.bitCount(sh(base) ^ sh(near))
    assert(ham <= 24, s"hamming=$ham")
    val far = "completely different words nothing shared at all here zero overlap"
    assert(java.lang.Long.bitCount(sh(base) ^ sh(far)) > ham)
  }

  test("vec_dot / vec_norm / vec_cosine via SQL surface") {
    val df = Seq((Array(1f, 0f, 2f), Array(3f, 4f, 0.5f))).toDF("a", "b")
    val r = df.select(native.vec_dot(col("a"), col("b")).as("d"),
      native.vec_norm(col("a")).as("n"),
      native.vec_cosine(col("a"), col("a")).as("c")).collect()(0)
    assert(math.abs(r.getDouble(0) - 4.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - math.sqrt(5.0)) < 1e-12)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }

  test("native functions registered for spark.sql text") {
    native.register(spark)
    val r = spark.sql("SELECT simhash64('a b c') AS s, vec_dot(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT))) AS d")
      .collect()(0)
    assert(r.getLong(0) == HashKernels.simhash64(UTF8String.fromString("a b c")))
    assert(r.getDouble(1) == 2.0)
  }

  test("token/char/subword counts") {
    val df = Seq("hello world  foo", "", "a-b c!").toDF("text")
    val got = df.select(Text.tokenCount(col("text")).as("t"),
      Text.charCount(col("text")).as("c"),
      Text.subwordCount(col("text")).as("s")).collect()
    assert(got(0).getLong(0) == 3 && got(0).getLong(1) == 16)
    assert(got(1).getLong(0) == 0)
    assert(got(2).getLong(0) == 2 && got(2).getLong(2) == 5) // a,-,b,c,!
  }

  test("shingles: char and word n-grams") {
    val df = Seq("abcd").toDF("text")
    val ch = df.select(Text.charShingles(col("text"), 2).as("s")).as[Seq[String]].collect()(0)
    assert(ch == Seq("ab", "bc", "cd"))
    val df2 = Seq("a b c d").toDF("text")
    val wd = df2.select(Text.wordShingles(col("text"), 2).as("s")).as[Seq[String]].collect()(0)
    assert(wd == Seq("a b", "b c", "c d"))
  }

  test("word n-gram fingerprints: sorted, distinct, whitespace-normalized") {
    val df = Seq("a  b c a b\tc", "a b c a b c", "x y").toDF("text")
    val got = df.select(native.word_ngram_hashes(col("text"), 2).as("h"))
      .as[Seq[Long]].collect()
    // whitespace runs normalize: both spellings produce identical sets
    assert(got(0) == got(1))
    // sorted + distinct: "a b","b c","c a","a b","b c" → 3 distinct
    assert(got(0).length == 3 && got(0) == got(0).sorted)
    // fingerprint count matches the string-gram count
    val strGrams = df.select(native.word_ngrams(col("text"), 2).as("g"))
      .as[Seq[String]].collect()
    assert(got.zip(strGrams).forall { case (h, g) => h.length == g.distinct.length })
    assert(got(2).length == 1)
  }

  test("chunking: overlap continuity, short docs, empty docs") {
    val df = Seq((1L, "abcdefghij"), (2L, "xy"), (3L, "")).toDF("doc_id", "text")
    val got = Text.chunk(df, size = 4, overlap = 2).orderBy("doc_id", "chunk_idx")
      .as[(Long, Long, Long, String)].collect().toSeq
    // stride 2: doc 1 chunks start at 0,2,4,6,8; the tail chunks shorten
    assert(got == Seq(
      (1L, 0L, 0L, "abcd"), (1L, 1L, 2L, "cdef"), (1L, 2L, 4L, "efgh"),
      (1L, 3L, 6L, "ghij"), (1L, 4L, 8L, "ij"),
      (2L, 0L, 0L, "xy"),
      (3L, 0L, 0L, ""))) // empty doc still yields one (empty) chunk
    // neighboring chunks share exactly `overlap` characters
    got.filter(_._1 == 1L).sliding(2).foreach {
      case Seq(a, b) => assert(a._4.takeRight(2) == b._4.take(2))
      case _ => ()
    }
  }

  test("greedy subword tokenization: longest match, fallback, doc reassembly") {
    val vocab = Seq("the", "er", "ing", "a", "b", "o", "r", "d")
    val df = Seq((1L, "order the aboard"), (2L, ""), (3L, "zz"))
      .toDF("doc_id", "text")
    val got = Text.tokenizeSubwords(df, vocab).orderBy("doc_id")
      .as[(Long, String)].collect().toSeq
    // "order" → o r d er (er wins over e at the tail); "the" is one piece;
    // "aboard" → a b o a r d; unknown chars each become "?"
    assert(got == Seq(
      (1L, "o r d er the a b o a r d"),
      (2L, ""),
      (3L, "? ?")))
  }

  test("tokenize_greedy with a NON-literal vocab column matches the literal path") {
    // per-row vocab exercises the unprepared (no-cache) kernel path — the
    // literal path embeds one prepared index per expression instead of
    // growing a global cache entry per row
    val df = Seq(
      ("order", Seq("the", "er", "o", "r", "d")),
      ("dodo", Seq("do")),
      ("zz", Seq("a"))).toDF("w", "vocab")
    val got = df.select(native.tokenize_greedy(col("w"), col("vocab")))
      .as[String].collect().toSeq
    assert(got == Seq("o r d er", "do do", "? ?"))
    // same words through a foldable vocab literal agree
    val lit1 = Seq("order").toDF("w")
      .select(native.tokenize_greedy(col("w"),
        typedLit(Seq("the", "er", "o", "r", "d")))).as[String].head()
    assert(lit1 == "o r d er")
  }

  test("bigramFluency maxRefCount clamps head-bigram contributions") {
    val ref = Seq((1L, "a b a b a b a b"), (2L, "a b c d")).toDF("doc_id", "text")
    val docs = Seq((10L, "a b"), (11L, "c d")).toDF("doc_id", "text")
    // unclamped: "a b" occurs 5x in ref, "c d" once
    val raw = Text.bigramFluency(docs, ref).orderBy("doc_id")
      .select("fluency").as[Double].collect().toSeq
    assert(raw == Seq(5.0, 1.0))
    // clamped at 2: the head bigram contributes at most 2
    val clamped = Text.bigramFluency(docs, ref, maxRefCount = 2L)
      .orderBy("doc_id").select("fluency").as[Double].collect().toSeq
    assert(clamped == Seq(2.0, 1.0))
  }

  test("redact scrubs emails, urls, and digit runs in order") {
    val df = Seq("mail a.b+c@ex-site.org now, docs at https://ex.org/p?q=1 code 1234567 ok 123")
      .toDF("text")
    val got = df.select(Text.redact(col("text"))).collect()(0).getString(0)
    assert(got == "mail <EMAIL> now, docs at <URL> code <NUM> ok 123")
  }

  test("wordRepetitionRatio flags degenerate repetition") {
    val df = Seq("a b c d", "spam spam spam spam", "").toDF("text")
    val got = df.select(Text.wordRepetitionRatio(col("text"))).collect()
      .map(_.getDouble(0))
    assert(got(0) == 0.0 && got(1) == 0.75 && got(2) == 0.0)
  }

  test("sorted_intersect equals set-intersection size") {
    val df = Seq((Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 5L, 10L))).toDF("a", "b")
    assert(df.select(native.sorted_intersect(col("a"), col("b"))).collect()(0).getInt(0) == 2)
    val empty = Seq((Seq.empty[Long], Seq(1L))).toDF("a", "b")
    assert(empty.select(native.sorted_intersect(col("a"), col("b"))).collect()(0).getInt(0) == 0)
  }

  test("langId picks dominant marker language, und when none") {
    val df = Seq("der hund und die katze ist nicht hier",
      "the cat and the dog is here with it",
      "xyzzy qwerty").toDF("text")
    val got = df.select(Text.langId(col("text")).as("l")).as[String].collect()
    assert(got.toSeq == Seq("de", "en", "und"))
  }

  test("quality score in [0,1] and empty docs score low") {
    val df = Seq("", "the cat sat on the mat and then the dog came in with a ball").toDF("text")
    val got = df.select(Text.qualityScore(col("text")).as("q")).as[Double].collect()
    assert(got.forall(q => q >= 0.0 && q <= 1.0))
    assert(got(0) < got(1))
  }

  test("repetitionStats: dup fractions, deterministic top bigram, edge docs") {
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "spam spam spam spam spam spam"),
      (3L, "x"),
      (4L, "")).toDF("doc_id", "text")
    val got = Text.repetitionStats(docs).orderBy("doc_id")
      .as[(Long, Long, Double, String, Long, Double, Double)].collect().toSeq
    // doc 1: 6 words, 2 distinct; bigrams "a b"(3) beats "b a"(2);
    // 3 occurrences * 3 chars / 11 chars; both 5-grams distinct
    assert(got(0) == (1L, 6L, 0.666667, "a b", 3L, 0.818182, 0.0))
    // doc 2: one distinct word; "spam spam" x5; 2 identical 5-grams
    assert(got(1)._3 == 0.833333 && got(1)._4 == "spam spam" &&
      got(1)._5 == 5L && got(1)._7 == 0.5)
    // single word / empty: no bigrams, zero fractions
    assert(got(2) == (3L, 1L, 0.0, "", 0L, 0.0, 0.0))
    assert(got(3) == (4L, 0L, 0.0, "", 0L, 0.0, 0.0))
  }

  test("canonicalizeUrl: case, ports, tracking params, fragments, root path") {
    val df = Seq(
      "HTTP://Example.COM:80/Path/Sub?b=2&utm_source=x#frag",
      "https://Site.com/?utm_campaign=a",
      "https://a.com/p?utm_x=1&q=2",
      "https://a.com:8080/q",
      "hello world").toDF("u")
    val got = df.select(Text.canonicalizeUrl(col("u"))).as[String].collect().toSeq
    assert(got == Seq(
      "http://example.com/Path/Sub?b=2", // case + port + tracking + fragment
      "https://site.com",                // bare root path dropped
      "https://a.com/p?q=2",             // leading tracker, real param kept
      "https://a.com:8080/q",            // non-default port survives
      "hello world"))                    // non-URL passes through
  }

  test("urlHost extracts lowercased host, strips default ports") {
    val df = Seq("HTTPS://WWW.Ex.COM:443/x?y#z", "ftp://h:80/f", "plain").toDF("u")
    val got = df.select(Text.urlHost(col("u"))).as[String].collect().toSeq
    assert(got == Seq("www.ex.com", "h", ""))
  }

  test("removeBoilerplate drops cross-doc repeated lines, keeps order, empties covered docs") {
    val docs = Seq(
      (1L, "cookie\nalpha\nbeta"),
      (2L, "gamma\ncookie\ndelta"),
      (3L, "cookie\ncookie"), // becomes empty, must still be emitted
      (4L, "epsilon")
    ).toDF("doc_id", "text")
    val got = Text.removeBoilerplate(docs, minDocs = 3)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    // "cookie" appears in 3 distinct docs → removed everywhere
    assert(got == Seq((1L, "alpha\nbeta"), (2L, "gamma\ndelta"),
      (3L, ""), (4L, "epsilon")))
  }

  test("bm25: hand-computed scores and ranking on a 3-doc corpus") {
    // tokens: a=3, b=4, c=2 → query terms are b and a (both df=2)
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "b b b c"))
      .toDF("doc_id", "text")
    val got = Text.bm25(docs, topk = 3).as[(Long, Double)].collect().toSeq
    // N=3, avgdl=3, idf = ln(1 + 1.5/2.5) for both terms
    val idf = math.log(1.6)
    def s(tf: Double, dl: Double, terms: Seq[Double]): Double =
      terms.map(t => idf * (t * 2.2) /
        (t + 1.2 * (0.25 + 0.75 * (dl / 3.0)))).sum
    val exp1 = s(0, 3, Seq(2.0, 1.0)) // d1: tf(a)=2, tf(b)=1
    val exp3 = idf * (3 * 2.2) / (3 + 1.2 * (0.25 + 0.75 * (4.0 / 3)))
    val exp2 = idf * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * (2.0 / 3)))
    assert(got.map(_._1) == Seq(1L, 3L, 2L)) // ranking d1 > d3 > d2
    val exps = Seq(exp1, exp3, exp2)
    got.zip(exps).foreach { case ((_, g), e) =>
      assert(math.abs(g - e) < 1e-6, s"got=$g exp=$e")
    }
  }

  test("bm25: multi-space tokenization and nTerms guard") {
    val docs = Seq((1L, "x  x   y"), (2L, "y z")).toDF("doc_id", "text")
    val got = Text.bm25(docs, topk = 2).collect()
    assert(got.length == 2) // runs of spaces don't create empty terms
    intercept[IllegalArgumentException] { Text.bm25(docs, nTerms = 3) }
  }

  test("pmi: hand-computed collocation score, minCount drops the tail") {
    // "a b" x3, "b c" x1 over docs; unigrams a=3 b=4 c=1, T=8, B=4
    val docs = Seq((1L, "a b c"), (2L, "a b"), (3L, "a b"), (4L, "b")).toDF("doc_id", "text")
    val got = Text.pmiCollocations(docs, minCount = 3, topk = 10)
      .select("w1", "w2", "c_xy", "pmi")
      .as[(String, String, Long, Double)].collect().toSeq
    // only (a,b) with c_xy=3 survives minCount=3
    assert(got.map(t => (t._1, t._2, t._3)) == Seq(("a", "b", 3L)))
    val exp = math.log((3.0 * 8 * 8) / (4.0 * 3 * 4))
    assert(math.abs(got.head._4 - exp) < 1e-6)
  }

  test("pmi: single-token and empty docs contribute unigrams, no bigrams") {
    val docs = Seq((1L, "q"), (2L, ""), (3L, "q w"), (4L, "q w"))
      .toDF("doc_id", "text")
    val got = Text.pmiCollocations(docs, minCount = 2, topk = 10)
      .select("w1", "w2", "c_xy").as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("q", "w", 2L)))
  }

  test("kneserNeyBigrams: hand-computed smoothed probabilities") {
    // bigrams: (a,b)x2 (b,a)x2 (a,c) (d,b) (b,d) (d,c) -> B=6 types
    // ctx a: c=3 follow=2; prec b: 2 contexts (a,d), prec c: 2 (a,d)
    val docs = Seq((1L, "a b a b a c"), (2L, "d b d c")).toDF("doc_id", "text")
    val got = Text.kneserNeyBigrams(docs, discount = 0.75, minCount = 1)
      .select("w1", "w2", "c12", "c_ctx", "n_follow", "n_prec", "p_kn")
      .as[(String, String, Long, Long, Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t).toMap
    assert(got.size == 6)
    val ab = got(("a", "b"))
    assert((ab._3, ab._4, ab._5, ab._6) == (2L, 3L, 2L, 2L))
    // P(b|a) = (2-.75)/3 + (.75*2/3)*(2/6) = 0.583333
    assert(math.abs(ab._7 - 0.583333) < 1e-9)
    // P(c|a): discounted mass 0.25/3 + same continuation = 0.25
    assert(math.abs(got(("a", "c"))._7 - 0.25) < 1e-9)
    // "a" follows only "b": continuation type-count 1 despite c12=2
    assert(got(("b", "a"))._6 == 1L)
    // per-context probabilities over OBSERVED followers stay under 1
    // (the remaining mass backs off to unseen words)
    val byCtx = got.values.groupBy(_._1).view.mapValues(_.map(_._7).sum)
    byCtx.foreach { case (_, s) => assert(s > 0 && s <= 1.0 + 1e-9) }
    // minCount filters output rows only, denominators unchanged
    val head = Text.kneserNeyBigrams(docs, minCount = 2)
      .select("w1", "w2", "c_ctx").as[(String, String, Long)].collect()
    assert(head.toSet == Set(("a", "b", 3L), ("b", "a", 3L)))
  }

  test("kneserNeyTrigrams: hand-computed nested interpolation") {
    // trigram types: (a,b,c)x2 (b,c,a)x2 (c,a,b)x2 (a,b,d)x1 -> b23=4
    val docs = Seq((1L, "a b c a b c a b d")).toDF("doc_id", "text")
    val got = Text.kneserNeyTrigrams(docs, discount = 0.75, minCount = 1)
      .select("w1", "w2", "w3", "c123", "c12", "nf12", "cont23", "cont2",
        "nf2", "cont3", "p_kn", "b23")
      .as[(String, String, String, Long, Long, Long, Long, Long, Long,
        Long, Double, Long)].collect()
      .map(t => (t._1, t._2, t._3) -> t).toMap
    assert(got.size == 4)
    val abc = got(("a", "b", "c"))
    assert((abc._4, abc._5, abc._6, abc._7, abc._8, abc._9, abc._10, abc._12)
      == (2L, 3L, 2L, 1L, 2L, 2L, 1L, 4L))
    // P2(c|b) = 0.25/2 + (0.75*2/2)*(1/4) = 0.3125
    // P(c|a,b) = 1.25/3 + (0.75*2/3)*0.3125 = 0.572917
    assert(math.abs(abc._11 - 0.572917) < 1e-9)
    assert(math.abs(got(("a", "b", "d"))._11 - 0.239583) < 1e-9)
    // observed-follower mass stays under 1; the rest backs off
    assert(abc._11 + got(("a", "b", "d"))._11 < 1.0)
  }

  private def r6(x: Double) =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  /** Perplexity of a one-n-gram document scored at probability `p`:
    * the log-prob and the result each rounded to 6 decimals. */
  private def ppl1(p: Double) = r6(math.exp(-r6(math.log(p))))

  private def trigramPpl(ref: DataFrame, docs: DataFrame,
      minCount: Long): Map[Long, (Long, Option[Double])] = {
    val tp = Text.kneserNeyTrigramsParts(ref, minCount = minCount)
    Text.knTrigramPerplexity(docs, tp.head, tp.ctx12, tp.mid, tp.ctx2,
        tp.c3, tp.consts)
      .select("doc_id", "n_trigrams", "perplexity")
      .as[(Long, Long, Option[Double])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
  }

  private def bigramPpl(ref: DataFrame, docs: DataFrame,
      minCount: Long): Map[Long, (Long, Option[Double])] = {
    val bp = Text.kneserNeyBigramsParts(ref, minCount = minCount)
    Text.knPerplexity(docs, bp.head, bp.ctx, bp.prec, bp.consts)
      .select("doc_id", "n_bigrams", "perplexity")
      .as[(Long, Long, Option[Double])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
  }

  test("knTrigramPerplexity: every branch of the backoff chain") {
    val ref = Seq((10L, "a b c a b c a b d")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b c"), // seen triple -> model p_kn = 0.572917
      (2L, "c b c"), // unseen ctx (c,b) -> P2(c|b) = 0.3125
      (3L, "a b a"), // seen ctx, unseen (b,a) mid -> 0.5*lam2*pc = 0.09375
      (4L, "x y z"), // nothing known -> OOV floor
      (5L, "hi"))    // sub-trigram -> n=0, NULL
      .toDF("doc_id", "text")
    val got = trigramPpl(ref, docs, minCount = 1)
    assert(got(1L) == ((1L, Some(ppl1(0.572917)))))
    assert(got(2L) == ((1L, Some(ppl1(0.3125)))))
    assert(got(3L) == ((1L, Some(ppl1(0.09375)))))
    assert(got(4L) == ((1L, Some(ppl1(1e-7)))))
    assert(got(5L) == ((0L, None)))
    // minCount=2 drops (a,b,d): its mid pair (b,d) and successor d are
    // tail-only, so they leave the backoff tables too -> p2 = 0 -> floor
    // (with the full tables: 0.5*(0.25/2 + 0.75*(1/4)) = 0.15625); the
    // kept triple's probability keeps its pre-filter denominators
    val filt = trigramPpl(ref,
      Seq((6L, "a b d"), (7L, "a b c")).toDF("doc_id", "text"), minCount = 2)
    assert(filt == Map(6L -> (1L, Some(ppl1(1e-7))),
      7L -> (1L, Some(ppl1(0.572917)))))
  }

  test("knPerplexity: seen / context-backoff / OOV-floor paths") {
    // ref bigrams: (a,b)x2, (b,a)x1 -> B=2; p(b|a)=0.8125, p(a|b)=0.625
    val ref = Seq((10L, "a b a b")).toDF("doc_id", "text")
    // scored doc: (a,b) seen; (b,z) seen ctx, unseen successor -> backoff
    // mass 0 -> floor; (z,q) and (q,a) unseen ctx -> floor
    val docs = Seq((1L, "a b z q a")).toDF("doc_id", "text")
    val got = bigramPpl(ref, docs, minCount = 1)(1L)
    assert(got._1 == 4L)
    val lpSum = r6(math.log(0.8125)) + 3 * r6(math.log(1e-7))
    assert(math.abs(got._2.get - r6(math.exp(-lpSum / 4))) < 1e-6)
    // self-scoring the training corpus: all bigrams seen, low perplexity
    val self = bigramPpl(ref, ref, minCount = 1)(10L)
    assert(self._1 == 3L)
    val selfSum = 2 * r6(math.log(0.8125)) + r6(math.log(0.625))
    assert(math.abs(self._2.get - r6(math.exp(-selfSum / 3))) < 1e-6)
    assert(self._2.get < got._2.get) // the filter signal: unseen text scores worse
    // non-zero context backoff: (b,b) unseen, ctx b (c=1, 1 follower),
    // successor b has 1 predecessor type -> 0.75 * 1/1 * 1/2 = 0.375
    val bb = bigramPpl(ref, Seq((2L, "b b")).toDF("doc_id", "text"), 1)
    assert(bb == Map(2L -> (1L, Some(ppl1(0.375)))))
    // sub-bigram docs are emitted explicitly: n_bigrams=0, NULL perplexity
    val shorts = Seq((7L, "solo"), (8L, "")).toDF("doc_id", "text")
    assert(bigramPpl(ref, shorts, minCount = 1) ==
      Map(7L -> (0L, None), 8L -> (0L, None)))
    // a minCount-FILTERED model stays conservative: b_types/discount are
    // the true pre-filter values, and contexts/successors only the
    // dropped tail carries leave the backoff tables, so their pairs fall
    // to the floor instead of borrowing mass (full tables would give
    // (b,a) and (b,b) 0.375, (a,a) 0.75 * 1/2 * 1/2 = 0.1875)
    val filt = Text.kneserNeyBigrams(ref, minCount = 2)
    assert(filt.select("b_types").as[Long].collect().forall(_ == 2L))
    val fdocs = Seq((9L, "b a"), (11L, "b b"), (12L, "a a"), (13L, "a b"))
      .toDF("doc_id", "text")
    val floor = (1L, Some(ppl1(1e-7)))
    assert(bigramPpl(ref, fdocs, minCount = 2) == Map(9L -> floor,
      11L -> floor, 12L -> floor, 13L -> (1L, Some(ppl1(0.8125)))))
  }

  test("linearScore: hand-computed hashed-bag-of-words score") {
    // replicate the kernel's arithmetic in plain Scala
    def fnv(tok: String): Long = {
      var h = 0xcbf29ce484222325L
      tok.getBytes("UTF-8").foreach(b => h = (h ^ (b & 0xffL)) * 0x100000001b3L)
      h
    }
    def w(tok: String): Long =
      ((fnv(tok) & 255L) * 2654435761L + 12345L) % 2001L - 1000L
    val text = "the quick brown fox"
    val exp = text.split(" ").map(w).sum.toDouble / (1000.0 * 4)
    val got = Seq(text).toDF("text")
      .select(Text.linearScore(col("text"))).as[Double].head()
    assert(java.lang.Double.doubleToLongBits(got) ==
      java.lang.Double.doubleToLongBits(exp))
  }

  test("linearScore: empty and whitespace-only text scores 0.0") {
    val got = Seq("", "  \n\t ").toDF("text")
      .select(Text.linearScore(col("text"))).as[Double].collect().toSeq
    assert(got == Seq(0.0, 0.0))
    intercept[IllegalArgumentException] {
      Text.linearScore(col("text"), buckets = 100)
    }
  }

  test("linearScore: score is mean-normalized (repetition-invariant)") {
    val one = Seq("alpha beta").toDF("text")
      .select(Text.linearScore(col("text"))).as[Double].head()
    val four = Seq("alpha beta alpha beta alpha beta alpha beta")
      .toDF("text")
      .select(Text.linearScore(col("text"))).as[Double].head()
    assert(math.abs(one - four) < 1e-12)
  }

  test("phraseSearch: token-exact positional match, all occurrences, no substring hits") {
    val docs = Seq(
      (1L, "x table part a y table part a"),   // two occurrences
      (2L, "table part about"),                 // 'about' != 'a': no hit
      (3L, "table part"),                       // truncated: no hit
      (4L, "parts table part a")                // one hit at pos 1
    ).toDF("doc_id", "text")
    val got = Text.phraseSearch(docs, Seq("table", "part", "a"))
      .orderBy("doc_id", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (1L, 5L), (4L, 1L)))
  }

  test("bpeTrainMerges: argmax pair, deterministic ties, non-overlapping merge") {
    // corpus: "low" x3, "lower" x2, "aaa" x1
    val docs = Seq("low low low lower lower aaa").toDF("text")
    val m = Text.bpeTrainMerges(docs, k = 3).orderBy("merge_rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    // round 1 pair counts: (l,o)=5 (w,e... ) (o,w)=5 (w,e)=2 (e,r)=2 (a,a)=2
    // tie (l,o) vs (o,w) at 5 -> lexicographic: (l,o)
    assert(m(0) == ((1, "l", "o", "lo", 5L)))
    // round 2: (lo,w)=5 wins
    assert(m(1) == ((2, "lo", "w", "low", 5L)))
    // round 3: (low,er)? counts: (low,e... ) words now [low]x3 [low e r]x2
    // [a a a]: pairs (low,e)=2 (e,r)=2 (a,a)=2 -> lexicographic min (a,a)
    assert(m(2) == ((3, "a", "a", "aa", 2L)))
    // non-overlap check rides in round 3's count: "aaa" counted (a,a)=2
    // adjacent indices, and merging (a,a) on " a a a " must give " aa a "
    val after = Text.bpeTrainMerges(Seq("aaa aaa").toDF("text"), k = 1)
    val r1 = after.collect().head
    assert((r1.getString(1), r1.getString(2)) == (("a", "a")))
  }

  test("bpeEncode: symbol counts under the trained merges, zeros for wordless docs") {
    // same corpus as the trainer test; with k=2 the merges are
    // (l,o) then (lo,w): "low" -> [low] (1), "lower" -> [low,e,r] (3),
    // "aaa" -> [a,a,a] (3)
    val docs = Seq(
      (0L, "low low low lower lower aaa"),
      (1L, "low"),
      (2L, " ")).toDF("doc_id", "text")
    val got = Text.bpeEncode(docs, k = 2).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 0: 3*1 + 2*3 + 3 = 12 symbols over 6 words
    assert(got == Seq((0L, 12L, 6L), (1L, 1L, 1L), (2L, 0L, 0L)))
  }

  /** Sequential replace-chain reference for the BPE kernel tests: the
    * trainer's exact semantics — one left-to-right non-overlapping
    * literal replace per merge, in rank order (Java String.replace ==
    * SQL replace). */
  private def bpeChainCount(word: String, merges: Seq[(String, String)]): Int = {
    val sb = new java.lang.StringBuilder(" ")
    var i = 0
    while (i < word.length) {
      val cc = Character.charCount(word.codePointAt(i))
      sb.append(word, i, i + cc).append(' '); i += cc
    }
    var s = sb.toString // " a b c "
    merges.foreach { case (l, r) => s = s.replace(s" $l $r ", s" $l$r ") }
    s.trim.split(" ").length
  }

  test("KN stored-model scoring equals in-memory scoring (bigram + trigram)") {
    // the train-once/score-many contract: a parquet round-trip of the
    // self-describing model and its backoff tables must not change a
    // single score
    val train = Seq(
      (1L, "the cat sat on the mat"), (2L, "the dog sat on the rug"),
      (3L, "a cat and a dog sat"), (4L, "the cat and the dog"),
      (5L, "on the mat sat a cat")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "the cat sat"), (11L, "a dog on the mat"),
      (12L, "unseen words entirely"), (13L, "x")).toDF("doc_id", "text")
    val dir = SparkFixture.tempDir("graft_knstore")
    def stored(name: String, df: DataFrame): DataFrame = {
      df.write.mode("overwrite").parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    try {
      val bp = Text.kneserNeyBigramsParts(train, minCount = 1)
      val memB = Text.knPerplexity(score, bp.head, bp.ctx, bp.prec, bp.consts)
        .orderBy("doc_id").collect().toSeq
      val stoB = Text.knPerplexity(score,
          stored("bg", bp.model).select("w1", "w2", "c12"),
          stored("bg_ctx", bp.ctx), stored("bg_prec", bp.prec),
          stored("bg_consts", bp.consts))
        .orderBy("doc_id").collect().toSeq
      assert(memB == stoB)
      val tp = Text.kneserNeyTrigramsParts(train, minCount = 1)
      val memT = Text.knTrigramPerplexity(score, tp.head, tp.ctx12, tp.mid,
          tp.ctx2, tp.c3, tp.consts)
        .orderBy("doc_id").collect().toSeq
      val stoT = Text.knTrigramPerplexity(score,
          stored("tg", tp.model).select("w1", "w2", "w3", "c123"),
          stored("tg_ctx12", tp.ctx12), stored("tg_mid", tp.mid),
          stored("tg_ctx2", tp.ctx2), stored("tg_c3", tp.c3),
          stored("tg_consts", tp.consts))
        .orderBy("doc_id").collect().toSeq
      assert(memT == stoT)
      assert(memB.nonEmpty && memT.nonEmpty)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("bpeTrainMerges batched rounds equal one-merge-per-round training (k=60)") {
    // independent oracle: a plain-Scala SEQUENTIAL trainer — argmax over
    // a full recount (cnt DESC, l ASC, r ASC), one merge at a time. The
    // engine's batched prefix acceptance must reproduce its merge table
    // bit-for-bit (the provably-non-interacting claim).
    def seqTrain(words: Seq[(String, Long)], k: Int): Seq[(Int, String, String, Long)] = {
      var vocab = words.map { case (w, f) =>
        (" " + w.toCharArray.map(c => s"$c ").mkString, f)
      }
      val out = scala.collection.mutable.Buffer.empty[(Int, String, String, Long)]
      var rank = 1
      while (rank <= k) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
          .withDefaultValue(0L)
        vocab.foreach { case (s, f) =>
          val t = s.trim.split(" ")
          var i = 0
          while (i < t.length - 1) { counts((t(i), t(i + 1))) += f; i += 1 }
        }
        if (counts.isEmpty) rank = k + 1
        else {
          val ((l, r), cnt) = counts.toSeq
            .sortBy { case ((l, r), c) => (-c, l, r) }.head
          out += ((rank, l, r, cnt))
          vocab = vocab.map { case (s, f) =>
            (s.replace(s" $l $r ", s" $l$r "), f)
          }
          rank += 1
        }
      }
      out.toSeq
    }
    // seeded corpus over a 6-letter alphabet: enough distinct counts for
    // real batching, enough collisions for ties and interacting prefixes
    val rnd = new scala.util.Random(20260816L)
    val docs = (1 to 120).map { i =>
      val words = (1 to (3 + rnd.nextInt(8))).map { _ =>
        val n = 1 + rnd.nextInt(8)
        (1 to n).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
      }
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val wordFreqs = docs.select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(col("w") =!= "").groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val expected = seqTrain(wordFreqs, 60)
    val got = Text.bpeTrainMerges(docs, k = 60).orderBy("merge_rank")
      .select("merge_rank", "lhs", "rhs", "freq")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got == expected)

    // adversarial corpus: a 2-letter alphabet with short words makes
    // merged-token STRING COLLISIONS routine ("a"+"ab" and "aa"+"b"
    // both produce "aab"; later merges recreate standing symbols) — the
    // case where a standing pair GAINS count from a merge and rule (d)
    // must stop the batch for exactness (the self-review finding)
    val rnd2 = new scala.util.Random(77L)
    val docs2 = (1 to 150).map { i =>
      val words = (1 to (4 + rnd2.nextInt(6))).map { _ =>
        val n = 1 + rnd2.nextInt(6)
        (1 to n).map(_ => ('a' + rnd2.nextInt(2)).toChar).mkString
      }
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val wordFreqs2 = docs2.select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(col("w") =!= "").groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val expected2 = seqTrain(wordFreqs2, 40)
    val got2 = Text.bpeTrainMerges(docs2, k = 40).orderBy("merge_rank")
      .select("merge_rank", "lhs", "rhs", "freq")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got2 == expected2)

    // deep-run corpus: long single-letter runs force merge CHAINS
    // (a,a)->(aa,a?)->... whose outputs are substrings/superstrings of
    // each other, so the rule-(d) alphabet holds many multi-char tokens
    // that candidate outputs are actually compared against (the ADVICE
    // r10 fix: symbols gains each applied merge). Cross-round collisions
    // are structurally unreachable (trainer scaladoc), so equality with
    // the sequential oracle must still hold bit-for-bit here.
    val rnd3 = new scala.util.Random(4242L)
    val docs3 = (1 to 100).map { i =>
      val words = (1 to (3 + rnd3.nextInt(5))).map { _ =>
        val run = 2 + rnd3.nextInt(9) // runs up to 10 chars
        val c = ('a' + rnd3.nextInt(2)).toChar
        val tail = (1 to rnd3.nextInt(3))
          .map(_ => ('a' + rnd3.nextInt(3)).toChar).mkString
        c.toString * run + tail
      }
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val wordFreqs3 = docs3.select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(col("w") =!= "").groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val expected3 = seqTrain(wordFreqs3, 50)
    val got3 = Text.bpeTrainMerges(docs3, k = 50).orderBy("merge_rank")
      .select("merge_rank", "lhs", "rhs", "freq")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got3 == expected3)
  }

  test("BpeKernel: floor-cursor order matches the replace CHAIN, not pure greedy") {
    // A late merge creates a symbol colliding with an earlier merge's
    // component: rank 3 ("a","bc") produces "abc", and rank 2 ("abc","d")
    // has already passed. Pure greedy (no cursor) would re-fire rank 2
    // and collapse "abcd" to one symbol; the sequential chain leaves two.
    val merges = Seq(("b", "c"), ("abc", "d"), ("a", "bc"))
    assert(bpeChainCount("abcd", merges) == 2) // the contract semantics
    val idx = graft.functions.BpeKernel.prepare(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        merges.map { case (l, r) => UTF8String.fromString(s"$l $r") }.toArray))
    assert(graft.functions.BpeKernel.count(UTF8String.fromString("abcd"), idx) == 2)
    // non-overlapping left-to-right within one pass: "aaa" -> [aa, a]
    val idx2 = graft.functions.BpeKernel.prepare(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(UTF8String.fromString("a a"))))
    assert(graft.functions.BpeKernel.count(UTF8String.fromString("aaa"), idx2) == 2)
    // code-point (not UTF-16 unit) symbol split, like the trainer's regex
    assert(graft.functions.BpeKernel.count(
      UTF8String.fromString("😀a"), idx2) == 2)
  }

  test("BpeKernel: equals the replace chain at k=1000 (codegen path, no tree-depth bound)") {
    // trainer-like merge list: grow a symbol pool by concatenating random
    // members, 1000 merges deep — the scale at which the former k-chained
    // replace fold was an expression-tree/codegen bound
    val rnd = new scala.util.Random(20260815L)
    val pool = scala.collection.mutable.ArrayBuffer("a", "b", "c", "d", "e", "f")
    val merges = (1 to 1000).map { _ =>
      val l = pool(rnd.nextInt(pool.length)); val r = pool(rnd.nextInt(pool.length))
      if (l.length + r.length <= 8) pool += (l + r)
      (l, r)
    }
    val words = (1 to 200).map { i =>
      val n = 1 + rnd.nextInt(24)
      (i.toLong, (1 to n).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString)
    }
    val expected = words.map { case (id, w) => (id, bpeChainCount(w, merges)) }
    val mergeTable = typedLit(merges.map { case (l, r) => s"$l $r" })
    val got = words.toDF("id", "w")
      .select(col("id"), native.bpe_symbol_count(col("w"), mergeTable).as("n"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == expected)
  }

  test("HtmlKernel: elements, tags, entities, whitespace — staged order") {
    def x(s: String): String =
      graft.functions.HtmlKernel.extractText(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString
    // script/style elements drop wholesale (case-insensitive, dot-all)
    assert(x("a<SCRIPT x=1>var y\n= 2;</script>b") == "a b")
    assert(x("a<style>p { c: 1 < 2 }</STYLE>b") == "a b")
    // unclosed script: element regex can't match -> only the TAG drops,
    // the content survives as text (no silent data loss)
    assert(x("a<script>tail") == "a tail")
    // entity decode order: &amp; LAST, so &amp;lt; single-decodes
    assert(x("&amp;lt; &lt;b&gt; &quot;q&quot; &#39;s&#39;&nbsp;.") ==
      "&lt; <b> \"q\" 's' .")
    // tags with attributes, whitespace collapse + trim
    assert(x("  <p class=\"m\">one\n\ttwo</p>  ") == "one two")
    // naive-stripper semantics (identical in kernel and twin): a bare
    // '<'..'>' span IS consumed as a tag; a '<' that never closes is not
    assert(x("1 < 2 and 3 > 2") == "1 2")
    assert(x("1 < 2 always") == "1 < 2 always")
  }

  test("topTerms: tf dominates, rarity breaks tf ties, term breaks df ties") {
    val docs = Seq(
      (1L, "x x x common rare"),   // tf: x=3 wins; common vs rare tie at
                                   // tf=1 -> rarer (df) first
      (2L, "common common zz"),
      (3L, "common zz"))
      .toDF("doc_id", "text")
    val got = graft.functions.Text.topTerms(docs, k = 2)
      .orderBy("doc_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(4))).toSeq
    // doc 1: x (tf 3), then rare (df 1) beats common (df 3)
    // doc 2: common (tf 2), then zz
    // doc 3: tf tie at 1 -> zz (df 2) beats common (df 3)
    assert(got == Seq((1L, "x", 1L), (1L, "rare", 2L),
      (2L, "common", 1L), (2L, "zz", 2L),
      (3L, "zz", 1L), (3L, "common", 2L)))
  }

  test("noveltyRate gram-hash path matches the kernel's tokenizer") {
    // multi-whitespace tokenization: tabs/newlines split like spaces
    val docs = Seq((1L, "a\tb\nc"), (2L, "a b c d")).toDF("doc_id", "text")
    val got = graft.functions.Text.noveltyRate(docs, n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 1 owns gram abc; doc 2 repeats abc (seen), adds bcd (novel)
    assert(got == Seq((1L, 1L, 1L), (2L, 2L, 1L)))
  }

  test("spanCorrupt: masks, sentinels and targets match a Scala replay") {
    // the width-safe Knuth hash, replayed independently
    def h32(x: Long): Long = {
      val a = x % 4294967296L
      val lo = (a % 65536L) * 2654435761L
      val hi = (((a >> 16) * 2654435761L) % 65536L) << 16
      (lo + hi) % 4294967296L
    }
    val text = (0 until 30).map(i => s"w$i").mkString(" ")
    val docs = Seq((5L, text), (9L, "a b c")).toDF("doc_id", "text")
    val got = Text.spanCorrupt(docs, maskEveryK = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toMap
    for ((id, toks) <- Seq(5L -> (0 until 30).map(i => s"w$i"),
        9L -> Seq("a", "b", "c"))) {
      val masked = toks.indices.map(p => h32(id * 131 + p) % 3 == 0)
      val mt = new StringBuilder; val tt = new StringBuilder
      var sid = 0; var inRun = false
      for (p <- toks.indices) {
        if (masked(p)) {
          if (!inRun) {
            if (mt.nonEmpty) mt.append(' ')
            mt.append(s"<extra_id_$sid>")
            if (tt.nonEmpty) tt.append(' ')
            tt.append(s"<extra_id_$sid>")
            sid += 1; inRun = true
          }
          tt.append(' ').append(toks(p))
        } else {
          if (mt.nonEmpty) mt.append(' ')
          mt.append(toks(p)); inRun = false
        }
      }
      val (gmt, gtt, nMasked, nSpans) = got(id)
      assert(gmt == mt.toString, s"masked_text id=$id")
      assert(gtt == tt.toString, s"target_text id=$id")
      assert(nMasked == masked.count(identity).toLong, s"n_masked id=$id")
      assert(nSpans == sid.toLong, s"n_spans id=$id")
    }
  }

  test("fimTransform: PSM reassembly is lossless and matches the hash") {
    def h32(x: Long): Long = {
      val a = x % 4294967296L
      val lo = (a % 65536L) * 2654435761L
      val hi = (((a >> 16) * 2654435761L) % 65536L) << 16
      (lo + hi) % 4294967296L
    }
    val docs = (0L until 12L)
      .map(id => (id, (0 until 9).map(i => s"t${id}_$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Text.fimTransform(docs).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    for (id <- 0L until 12L) {
      val toks = (0 until 9).map(i => s"t${id}_$i")
      val (applied, out) = got(id)
      assert(applied == (h32(id * 17) % 2 == 0), s"coin id=$id")
      if (!applied) assert(out == toks.mkString(" "))
      else {
        val h1 = h32(id * 17 + 1) % 10
        val h2 = h32(id * 17 + 2) % 10
        val (c1, c2) = (math.min(h1, h2).toInt, math.max(h1, h2).toInt)
        val expect = s"<PRE> ${toks.take(c1).mkString(" ")} " +
          s"<SUF> ${toks.drop(c2).mkString(" ")} " +
          s"<MID> ${toks.slice(c1, c2).mkString(" ")}"
        assert(out == expect, s"psm id=$id c1=$c1 c2=$c2")
      }
    }
    // the deterministic coin actually splits the corpus
    assert(got.values.count(_._1) > 0 && got.values.count(!_._1) > 0)
  }

  test("blocklistStats: counts, flag, and FIRST hit in document order") {
    val docs = Seq(
      (1L, "fast clean table"), // no hits
      (2L, "a slow join with an error"), // two hits, 'slow' first
      (3L, "error error slow"), // repeated term counts each occurrence
      (4L, "slowly errors")) // substrings must NOT match whole tokens
      .toDF("doc_id", "text")
    val got = Text.blocklistStats(docs, Seq("slow", "error", "leak"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        Option(r.getString(3)))).toSeq
    assert(got == Seq(
      (1L, 0L, false, None),
      (2L, 2L, true, Some("slow")),
      (3L, 3L, true, Some("error")),
      (4L, 0L, false, None)))
  }
}
