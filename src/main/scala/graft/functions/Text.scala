package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, language ID, fingerprinting. All are pure
  * `org.apache.spark.sql.functions` compositions (codegen'd, no UDFs) except
  * the fingerprint, which is the native expression in expressions.scala.
  * The reference engine has no scalar/string function surface
  * (SURVEY.md §2.5) — this whole module is beyond-reference capability.
  *
  * Scale note: every function here is a narrow per-row map — no shuffle, no
  * state — so they compose freely with scans and stay in WholeStageCodegen;
  * at 100 TB they run at parquet-scan speed.
  */
object Text {

  /** Number of whitespace-delimited tokens (\S+ runs). */
  def tokenCount(text: Column): Column =
    regexp_count(text, lit("\\S+")).cast(LongType)

  /** A BPE-ish sub-word unit count: alphanumeric runs plus standalone
    * punctuation marks each count as one unit — an upper-bound proxy for
    * tokenizer token counts when the real tokenizer isn't on the cluster. */
  def subwordCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]")).cast(LongType)

  def charCount(text: Column): Column = length(text).cast(LongType)

  /** Ratio of punctuation characters to all characters (0 for empty). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]{}-]", "")).cast(DoubleType) /
        length(text).cast(DoubleType))

  /** Ratio of whitespace-delimited tokens that are English stopwords. */
  def stopwordRatio(text: Column): Column = {
    val stops = "(?i)\\b(the|a|an|of|and|or|to|in|is|are|was|were|be|on|for|with|as|at|by|it|this|that)\\b"
    when(tokenCount(text) === 0, 0.0).otherwise(
      regexp_count(text, lit(stops)).cast(DoubleType) /
        tokenCount(text).cast(DoubleType))
  }

  /** Mean token length in characters (0 for empty docs). */
  def meanTokenLen(text: Column): Column =
    when(tokenCount(text) === 0, 0.0).otherwise(
      length(regexp_replace(text, "\\s+", "")).cast(DoubleType) /
        tokenCount(text).cast(DoubleType))

  /** Composite document-quality score in [0,1]: rewards mid-length docs,
    * some stopword mass (fluent prose), and sane mean token length.
    * Heuristic weights follow common web-scale filtering recipes
    * (C4/Gopher-style length + symbol + stopword rules). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(charCount(text).cast(DoubleType) / 200.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    val tokLen = meanTokenLen(text)
    val tokScore = when(tokLen >= 3.0 && tokLen <= 10.0, 1.0).otherwise(0.5)
    val punctPenalty = when(punctRatio(text) > 0.2, 0.5).otherwise(1.0)
    round((lenScore * 0.4 + stopScore * 0.3 + tokScore * 0.3) * punctPenalty, 6)
  }

  /** Language-ID n-gram/stopword heuristic: per-language function-word hit
    * counts; highest count wins, ties break lexicographically, zero hits →
    * "und" (undetermined). Word lists are tiny on purpose — this is the
    * classic cheap pre-filter before a real classifier. */
  private val langMarkers: Seq[(String, String)] = Seq(
    "de" -> "(?i)\\b(der|die|das|und|ist|nicht|mit|ein|eine|zu|von)\\b",
    "en" -> "(?i)\\b(the|and|is|of|to|in|that|it|with|for)\\b",
    "es" -> "(?i)\\b(el|la|los|las|de|que|y|es|en|un|una|por)\\b",
    "fr" -> "(?i)\\b(le|la|les|de|et|est|que|dans|pour|une|des)\\b",
    "zh" -> "[\\u4e00-\\u9fff]")

  def langId(text: Column): Column = {
    // argmax via sorted array of (-hits, lang) structs: deterministic ties.
    val scored = array(langMarkers.map { case (code, re) =>
      struct((-regexp_count(text, lit(re))).as("neg"), lit(code).as("lang"))
    }: _*)
    val best = array_sort(scored).getItem(0)
    when(best.getField("neg") === 0, "und").otherwise(best.getField("lang"))
  }

  /** Order-sensitive 64-bit document fingerprint (native expression). */
  def fingerprint(text: Column): Column = native.rolling_fingerprint(text)

  /** Character n-gram shingles (distinct), for Jaccard/minhash pipelines.
    * Uses sequence+transform — array ops, no UDF. */
  def charShingles(text: Column, n: Int): Column = {
    val idx = sequence(lit(1), greatest(length(text) - (n - 1), lit(0)))
    array_distinct(transform(idx, i => text.substr(i, lit(n))))
  }

  /** Word n-gram shingles (distinct). Docs with fewer than n tokens yield
    * an empty array (sequence() would otherwise count DOWN from 0 and
    * produce bogus negative slice offsets). */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = split(text, "\\s+")
    val cnt = size(toks)
    val grams = transform(sequence(lit(0), cnt - n),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
    array_distinct(when(cnt >= n, grams).otherwise(array()))
  }

  /** Regex scrubbing of the noise/PII patterns corpus pipelines redact
    * before training: emails, URLs, then long digit runs — applied in that
    * order (an email must not first lose its digits). Patterns stay in the
    * regex subset Java and RE2 interpret identically. */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "https?://[^ \\t\\n]+", "<URL>"),
      "[0-9]{6,}", "<NUM>")

  /** C4-style banned-term screen (Raffel et al. 2020 dropped any page
    * containing a "List of Dirty, Naughty…" word): per doc the banned
    * token count, a flagged bit, and the FIRST banned token in document
    * order (the audit column a human reviewer asks for). Pure builtin
    * higher-order functions — `filter`/`array_contains` stay in codegen,
    * no UDF, no shuffle. The term list rides the plan as a literal
    * array, the right shape for curated lists (10²–10⁴ terms); a
    * crawl-scale list (millions of phrases) would instead tokenize-
    * explode and broadcast-join the term table. */
  def blocklistStats(docs: DataFrame, terms: Seq[String],
      textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "blocklistStats: empty term list")
    val banned = lit(terms.toArray)
    val hits = filter(split(col(textCol), " "),
      t => array_contains(banned, t))
    docs.select(col("doc_id"),
      size(hits).cast(LongType).as("n_banned"),
      (size(hits) > 0).as("flagged"),
      // guarded: ANSI element_at throws on an empty array
      when(size(hits) > 0, element_at(hits, 1)).as("first_banned"))
  }

  /** Fraction of repeated words: 1 - distinct/total tokens (0 for empty).
    * The classic C4/RefinedWeb-style repetition signal — high values mean
    * boilerplate or degenerate generation loops. */
  def wordRepetitionRatio(text: Column): Column = {
    val toks = filter(split(text, "\\s+"), t => t =!= "")
    when(size(toks) === 0, 0.0)
      .otherwise(lit(1.0) -
        size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
  }

  /** T5-style span corruption (Raffel et al. 2020, §3.1.4) — the
    * denoising-objective data prep: a deterministic ~1/maskEveryK of
    * token positions is masked (width-safe Knuth hash of (doc, pos), so
    * the selection replays on any engine), CONTIGUOUS masked runs
    * collapse to one numbered sentinel in the input, and the target is
    * the sentinel-delimited sequence of removed spans. Emits
    * (doc_id, masked_text, target_text, n_masked, n_spans).
    *
    * Shape: posexplode + two doc-partitioned windows (run islands via
    * pos − row_number, sentinel ids via dense_rank) + ordered
    * string reassembly — no global window, no UDF; every doc is
    * independent, so at 100 TB this runs at shuffle-by-doc_id speed and
    * the windows ride the per-doc partitioning. */
  def spanCorrupt(docs: DataFrame, maskEveryK: Int = 5,
      textCol: String = "text"): DataFrame = {
    require(maskEveryK >= 2, s"maskEveryK must be >= 2, got $maskEveryK")
    val w = org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
    val flagged = toks.withColumn("masked",
      pmod(Profile.hash32(col("doc_id") * 131 + col("pos")),
        lit(maskEveryK.toLong)) === 0L)
    val masked = flagged.filter(col("masked"))
      .withColumn("island",
        col("pos") - row_number().over(
          w.partitionBy("doc_id").orderBy("pos")))
    val byIsland = masked.withColumn("sid",
      dense_rank().over(w.partitionBy("doc_id").orderBy("island")) - 1)
    val sentinels = byIsland.groupBy("doc_id", "island", "sid")
      .agg(min("pos").as("pos"))
      .select(col("doc_id"), col("pos"), lit(1).as("prio"),
        concat(lit("<extra_id_"), col("sid"), lit(">")).as("part"))
    val keptParts = flagged.filter(!col("masked"))
      .select(col("doc_id"), col("pos"), lit(2).as("prio"),
        col("tok").as("part"))
    val removedParts = byIsland.select(col("doc_id"), col("pos"),
      lit(2).as("prio"), col("tok").as("part"))
    // ordered reassembly: a sentinel sits at its run's first position
    // and sorts BEFORE any token at the same pos (prio 1 < 2)
    def assemble(parts: DataFrame, name: String) = parts
      .groupBy("doc_id")
      .agg(array_join(transform(
        sort_array(collect_list(
          struct(col("pos"), col("prio"), col("part")))),
        x => x.getField("part")), " ").as(name))
    val counts = flagged.groupBy("doc_id")
      .agg(sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"))
    val spans = byIsland.groupBy("doc_id")
      .agg(countDistinct(col("island")).as("n_spans"))
    docs.select(col("doc_id"))
      .join(assemble(keptParts.unionByName(sentinels), "masked_text"),
        Seq("doc_id"), "left")
      .join(assemble(removedParts.unionByName(sentinels), "target_text"),
        Seq("doc_id"), "left")
      .join(counts, Seq("doc_id"), "left")
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("masked_text"), lit("")).as("masked_text"),
        coalesce(col("target_text"), lit("")).as("target_text"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
  }

  /** Fill-in-the-middle transformation (Bavarian et al. 2022) — the
    * code-model pretraining prep: for a deterministic half of the docs
    * (Knuth hash of doc_id), two hash-chosen token cut points split the
    * doc into prefix/middle/suffix, re-emitted in PSM order as
    * `<PRE> prefix <SUF> suffix <MID> middle`; the other half passes
    * through untouched. Cut points replay on any engine (width-safe
    * hash mod L+1, pair sorted), so the transform is an oracle-checkable
    * contract. Pure narrow expressions: split/slice/array_join —
    * parquet-scan speed, no shuffle. */
  def fimTransform(docs: DataFrame,
      textCol: String = "text"): DataFrame = {
    val toks = split(col(textCol), " ")
    val L = size(toks)
    val h1 = pmod(Profile.hash32(col("doc_id") * 17 + 1),
      (L + 1).cast(LongType))
    val h2 = pmod(Profile.hash32(col("doc_id") * 17 + 2),
      (L + 1).cast(LongType))
    val c1 = least(h1, h2).cast(IntegerType)
    val c2 = greatest(h1, h2).cast(IntegerType)
    val applied = pmod(Profile.hash32(col("doc_id") * 17), lit(2L)) === 0L
    // slice is 1-based; slice(toks, a+1, n) takes n elements from a
    val prefix = array_join(slice(toks, lit(1), c1), " ")
    val middle = array_join(slice(toks, c1 + 1, c2 - c1), " ")
    val suffix = array_join(slice(toks, c2 + 1, L - c2), " ")
    docs.select(col("doc_id"), applied.as("fim_applied"),
      when(applied, concat(lit("<PRE> "), prefix, lit(" <SUF> "), suffix,
          lit(" <MID> "), middle))
        .otherwise(col(textCol)).as("transformed"))
  }

  /** Log-free TF-IDF per (doc, term): tf = termCount/docTerms, idf =
    * nDocs/docFreq, score = tf*idf. Log-free on purpose — every factor is an
    * IEEE division/multiplication of exact integer counts, so the score is
    * bit-identical across engines (ln/log10 are not correctly-rounded and
    * differ between libm implementations). At scale: two hash aggregations
    * (both map-side combinable) + two shuffled joins on doc_id/term; the
    * one-row corpus count is broadcast. */
  def tfidf(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = docs
      .select(col("doc_id"),
        explode(split(lower(col(textCol)), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("n_term"))
    val docLen = tf.groupBy("doc_id").agg(sum(col("n_term")).as("n_doc_terms"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val nDocs = docLen.agg(count(lit(1)).as("n_docs"))
    tf.join(docLen, "doc_id").join(docFreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        ((col("n_term").cast("double") / col("n_doc_terms")) *
          (col("n_docs").cast("double") / col("doc_freq"))).as("tfidf"))
  }

  /** Supervised feature selection: chi-squared association between term
    * PRESENCE and a document class — the classic signal for picking
    * class-indicative vocabulary (quality-classifier features, domain
    * lexicons) that unsupervised tf-idf/PMI cannot give. Per (term,
    * class) contingency over document presence counts (A = class docs
    * containing the term, B/C/D the complements),
    * chi2 = n·(AD−BC)² / ((A+B)(C+D)(A+C)(B+D)), computed as one fixed
    * left-associated double expression over exact longs (the four-way
    * denominator product would overflow i64, so it divides stepwise) —
    * bit-identical in any engine replaying the same counts. Terms
    * appearing in every document or fewer than `minDf` are dropped
    * (degenerate contingency / unstable ranks).
    *
    * Scale shape: presence dedup + two grouped counts + a broadcast of
    * the |classes|-row and 1-row totals; the only data-sized movements
    * are the word explode and its distinct. Top-k per class via a window
    * PARTITIONED BY CLASS — bounded partitions, never a global window. */
  def chiSquaredTerms(docs: DataFrame, classCol: String = "source",
      textCol: String = "text", topk: Int = 3, minDf: Long = 5): DataFrame = {
    val words = docs
      .select(col(classCol).as("cls"), col("doc_id"),
        explode(split(lower(col(textCol)), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .select("cls", "doc_id", "term").distinct()
    val tc = words.groupBy("term", "cls").agg(count(lit(1)).as("a"))
    val termTot = tc.groupBy("term").agg(sum(col("a")).as("t_all"))
    val clsTot = docs.groupBy(col(classCol).as("cls"))
      .agg(count(lit(1)).as("c_all"))
    val nDocs = docs.agg(count(lit(1)).as("n"))
    // densify over vocab × classes (a LEFT join against the occurring
    // pairs, zero-filled): a term NEVER seen in class c with high
    // presence elsewhere is a strong negative feature — A=0 cells carry
    // exactly that signal and must score, not vanish. The dense frame is
    // |vocab|·|classes| rows — vocab-sized, orders below the corpus.
    val cells = termTot.filter(col("t_all") >= minDf)
      .crossJoin(broadcast(clsTot))
      .join(tc, Seq("term", "cls"), "left")
      .withColumn("a", coalesce(col("a"), lit(0L)))
      .crossJoin(broadcast(nDocs))
      .filter(col("t_all") < col("n"))
      .withColumn("b", col("t_all") - col("a"))
      .withColumn("c", col("c_all") - col("a"))
      .withColumn("d",
        col("n") - col("t_all") - col("c_all") + col("a"))
      .withColumn("adbc", col("a") * col("d") - col("b") * col("c"))
    val chi2 = col("n").cast("double") *
      col("adbc").cast("double") * col("adbc").cast("double") /
      (col("a") + col("b")).cast("double") /
      (col("c") + col("d")).cast("double") /
      (col("a") + col("c")).cast("double") /
      (col("b") + col("d")).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cls").orderBy(col("chi2").desc, col("term").asc)
    cells.withColumn("chi2", chi2)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topk)
      .select(col("cls").as(classCol), col("term"), col("a").as("n_docs"),
        col("chi2"), col("rn"))
  }

  /** Shannon entropy of the token distribution per class — the diversity
    * measure mixture design reads next to raw token counts (a low-entropy
    * source is repetitive boilerplate even when it is large). H = ln(N) −
    * (Σ c·ln c)/N over the per-class term counts; the float sum is the
    * classic order-dependence trap, so Σ c·ln(c) accumulates in ONE
    * left fold over terms in ascending binary order (repartition by
    * class + sortWithinPartitions — the same order-pinned fold as
    * Pooling.meanByGroup) and the oracle replays it with
    * `list_reduce(list(x ORDER BY term), +)`. ln on identical doubles is
    * engine-identical here (established by the PMI twin).
    *
    * Scale shape: the data-sized work is the word explode + one grouped
    * count (map-side combinable); the fold runs over the per-class VOCAB
    * (≪ corpus) with O(classes-per-partition) state. */
  def tokenEntropy(docs: DataFrame, classCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tc = docs.select(col(classCol).as("cls"),
        explode(split(lower(col(textCol)), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("cls", "term").agg(count(lit(1)).as("c"))
    tc.repartition(col("cls"))
      .sortWithinPartitions(col("cls"), col("term"))
      .as[(String, String, Long)]
      .mapPartitions { it =>
        // per-class (Σ c·ln c, token count, type count); LinkedHashMap
        // holds ≤ classes-per-partition entries — bounded, never
        // vocab-sized
        val acc = scala.collection.mutable.LinkedHashMap
          .empty[String, (Array[Double], Array[Long])]
        it.foreach { case (cls, _, c) =>
          val (s, nt) = acc.getOrElseUpdate(cls,
            (new Array[Double](1), new Array[Long](2)))
          s(0) += c.toDouble * math.log(c.toDouble)
          nt(0) += c; nt(1) += 1
        }
        acc.iterator.map { case (cls, (s, nt)) =>
          (cls, nt(1), nt(0),
            math.log(nt(0).toDouble) - s(0) / nt(0).toDouble)
        }
      }
      .toDF(classCol, "n_types", "n_tokens", "entropy")
  }

  /** Overlapping fixed-size character chunking — the RAG / context-window
    * preparation step: each document becomes (chunk_idx, start_char,
    * chunk_text) rows with `size` characters per chunk and `overlap`
    * characters shared between neighbors (stride = size - overlap). A
    * document shorter than one chunk yields one (possibly empty) chunk, so
    * no document silently disappears. Purely narrow (one generator
    * expression per row, no shuffle): chunking 100 TB runs at scan speed,
    * and downstream per-chunk ops (embedding, dedup, packing) see ordinary
    * rows. */
  def chunk(docs: DataFrame, size: Int, overlap: Int = 0,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val step = size - overlap
    docs.select(col(idCol),
        posexplode(expr(
          s"transform(sequence(0, greatest(CAST(floor((length($textCol) - 1) / $step) AS INT), 0))," +
            s" i -> substring($textCol, i * $step + 1, $size))"))
          .as(Seq("chunk_idx", "chunk_text")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        (col("chunk_idx") * step).cast("long").as("start_char"),
        col("chunk_text"))
  }

  /** Subword tokenization (WordPiece-style greedy inference) over whole
    * documents: each whitespace word is segmented longest-match-first
    * against `vocab` by the native GreedyTokenize kernel (unknown char →
    * "?"), pieces re-joined in order. Completes the tokenizer story next
    * to vocab building (q_vocab) and token counting (TextStats): build the
    * vocab, then APPLY it. Purely narrow — one projection, no shuffle, no
    * UDF; the vocab rides along as an array literal (broadcast-equivalent,
    * prepared once per executor by the kernel's cache). */
  def tokenizeSubwords(docs: DataFrame, vocab: Seq[String],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val vocabLit = typedlit(vocab)
    docs.select(col(idCol),
      array_join(
        transform(wsTokens(col(textCol)),
          w => graft.functions.native.tokenize_greedy(w, vocabLit)),
        " ").as("subwords"))
  }

  /** CCNet-style language-model fluency score, log-free: train word-bigram
    * counts on a REFERENCE corpus (CCNet trains a KenLM on Wikipedia; here
    * any `ref` slice of the data), then score every document by the mean
    * reference frequency of its bigrams — fluent, reference-like text
    * reuses common bigrams, degenerate or off-domain text hits rare or
    * unseen ones (count 0). Log-free on purpose, like [[tfidf]]: the score
    * is an integer sum divided once in IEEE double, so it is bit-identical
    * across engines (a true log-perplexity would pull in libm).
    *
    * Scale shape: bigram enumeration is a narrow [[ngrams]] explode over
    * the space-split tokens, empty ones kept (no shuffle); the reference
    * count table is a map-side-combinable aggregate; scoring is ONE
    * shuffle join on (w1, w2) + one aggregate back to doc id.
    * Natural-language bigram frequency is Zipf — the few head bigrams are
    * exactly what AQE skew-split handles, and the `maxRefCount` cap
    * (clamp, not drop, so no doc loses mass) bounds any single key's
    * contribution to a document's score (default unbounded).
    * Docs with < 2 tokens score NULL. */
  def bigramFluency(docs: DataFrame, ref: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      maxRefCount: Long = Long.MaxValue): DataFrame = {
    def bigrams(df: DataFrame): DataFrame =
      ngrams(df.select(col(idCol), split(col(textCol), " ").as("tk")), 2,
        Seq(idCol))
    val counts = bigrams(ref).groupBy("w1", "w2")
      .agg(least(count(lit(1)), lit(maxRefCount)).as("bg_n"))
    val scored = bigrams(docs)
      .join(counts, Seq("w1", "w2"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("bg_n"), lit(0L))).as("bg_total"))
      .withColumn("fluency",
        col("bg_total").cast("double") / col("n_bigrams"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("fluency"))
  }

  /** Cross-document boilerplate removal (the C4/RefinedWeb corpus-cleaning
    * step): a line that occurs in at least `minDocs` DISTINCT documents is
    * boilerplate (nav bars, cookie banners, licence footers) and is removed
    * from every document; within-document order of the surviving lines is
    * preserved. Complements the intra-document `dedup_lines` kernel, which
    * cannot see repetition ACROSS documents.
    *
    * Scale shape, in three aggregate-only stages (no windows):
    *  1. explode → (doc, pos, line);
    *  2. the boilerplate set = distinct(doc, line) → count per line →
    *     filter — both steps partial-aggregate before their shuffle, and
    *     the result is tiny by construction (only lines repeated across
    *     `minDocs`+ docs survive), so
    *  3. the removal is a BROADCAST anti-join (the 100-TB line stream
    *     never shuffles for it), and the only full shuffle is the groupBy
    *     reassembly on doc id. Docs whose every line was boilerplate are
    *     re-attached with an empty string (left join on the id spine).
    */
  def removeBoilerplate(docs: DataFrame, minDocs: Int,
      idCol: String = "doc_id", textCol: String = "text",
      sep: String = "\n"): DataFrame = {
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val boiler = lines.select(col(idCol), col("line")).distinct()
      .groupBy("line").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("line")
    val kept = lines.join(broadcast(boiler), Seq("line"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), sep).as("cleaned"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021, Table A1): the
    * quality filters that catch degenerate/boilerplate documents which
    * length and stopword heuristics miss — looping generations repeat
    * n-grams, scraped pages repeat nav text. Per document:
    *  - `dup_word_frac`: 1 - distinct/total words;
    *  - `top_bigram` / `top_bigram_n`: the most frequent word 2-gram
    *    (ties break to the lexicographically smallest gram) and its count;
    *  - `top_bigram_char_frac`: characters covered by all occurrences of
    *    that 2-gram over total characters;
    *  - `dup_5gram_frac`: fraction of word-5-gram occurrences that are
    *    repeats of an earlier gram in the same document.
    * All four are narrow per-row computations (no shuffle, no UDF): at
    * 100 TB they run at scan speed next to the other quality columns.
    * The counting runs in the one-pass native RepetitionKernel — O(words)
    * per row with per-document hash maps, bounded by document length,
    * never by corpus size. (A previous formulation with nested array
    * higher-order functions sat in the interpreted CodegenFallback path
    * and cost O(words²) per output column — 300+ s at sf0.1; the kernel
    * is sub-second.) The fractions stay Catalyst double expressions over
    * the kernel's integer counts so the oracle twin replays them
    * bit-for-bit. */
  def repetitionStats(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val r = native.repetition_summary(col(textCol))
    val nWords = r.getField("n_words")
    val nG5 = r.getField("n_g5")
    docs.select(
      col(idCol),
      nWords.as("n_words"),
      round(when(nWords === 0, 0.0).otherwise(
        lit(1.0) - r.getField("n_distinct_words").cast(DoubleType) /
          nWords.cast(DoubleType)), 6).as("dup_word_frac"),
      r.getField("top_bigram").as("top_bigram"),
      r.getField("top_bigram_n").as("top_bigram_n"),
      round(when(nWords < 2 || length(col(textCol)) === 0, 0.0).otherwise(
        (r.getField("top_bigram_n") * length(r.getField("top_bigram")))
          .cast(DoubleType) / length(col(textCol)).cast(DoubleType)), 6)
        .as("top_bigram_char_frac"),
      round(when(nG5 === 0, 0.0).otherwise(
        lit(1.0) - r.getField("n_distinct_g5").cast(DoubleType) /
          nG5.cast(DoubleType)), 6).as("dup_5gram_frac"))
  }

  /** URL canonicalization — the normalization pass URL-keyed corpus dedup
    * needs (the same crawl page arrives as `HTTP://Site.com:80/a?utm_x=1#f`
    * and `http://site.com/a`): lowercase scheme and host, strip default
    * ports (:80/:443), tracking query params (utm_*, gclid, fbclid), the
    * fragment, and a bare root path. Path and non-tracking query survive
    * byte-for-byte (paths are case-sensitive). Non-URL strings pass through
    * unchanged. Pure regexp chain in the Java/RE2-common subset — narrow,
    * codegen'd, no UDF. */
  def canonicalizeUrl(url: Column): Column = {
    val schemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
    val scheme = lower(regexp_extract(url, schemeRe, 1))
    // schemeRe carries capture group 1, so host/rest are group 2
    val host = regexp_replace(
      lower(regexp_extract(url, schemeRe + "([^/?#]*)", 2)),
      ":(80|443)$", "")
    // rest = path + query, fragment already excluded by the [^#]* capture
    val rest = regexp_extract(url, schemeRe + "[^/?#]*([^#]*)", 2)
    val track = "(utm_[A-Za-z0-9_]*|gclid|fbclid)"
    val noTail = regexp_replace(rest, s"&$track=[^&]*", "")
    val noLead = regexp_replace(noTail, s"\\?$track=[^&]*&", "?")
    val noOnly = regexp_replace(noLead, s"\\?$track=[^&]*$$", "")
    val cleaned = regexp_replace(noOnly, "\\?$", "")
    val path = when(cleaned === "/", "").otherwise(cleaned)
    when(scheme === "", url)
      .otherwise(concat(scheme, lit("://"), host, path))
  }

  /** Registrable host of a URL (lowercased, default ports stripped) — the
    * grouping key for host-level dedup and per-site quotas. Empty string
    * for non-URLs. */
  def urlHost(url: Column): Column =
    regexp_replace(
      lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)),
      ":(80|443)$", "")

  /** BM25 document ranking (Robertson & Zaragoza 2009, the Lucene
    * `k1`/`b` variant with the +1-smoothed idf) — keyword retrieval over
    * a corpus, the relevance-scoring half of building a RAG/eval set from
    * training data. Query terms are the `nTerms` globally most frequent
    * tokens (count DESC, term ASC — fully deterministic), so the query
    * derives from the corpus instead of arriving as free text.
    *
    * Scale shape: tf is one shuffle on (doc, term); df and the query-term
    * set are vocab-sized aggregates that broadcast; doc length and the
    * global (N, Σdl) stats are integer aggregates (order-independent,
    * bit-exact); scoring is a narrow per-row projection and the final
    * top-k is sort+limit → TakeOrderedAndProject, never a global sort.
    * Keep `nTerms` ≤ 2: each doc's score then sums at most two doubles,
    * which is order-independent by commutativity — more terms would need
    * an ordered fold to stay bit-deterministic. */
  def bm25(docs: DataFrame, nTerms: Int = 2, topk: Int = 20,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(nTerms <= 2, "score determinism relies on <= 2 addends per doc")
    val toks = docs.select(col(idCol), explode(wsTokens(col(textCol))).as("term"))
    val tf = toks.groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dl = docs.select(col(idCol),
      size(wsTokens(col(textCol))).cast(LongType).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val qt = tf.groupBy("term").agg(sum(col("tf")).as("total"))
      .orderBy(col("total").desc, col("term").asc).limit(nTerms)
      .select("term")
    // every arithmetic step mirrors the oracle twin's expression tree
    // exactly — double ops are deterministic only if identically shaped
    val avgdl = col("sum_dl").cast(DoubleType) / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs").cast(DoubleType) - col("df") + 0.5) / (col("df") + 0.5))
    val denom = col("tf") + lit(1.2) *
      (lit(0.25) + lit(0.75) * (col("dl").cast(DoubleType) / avgdl))
    val contrib = idf * (col("tf") * lit(2.2)) / denom
    // fold df into the nTerms-row query set BEFORE touching tf, so the
    // broadcast is nTerms rows, not the whole vocabulary
    val qstats = qt.join(dfc, "term")
    tf.join(broadcast(qstats), "term")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .select(col(idCol), contrib.as("c"))
      .groupBy(idCol).agg(round(sum(col("c")), 6).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol).asc).limit(topk)
  }

  /** Whitespace tokens of `text`: split on single spaces, empty tokens
    * dropped. */
  private def wsTokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** The adjacent `n`-token windows of each row's `tk` token array as
    * columns w1..wn, carrying `carry` columns through. ONE extractor feeds
    * PMI, both Kneser–Ney orders (train and score side alike — a scorer's
    * lookup joins only hit if both sides window the tokens identically),
    * bigramFluency and each BPE round's pair count. Rows with fewer than
    * `n` tokens yield none. A narrow per-row explode of the `n` shifted
    * slices zipped together (codegen'd, no lambda): no self-join. */
  private def ngrams(toks: DataFrame, n: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val tk = col("tk")
    val windows = size(tk) - (n - 1)
    // arrays_zip names the fields of unnamed inputs "0", "1", ...
    toks.filter(size(tk) >= n)
      .select(carry.map(col) :+ explode(arrays_zip(
        (1 to n).map(k => slice(tk, lit(k), windows)): _*)).as("g"): _*)
      .select(carry.map(col) ++
        (1 to n).map(k => col("g").getField(s"${k - 1}").as(s"w$k")): _*)
  }

  /** PMI collocation mining (Church & Hanks 1990): adjacent-token bigrams
    * scored by pointwise mutual information against the unigram model —
    * the phrase-mining signal a corpus pipeline uses to build tokenizer
    * merge candidates and multi-word entities. PMI = ln(p(xy) / (p(x)
    * p(y))) computed as ONE fixed-shape double expression over integer
    * counts, ln((c_xy·T·T) / (B·c_x·c_y)) — deterministic because every
    * factor is an exact integer-valued double and the mul/div order is
    * pinned to match the oracle twin.
    *
    * Scale shape: bigram generation is a narrow [[ngrams]] explode (no
    * self-join); counting is two map-side-combined groupBys; the two
    * unigram lookups join on the FILTERED bigram set (c_xy >= minCount),
    * so the heavy vocabulary join happens after the long tail is dropped;
    * the totals row is a 1-row broadcast. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5, topk: Int = 20,
      textCol: String = "text"): DataFrame = {
    val toks = docs.select(wsTokens(col(textCol)).as("tk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = toks.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bg = ngrams(toks, 2).groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val totals = toks.agg(
      sum(size(col("tk"))).cast(LongType).as("t_uni"),
      sum(greatest(size(col("tk")) - 1, lit(0))).cast(LongType).as("b_tot"))
    val pmi = log(
      (col("c_xy").cast(DoubleType) * col("t_uni") * col("t_uni")) /
        (col("b_tot").cast(DoubleType) * col("c1") * col("c2")))
    bg.join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c_xy"), round(pmi, 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc).limit(topk)
  }

  /** λ·lower: the mass a context with count `ctxCount` and `nFollow`
    * follower types reserves by discounting each follower by `d`, spread
    * by the lower-order probability `lower`. */
  private def knBackoff(d: Column, ctxCount: Column, nFollow: Column,
      lower: Column): Column =
    d * nFollow.cast(DoubleType) / ctxCount.cast(DoubleType) * lower

  /** One interpolated Kneser–Ney level: max(count − D, 0)/ctxCount + λ·lower. */
  private def knInterp(d: Column, count: Column, ctxCount: Column,
      nFollow: Column, lower: Column): Column =
    greatest(count.cast(DoubleType) - d, lit(0.0)) /
      ctxCount.cast(DoubleType) + knBackoff(d, ctxCount, nFollow, lower)

  /** P_kn(w2|w1) of a counted bigram over the trainer's exact integers
    * (c12, c_ctx, n_follow, n_prec, b_types): the trainer's `p_kn` column
    * and the scorer's seen branch are this one expression, so a score is
    * bit-identical to the stored model's probability. */
  private def knBigramSeen(d: Column): Column =
    knInterp(d, col("c12"), col("c_ctx"), col("n_follow"),
      col("n_prec").cast(DoubleType) / col("b_types").cast(DoubleType))

  /** P(w3|w1,w2) of a counted trigram (see [[kneserNeyTrigrams]]): the
    * trainer's `p_kn` column and the scorer's seen branch. */
  private def knTrigramSeen(d: Column): Column =
    knInterp(d, col("c123"), col("c12"), col("nf12"),
      knInterp(d, col("cont23"), col("cont2"), col("nf2"),
        col("cont3").cast(DoubleType) / col("b23").cast(DoubleType)))

  /** `table` restricted to the `keys` the minCount-filtered `head`
    * carries (a left-semi join), so the backoff tables describe the same
    * model the head does: a tail-only context or successor falls further
    * down the backoff chain instead of lending mass the stored model
    * never kept. At minCount = 1 the head holds every key and the table
    * (and its plan) is returned as is. */
  private def onHead(table: DataFrame, head: DataFrame, minCount: Long,
      keys: String*): DataFrame =
    if (minCount > 1) table.join(head, keys, "left_semi") else table

  /** Interpolated Kneser–Ney bigram model (single absolute discount D) —
    * the classic smoothing behind n-gram-LM perplexity filters for corpus
    * quality scoring (CCNet-style): train the LM on a reference corpus,
    * score candidate documents ([[knPerplexity]]), drop the tail. This is
    * the TRAIN side: the full smoothed conditional table
    *
    *   P_kn(w2|w1) = max(c(w1,w2) − D, 0) / c(w1·)
    *               + (D · N1+(w1,·) / c(w1·)) · N1+(·,w2) / B
    *
    * where c(w1·) is the bigram-context total, N1+(w1,·)/N1+(·,w2) are
    * follower/predecessor TYPE counts and B is the total bigram-type
    * count — the continuation probability that makes KN beat plain
    * discounting ("Francisco" is frequent but only ever follows "San").
    *
    * Exactness: every input to the probability is an exact integer count;
    * the probability itself is ONE per-row double expression over them,
    * so the result is bit-exact under any partitioning/evaluation order.
    * Scale shape: bigram generation is a narrow [[ngrams]] explode (no
    * self-join); all four count tables derive from ONE persisted bigram
    * aggregate (map-side combined); the context and continuation joins
    * run on the minCount-FILTERED output set so the heavy vocabulary
    * joins happen after the long tail is dropped, while the counts
    * themselves are computed over ALL bigrams (filtering before counting
    * would corrupt the denominators); the type total is a 1-row
    * broadcast. */
  def kneserNeyBigrams(docs: DataFrame, textCol: String = "text",
      discount: Double = 0.75, minCount: Long = 5): DataFrame =
    kneserNeyBigramsParts(docs, textCol, discount, minCount).model

  /** The trainer's own tables next to its denormalized `model`: `head`
    * (w1, w2, c12) holds the minCount-filtered counted pairs, `ctx`
    * (w1, c_ctx, n_follow) and `prec` (w2, n_prec) the backoff counts of
    * the head's keys, `consts` (b_types, discount) the pre-filter type
    * total and the discount. Every `model` column is a join of these, so
    * [[knPerplexity]] scores from them directly — from memory or from a
    * store that wrote them at train time — with no re-derivation from the
    * fat model. */
  final case class KnBigramParts(head: DataFrame,
      ctx: DataFrame, prec: DataFrame, consts: DataFrame, model: DataFrame)

  def kneserNeyBigramsParts(docs: DataFrame,
      textCol: String = "text", discount: Double = 0.75,
      minCount: Long = 5): KnBigramParts = {
    require(discount > 0 && discount < 1, s"discount in (0,1), got $discount")
    val bg = ngrams(docs.select(wsTokens(col(textCol)).as("tk")), 2)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pin the cache before ctx/prec/types/the filtered head scan it in
    // one action (the kneserNeyTrigrams rationale, one order down)
    bg.count()
    val ctx = bg.groupBy("w1")
      .agg(sum(col("c12")).cast(LongType).as("c_ctx"),
        count(lit(1)).as("n_follow"))
    val prec = bg.groupBy("w2").agg(count(lit(1)).as("n_prec"))
    val types = bg.agg(count(lit(1)).as("b_types"))
    // b_types and discount ride along so the model is SELF-DESCRIBING:
    // the scorer needs the true pre-filter type total (deriving it from
    // the filtered rows would inflate continuation probabilities past 1
    // on any minCount > 1 model) and must mix backoff mass with the SAME
    // discount the seen rows reserved
    val head = bg.filter(col("c12") >= minCount)
    val model = head
      .join(ctx, "w1").join(prec, "w2")
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("c12"), col("c_ctx"),
        col("n_follow"), col("n_prec"),
        round(knBigramSeen(lit(discount)), 6).as("p_kn"),
        col("b_types"), lit(discount).as("discount"))
    KnBigramParts(head.select(col("w1"), col("w2"), col("c12")),
      onHead(ctx, head, minCount, "w1"), onHead(prec, head, minCount, "w2"),
      types.select(col("b_types"), lit(discount).as("discount")), model)
  }

  /** Interpolated Kneser–Ney TRIGRAM model — the same recipe one order
    * up, with the textbook twist that the lower orders use CONTINUATION
    * counts derived from trigram types, not raw counts:
    *
    *   P(w3|w1,w2) = max(c(w1w2w3) − D, 0)/c(w1w2·) + λ(w1,w2)·P2(w3|w2)
    *   P2(w3|w2)   = max(N1+(·w2w3) − D, 0)/N1+(·w2·) + λ2(w2)·Pc(w3)
    *   Pc(w3)      = N1+(··w3) / |{distinct (w2,w3) among trigram types}|
    *
    * with λ(w1,w2) = D·N1+(w1w2·)/c(w1w2·) and λ2(w2) = D·N1+(·w2|·)/
    * N1+(·w2·). Every input is an exact integer type-count; the nested
    * probability is one per-row double expression, so the table is
    * bit-exact under any partitioning. Scale shape mirrors
    * [[kneserNeyBigrams]]: the trigram-type aggregate is persisted ONCE
    * and every lower-order table derives from it by slim hash
    * aggregates; the heavy joins run on the minCount-filtered head while
    * denominators count all types; the type total is a 1-row broadcast.
    * Like the bigram model, the output is self-describing (b23 +
    * discount columns); [[knTrigramPerplexity]] scores under it. */
  def kneserNeyTrigrams(docs: DataFrame, textCol: String = "text",
      discount: Double = 0.75, minCount: Long = 5): DataFrame =
    kneserNeyTrigramsParts(docs, textCol, discount, minCount).model

  /** Trigram analog of [[KnBigramParts]]: `head` (w1, w2, w3, c123), the
    * backoff tables `ctx12` (w1, w2, c12, nf12), `mid` (w2, w3, cont23),
    * `ctx2` (w2, cont2, nf2) and `c3` (w3, cont3) over the head's keys,
    * and `consts` (b23, discount). */
  final case class KnTrigramParts(head: DataFrame,
      ctx12: DataFrame, mid: DataFrame, ctx2: DataFrame, c3: DataFrame,
      consts: DataFrame, model: DataFrame)

  def kneserNeyTrigramsParts(docs: DataFrame,
      textCol: String = "text", discount: Double = 0.75,
      minCount: Long = 5): KnTrigramParts = {
    require(discount > 0 && discount < 1, s"discount in (0,1), got $discount")
    val tg = ngrams(docs.select(wsTokens(col(textCol)).as("tk")), 3)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pin the cache BEFORE the multi-branch plan below runs: four
    // branches (ctx12, cont23, the filtered head, and cont23's own
    // derivations) scan tg inside ONE action, and concurrent AQE leaf
    // stages racing an unmaterialized cache serialize on block locks /
    // re-run the aggregate lineage per branch instead of reading
    // columnar batches (measured: the build+score-in-one-plan query ran
    // SLOWER than build+parquet-roundtrip+score before this)
    tg.count()
    val ctx12 = tg.groupBy("w1", "w2")
      .agg(sum(col("c123")).cast(LongType).as("c12"),
        count(lit(1)).as("nf12"))
    // tg rows are unique per (w1,w2,w3), so a (w2,w3) row count IS the
    // distinct-predecessor continuation count N1+(·w2w3)
    val cont23 = tg.groupBy("w2", "w3").agg(count(lit(1)).as("cont23"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cont23.count() // same pinning: ctx2, cont3, btot and the mid join all scan it
    val ctx2 = cont23.groupBy("w2")
      .agg(sum(col("cont23")).cast(LongType).as("cont2"),
        count(lit(1)).as("nf2"))
    val cont3 = cont23.groupBy("w3").agg(count(lit(1)).as("cont3"))
    val btot = cont23.agg(count(lit(1)).as("b23"))
    val head = tg.filter(col("c123") >= minCount)
    val model = head
      .join(ctx12, Seq("w1", "w2")).join(cont23, Seq("w2", "w3"))
      .join(ctx2, "w2").join(cont3, "w3")
      .crossJoin(broadcast(btot))
      .select(col("w1"), col("w2"), col("w3"), col("c123"), col("c12"),
        col("nf12"), col("cont23"), col("cont2"), col("nf2"), col("cont3"),
        round(knTrigramSeen(lit(discount)), 6).as("p_kn"), col("b23"),
        lit(discount).as("discount"))
    KnTrigramParts(
      head.select(col("w1"), col("w2"), col("w3"), col("c123")),
      onHead(ctx12, head, minCount, "w1", "w2"),
      onHead(cont23, head, minCount, "w2", "w3"),
      onHead(ctx2, head, minCount, "w2"), onHead(cont3, head, minCount, "w3"),
      btot.select(col("b23"), lit(discount).as("discount")), model)
  }

  /** Per-document perplexity from per-n-gram probabilities `p` over
    * `grams` (one row per scored n-gram, keyed by `idCol`): log-probs are
    * rounded to 6 decimals and summed as DECIMAL — exact and
    * order-independent under any partitioning — and only the final
    * per-doc division/exp returns to double. Every document of `docs` is
    * emitted; one without n-grams gets `nCol` = 0 and a NULL perplexity,
    * so a downstream threshold filter sees it explicitly instead of
    * silently losing it. */
  private def perplexityByDoc(docs: DataFrame, idCol: String,
      grams: DataFrame, p: Column, nCol: String): DataFrame = {
    val scored = grams
      .select(col(idCol), round(log(p), 6).cast(DecimalType(28, 6)).as("lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n"), sum(col("lp")).as("s"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n"), lit(0L)).as(nCol),
        round(exp(-(col("s").cast(DoubleType) /
          col("n").cast(DoubleType))), 6).as("perplexity"))
  }

  /** Trigram perplexity under a trained [[kneserNeyTrigrams]] model,
    * scored from its [[KnTrigramParts]] tables (in memory, or read back
    * from a store that wrote them at train time). Chain per scored
    * trigram: seen triple → the trainer's p_kn ([[knTrigramSeen]] over
    * the same exact integers); unseen triple but seen (w1,w2) context →
    * its reserved mass λ12·P2(w3|w2); unseen context → the mid-level
    * model P2(w3|w2) alone (an uninformative context adds nothing);
    * unknown w2 → the continuation base Pc(w3); unknown w3 → 0, caught by
    * the `pOov` floor. On a minCount-filtered model, tail entries are
    * absent from the backoff tables and degrade DOWN the chain (never
    * inflating). Documents with fewer than three tokens emit
    * n_trigrams = 0 and a NULL perplexity ([[perplexityByDoc]]). */
  def knTrigramPerplexity(docs: DataFrame,
      head: DataFrame, ctx12: DataFrame, mid: DataFrame, ctx2: DataFrame,
      c3: DataFrame, consts: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", pOov: Double = 1e-7): DataFrame = {
    require(pOov > 0, s"pOov must be positive, got $pOov")
    val d = col("discount")
    val pc = coalesce(col("cont3"), lit(0L)).cast(DoubleType) /
      col("b23").cast(DoubleType)
    val p2 = when(col("cont2").isNotNull,
        knInterp(d, coalesce(col("cont23"), lit(0L)), col("cont2"),
          col("nf2"), pc))
      .otherwise(pc)
    val p = greatest(
      when(col("c123").isNotNull, round(knTrigramSeen(d), 6))
        .when(col("c12").isNotNull, knBackoff(d, col("c12"), col("nf12"), p2))
        .otherwise(p2),
      lit(pOov))
    val grams = ngrams(docs.select(col(idCol), wsTokens(col(textCol)).as("tk")),
        3, Seq(idCol))
      .join(head, Seq("w1", "w2", "w3"), "left")
      .join(ctx12, Seq("w1", "w2"), "left")
      .join(mid, Seq("w2", "w3"), "left")
      .join(ctx2, Seq("w2"), "left")
      .join(c3, Seq("w3"), "left")
      .crossJoin(broadcast(consts))
    perplexityByDoc(docs, idCol, grams, p, "n_trigrams")
  }

  /** The SCORE side of the n-gram perplexity filter: per-document bigram
    * perplexity under a trained [[kneserNeyBigrams]] model (train on a
    * clean reference corpus, score candidates, drop the high-perplexity
    * tail — the CCNet recipe), scored from its [[KnBigramParts]] tables
    * (in memory, or read back from a store that wrote them at train
    * time). A seen pair scores the trainer's p_kn ([[knBigramSeen]] over
    * the same exact integers). Backoff chain for bigrams the model has
    * not seen: a seen context w1 contributes its reserved mass
    * λ(w1)·P_cont(w2) (zero P_cont for unseen w2); a wholly unseen
    * context falls to the explicit OOV floor `pOov`, which also floors
    * every probability so log(0) cannot occur. The floor is a documented
    * simplification of full KN unigram backoff — deterministic,
    * engine-replayable, and standard practice in filtering pipelines
    * where the tail ranking (not the exact tail value) is what matters.
    * The discount and the true bigram-type total come from `consts`:
    * mixing a different discount than the seen rows reserved, or
    * deriving the type total from a minCount-filtered head, would push
    * per-context mass past 1. On a filtered model, tail-only
    * contexts/successors are absent from the backoff tables and fall to
    * the floor — a conservative (never inflating) miss. Documents with
    * fewer than two tokens emit n_bigrams = 0 and a NULL perplexity
    * ([[perplexityByDoc]]).
    *
    * Scale shape: one hash join of doc-bigrams against the head on
    * (w1, w2) plus two slim backoff joins; the constants are a 1-row
    * broadcast; no windows, no driver state. */
  def knPerplexity(docs: DataFrame,
      head: DataFrame, ctx: DataFrame, prec: DataFrame, consts: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      pOov: Double = 1e-7): DataFrame = {
    require(pOov > 0, s"pOov must be positive, got $pOov")
    val d = col("discount")
    val pc = coalesce(col("n_prec"), lit(0L)).cast(DoubleType) /
      col("b_types").cast(DoubleType)
    val p = greatest(
      coalesce(when(col("c12").isNotNull, round(knBigramSeen(d), 6)),
        when(col("c_ctx").isNotNull,
          knBackoff(d, col("c_ctx"), col("n_follow"), pc))
          .otherwise(lit(0.0))),
      lit(pOov))
    val grams = ngrams(docs.select(col(idCol), wsTokens(col(textCol)).as("tk")),
        2, Seq(idCol))
      .join(head, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(prec, Seq("w2"), "left")
      .crossJoin(broadcast(consts))
    perplexityByDoc(docs, idCol, grams, p, "n_bigrams")
  }

  /** FastText-shaped linear classifier APPLY: hashed bag-of-words
    * features (FNV-1a token hash -> one of `buckets` feature ids) dotted
    * with a weight vector, mean-normalized by token count. In production
    * the weights come from an offline-trained quality/toxicity model; here
    * they are a deterministic integer function of the bucket id so the
    * oracle can replay them, but the plan shape is the real one: a narrow
    * per-row fold over the token array — no shuffle, no UDF, no explode —
    * so classification runs at parquet-scan speed over 100 TB. Integer
    * weight accumulation + one final double division keeps the score
    * bit-exact under any evaluation order. */
  def linearScore(text: Column, buckets: Int = 256): Column = {
    require((buckets & (buckets - 1)) == 0, "buckets must be a power of 2")
    // signed & (2^k - 1) == unsigned mod 2^k: matches the oracle's
    // nonnegative HUGEINT h % buckets on the low bits
    val toks = filter(split(text, "[ \n\t\r]+"), t => t =!= lit(""))
    val weight = (tok: Column) => {
      val b = native.fnv64(tok).bitwiseAND(lit((buckets - 1).toLong))
      (b * lit(2654435761L) + lit(12345L)) % lit(2001L) - lit(1000L)
    }
    val acc = aggregate(toks, lit(0L), (a, tok) => a + weight(tok))
    acc.cast(DoubleType) /
      (lit(1000.0) * greatest(size(toks), lit(1)).cast(DoubleType))
  }

  /** Exact phrase search over a positional inverted index — the
    * retrieval-side complement of BM25's bag-of-words ranking: emit every
    * (doc, position) where the token phrase occurs verbatim. The posting
    * table (doc, pos, term) is filtered to the phrase's terms BEFORE any
    * shuffle (narrow projection of the scan), then the phrase is an
    * n-way self-equi-join on (doc, pos − offset) — query cost scales
    * with the matched terms' posting sizes, never the corpus, which is
    * the point of an inverted index at 100 TB (a LIKE scan reads
    * everything; this reads three posting lists). */
  def phraseSearch(docs: DataFrame, phrase: Seq[String],
      textCol: String = "text"): DataFrame = {
    require(phrase.nonEmpty)
    val posts = docs.select(col("doc_id"),
        posexplode(split(col(textCol), "\\s+")).as(Seq("pos", "term")))
      .filter(col("term").isin(phrase.distinct: _*))
    val base = posts.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos").as("p0"))
    phrase.zipWithIndex.tail.foldLeft(base) { case (acc, (t, i)) =>
      acc.join(posts.filter(col("term") === t)
          .select(col("doc_id"), (col("pos") - i).as("p0")),
        Seq("doc_id", "p0"))
    }.select(col("doc_id"),
      col("p0").cast(org.apache.spark.sql.types.LongType).as("pos"))
  }

  /** Proximity search: documents where `termA` and `termB` occur within
    * `window` token positions of each other (either order) — the IR
    * operator between single-term lookup and exact phrase match. Returns
    * one row per qualifying (doc, posA, posB) co-occurrence. Same
    * posting-list shape as phraseSearch: the join is keyed on doc with
    * the position band as residual, and the posting lists were filtered
    * to the two terms BEFORE the join, so the pair fan-out is bounded by
    * each doc's own term frequencies, never corpus-wide. */
  def proximitySearch(docs: DataFrame, termA: String, termB: String,
      window: Int, textCol: String = "text"): DataFrame = {
    require(window >= 1)
    val posts = docs.select(col("doc_id"),
        posexplode(split(col(textCol), "\\s+")).as(Seq("pos", "term")))
      .filter(col("term").isin(termA, termB))
    val a = posts.filter(col("term") === termA)
      .select(col("doc_id"), col("pos").as("pos_a"))
    val b = posts.filter(col("term") === termB)
      .select(col("doc_id"), col("pos").as("pos_b"))
    a.join(b, "doc_id")
      .filter(abs(col("pos_a") - col("pos_b")) <= window)
      .select(col("doc_id"),
        col("pos_a").cast(org.apache.spark.sql.types.LongType).as("pos_a"),
        col("pos_b").cast(org.apache.spark.sql.types.LongType).as("pos_b"))
  }

  /** BPE merge TRAINING (Sennrich et al. 2016) — the learn side of the
    * tokenizer story (`q_vocab` counts, `tokenizeSubwords` applies): k
    * rounds of count-adjacent-pairs → merge the most frequent pair
    * (ties → lexicographically smallest), returning the learned merge
    * table (merge_rank, lhs, rhs, merged, freq).
    *
    * Scale shape — the classic trainer factorization: ONE corpus scan
    * builds the word-frequency table; every training round then runs on
    * that BOUNDED vocabulary table (distinct words, not corpus rows), so
    * at 100 TB the iteration cost is independent of corpus size. The
    * remaining scale axis is the MERGE COUNT: exact BPE is inherently
    * sequential (merge i+1's argmax depends on merge i's recount), so a
    * naive trainer is one driver round trip per merge — 32k sequential
    * Spark jobs at a production vocabulary. This trainer BATCHES
    * provably non-interacting merges per round instead: each round
    * collects the top-`BpeHorizon` pair counts once (one bounded
    * collect) and accepts the longest PREFIX of the (cnt DESC, l, r)
    * rank order in which every pair
    *   (a) counts strictly above the collection horizon (pairs never
    *       collected, and anything derived from them, can't overtake it),
    *   (b) shares no symbol with an earlier accepted pair — and none of
    *       its symbols equals an earlier accepted pair's merged token —
    *       so its own count is INVARIANT under the earlier merges (a
    *       merge only creates/destroys adjacencies involving its own
    *       symbols or its merged token),
    *   (c) counts strictly above every collected pair adjacent to an
    *       accepted pair's symbols (any NEW pair a merge creates is a
    *       trigram completion "x l r"/"l r y", so its count is bounded
    *       by the OLD count of (x,l) resp. (r,y); strict > also beats
    *       lexicographic ties), and
    *   (d) every EARLIER accepted pair's merged token is a FRESH string
    *       — not in the current symbol alphabet (tracked on the driver:
    *       the corpus's distinct characters, collected once, plus every
    *       merge applied so far) and not another accepted pair's merged
    *       token. Without (d), rule (c)'s new-pairs-start-from-zero
    *       bound is unsound: if merge j's output string collides with
    *       an EXISTING symbol T, standing pairs (x,T) GAIN count on top
    *       of their old rank and can overtake the candidate (the
    *       BpeKernel floor-cursor test documents exactly this collision
    *       shape — "a"+"bc" producing an "abc" that already exists).
    *       A colliding merge still gets accepted — as the LAST member
    *       of its batch. The CROSS-ROUND branch of (d) is in fact
    *       structurally unreachable — a candidate is a pair of ADJACENT
    *       TOKENS, and when merge (p,q) created token T every
    *       token-ALIGNED occurrence of string T merged with it: tokens
    *       only grow, so a span once crossed by a token never re-aligns,
    *       and spans aligned at every round tokenize identically (the
    *       leftmost-first tie rule can only be perturbed from the left
    *       by a merge that crosses the span edge, which un-aligns it).
    *       Hence no later candidate (c,d) can satisfy c+d == T. A 20k-
    *       random-corpus differential fuzz of this acceptance logic
    *       against sequential training found zero divergences with the
    *       branch disabled, corroborating the argument; the alphabet is
    *       extended with applied merges anyway so (d) holds by local
    *       bookkeeping rather than by this global proof.
    * By induction each accepted pair equals the argmax the sequential
    * trainer would have recounted — the merge TABLE IS BIT-IDENTICAL to
    * one-merge-per-round training (FunctionsSpec differential-tests this
    * against an independent driver-side trainer at k=60) — while driver
    * round trips drop from k to the batch count. The bound, measured
    * (SCALE.md, BPE train cost-curve table): exact BPE stays Θ(k) ROUNDS in the
    * worst case (count ties between adjacent pairs force batch stops),
    * with a ~2.6-2.9x constant-factor win in practice — k=1000 trains in
    * 389 rounds / 173 s on a 200k-doc high-entropy corpus, k=100 in 35
    * rounds; the contract corpus EXHAUSTS (every word one token) at 89
    * merges in 56 rounds. A 32k-merge production vocabulary is therefore
    * ~12k sequential Spark rounds — hours, not days, and inherent to
    * exact argmax training; pipelines that need faster retrains trade
    * exactness for frequency-threshold batch acceptance. Rounds end
    * early when no adjacent pair remains: the table then carries fewer
    * than k merges, which is the correct exhausted-vocabulary answer,
    * not an error.
    *
    * Engine-portable by construction: words are held as spaced token
    * strings (" a b c ") and a merge is `replace(s, " l r ", " lr ")` —
    * string replace scans left-to-right non-overlapping in Spark and
    * DuckDB alike, which IS the BPE merge rule (" a a a " → " aa a "),
    * so the oracle twin replays training exactly by unrolling the same
    * k merges as chained CTEs (batching changes the JOB count, never
    * the merges). Pair counts weight by word frequency and count every
    * adjacent index (standard trainer counting). */
  def bpeTrainMerges(docs: DataFrame, textCol: String = "text",
      k: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
    // " a b c " — leading space + one trailing space per char.
    // localCheckpoint (not persist): the loop builds round r's vocab FROM
    // round r-1's, and a cache does not truncate the logical plan — at
    // tens of rounds the accumulated lineage makes every analysis pass
    // O(rounds) and the retained per-execution plans OOM the driver (the
    // k=60 differential test caught exactly this). The eager checkpoint
    // cuts each round's plan to a LogicalRDD; superseded rounds' blocks
    // are freed by the ContextCleaner as their references drop.
    var vocab = words.select(
      concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("s"),
      col("freq"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.Buffer.empty[(Int, String, String, Long)]
    // rule (d)'s symbol alphabet: the corpus's distinct characters (one
    // bounded collect — |alphabet| rows) plus every merge applied so far
    val symbols = scala.collection.mutable.Set.empty[String]
    symbols ++= vocab
      .select(explode(split(trim(col("s")), " ")).as("c"))
      .filter(col("c") =!= "").distinct()
      .collect().map(_.getString(0))
    var exhausted = false
    while (merges.size < k && !exhausted) {
      val toks = vocab.select(col("freq"), split(trim(col("s")), " ").as("tk"))
      val top = ngrams(toks, 2, Seq("freq"))
        .groupBy(col("w1").as("l"), col("w2").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(BpeHorizon)
        .collect() // bounded: BpeHorizon rows, the round's rank prefix
        .map(r0 => (r0.getString(0), r0.getString(1), r0.getLong(2)))
      if (top.isEmpty) exhausted = true
      else {
        // everything NOT collected counts <= horizonCnt; with fewer than
        // BpeHorizon rows we saw every pair and rule (a) is vacuous
        val horizonCnt =
          if (top.length == BpeHorizon) top.last._3 else Long.MinValue
        val accepted = scala.collection.mutable.Buffer(top.head)
        var i = 1
        var stop = false
        while (!stop && i < top.length &&
            merges.size + accepted.size < k &&
            accepted.size < BpeMaxBatch) {
          val (l, r0, cnt) = top(i)
          val ok = cnt > horizonCnt &&
            accepted.forall { case (al, ar, _) =>
              val merged = al + ar
              l != al && l != ar && r0 != al && r0 != ar &&
                l != merged && r0 != merged
            } &&
            // (c): no collected pair adjacent to an accepted merge's
            // symbols may reach this count (new-pair upper bound)
            accepted.forall { case (al, ar, _) =>
              top.forall { case (ql, qr, qcnt) =>
                (qr != al && ql != ar) || cnt > qcnt
              }
            } &&
            // (d): every earlier accepted merge's output token must be
            // FRESH — a collision with a standing symbol lets existing
            // pairs GAIN count past rule (c)'s bound
            accepted.forall { case (al, ar, _) =>
              !symbols.contains(al + ar)
            } &&
            accepted.map { case (al, ar, _) => al + ar }.distinct.size ==
              accepted.size
          if (ok) accepted += top(i) else stop = true
          i += 1
        }
        // ONE projection applies the whole batch: the chained replaces
        // commute with the skipped recounts by (b)/(c) above
        val merged = accepted.foldLeft(col("s")) { case (c, (l, r0, _)) =>
          call_function("replace", c, lit(s" $l $r0 "), lit(s" $l$r0 "))
        }
        accepted.foreach { case (l, r0, cnt) =>
          merges += ((merges.size + 1, l, r0, cnt))
          // keep rule (d)'s alphabet true to its contract: the merged
          // token is a standing symbol from the next round on. Cross-
          // round collisions are structurally unreachable (see the
          // acceptance-rule scaladoc), so this never changes a merge
          // table — it makes the invariant locally checkable instead of
          // resting on the global alignment argument (ADVICE r10).
          symbols += (l + r0)
        }
        vocab = vocab.select(merged.as("s"), col("freq"))
          .localCheckpoint(true) // lineage cut per round, see above
      }
    }
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "freq")
      .select(col("merge_rank"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("freq"))
  }

  /** [[bpeTrainMerges]] batching knobs: per round, collect this many
    * top pairs (the proof horizon — rule (a) refuses anything not
    * strictly above the uncollected tail) and accept at most this many
    * merges (bounds the chained-replace expression depth per round). */
  private val BpeHorizon = 256
  private val BpeMaxBatch = 64

  /** Batch perceptron trainer for a quality/language filter (the
    * trainABLE counterpart to [[linearScore]]'s fixed weights): features
    * are INTEGER text statistics (bias, \S+ token count, char count,
    * digit count), the label is ±1 on `labelCol == positive`, and each
    * round applies the batch update w += Σ_{misclassified} y·x with
    * misclassification decided by y·(w·x) <= 0. Every quantity is a
    * 64-bit integer — no float enters any decision — so runs,
    * partitionings, and engines produce identical weight trajectories
    * (the oracle unrolls the same rounds in SQL).
    *
    * Scale shape: one aggregate pass over the corpus per round (map-side
    * combined sums; the driver holds d+1 scalars, collected one row per
    * round — the same bounded pattern as [[bpeTrainMerges]]). Feature
    * magnitudes must keep |w·x| < 2^63: with raw counts that holds to
    * ~1e9 docs per round; beyond that, scale features down or switch the
    * update to per-partition-averaged deltas. Returns one row per round:
    * (iter, weights AFTER the round's update, misclassified count BEFORE
    * it). */
  def perceptronTrain(docs: DataFrame, iters: Int = 3,
      textCol: String = "text", labelCol: String = "lang",
      positive: String = "en"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val feats = docs.select(
        when(col(labelCol) === positive, 1L).otherwise(-1L).as("y"),
        lit(1L).as("x0"),
        tokenCount(col(textCol)).as("x1"),
        charCount(col(textCol)).as("x2"),
        regexp_count(col(textCol), lit("[0-9]")).cast(LongType).as("x3"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    feats.count() // materialize once; the loop re-reads it `iters` times
    var w = Array(0L, 0L, 0L, 0L)
    val rows = scala.collection.mutable.Buffer
      .empty[(Long, Long, Long, Long, Long, Long)]
    for (it <- 1 to iters) {
      val margin = col("y") *
        (lit(w(0)) * col("x0") + lit(w(1)) * col("x1") +
         lit(w(2)) * col("x2") + lit(w(3)) * col("x3"))
      def delta(x: String) =
        coalesce(sum(when(margin <= 0, col("y") * col(x)).otherwise(0L)), lit(0L))
      val r = feats.agg(delta("x0").as("d0"), delta("x1").as("d1"),
          delta("x2").as("d2"), delta("x3").as("d3"),
          coalesce(sum(when(margin <= 0, 1L).otherwise(0L)), lit(0L))
            .as("errs"))
        .collect()(0) // ONE bounded row per round
      w = Array(w(0) + r.getLong(0), w(1) + r.getLong(1),
        w(2) + r.getLong(2), w(3) + r.getLong(3))
      rows += ((it.toLong, w(0), w(1), w(2), w(3), r.getLong(4)))
    }
    feats.unpersist(blocking = false)
    rows.toSeq
      .toDF("iter", "w_bias", "w_tokens", "w_chars", "w_digits", "errors")
  }

  /** Encode documents with a corpus-trained BPE tokenizer: train `k`
    * merges ([[bpeTrainMerges]]), then apply them IN RANK ORDER to every
    * word and count the resulting symbols — the train→encode loop a
    * data pipeline runs to budget corpora in "tokens under OUR
    * tokenizer" rather than whitespace tokens.
    *
    * Scale shape: the merge list is k driver rows (the same bounded
    * collect the trainer already does); application is ONE native
    * codegen'd expression ([[graft.functions.BpeSymbolCount]]) carrying
    * the merge table as a prepared reference object — no shuffle until
    * the final per-doc sum, and vocabulary size is a lookup-table size,
    * not an expression-tree depth (the previous fold of k chained
    * `replace` calls was exact but made k a codegen bound: a production
    * 32k-merge vocabulary is a 32k-deep Catalyst tree). The kernel's
    * floor-cursor pass order reproduces the trainer's sequential
    * left-to-right non-overlapping `replace` semantics EXACTLY (proof
    * sketch in the kernel scaladoc; property-checked against the
    * replace chain in FunctionsSpec), so counts stay consistent with
    * the learned vocab and engine-portable — the oracle replays the
    * replace chain and hashes identical. */
  def bpeEncode(docs: DataFrame, textCol: String = "text", k: Int = 6,
      idCol: String = "doc_id"): DataFrame = {
    val merges = bpeTrainMerges(docs, textCol, k)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))) // k rows — bounded
    val words = docs
      .select(col(idCol), explode(split(col(textCol), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val mergeTable = typedLit(merges.map { case (l, r) => s"$l $r" }.toSeq)
    val perDoc = words
      .select(col(idCol),
        graft.functions.native.bpe_symbol_count(col("w"), mergeTable)
          .cast(LongType).as("n"))
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("bpe_tokens"), count(lit(1)).as("n_words"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("bpe_tokens"), lit(0L)).as("bpe_tokens"),
        coalesce(col("n_words"), lit(0L)).as("n_words"))
  }

  /** Per-document keyword extraction by TF-rarity rank: a document's top
    * terms are those it repeats most (tf desc) among terms the corpus
    * uses least (document frequency asc, then term asc — a total order).
    * This is the log-free integer form of TF-IDF term ranking: for a
    * FIXED document, ordering by (tf, −df) selects the same leaders as
    * tf·log(N/df) whenever tf dominates, and unlike the float score it
    * is reproducible bit-for-bit on any engine, which makes keyword sets
    * diffable across pipeline runs. Returns (doc_id, term, tf, df, rnk)
    * with rnk ≤ k.
    *
    * Scale shape: tf is a map-side-combinable (doc, term) groupBy, df a
    * second combinable groupBy over the tf rows (already one row per
    * doc-term), and the rank window partitions by doc — bounded by a
    * document's own vocabulary, never the corpus. */
  def topTerms(docs: DataFrame, k: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rnk"))
  }

  /** Corpus novelty rate: the share of each document's distinct word
    * n-grams that occur for the FIRST time in that document (first
    * occurrence = the minimum doc id carrying the gram — a deterministic
    * attribution under any ingest order). A high novelty share marks
    * genuinely new content; a low one marks recombinations of text the
    * corpus already holds — the document-level complement of span-level
    * dedup, used to down-weight templated/spun content when curating.
    *
    * Returns (doc_id, total_grams, novel_grams, novelty) with one row per
    * input document (gram-less docs report 0/0/0.0). The ratio is a
    * single per-row IEEE quotient of two longs — engine-exact.
    *
    * Scale shape: grams are 64-bit fingerprints from the one-pass native
    * kernel (collision-free in practice at corpus scale; a collision only
    * merges two grams' attribution, it cannot crash the pipeline), so the
    * explode shuffles longs, not strings. first-doc attribution is a
    * map-side-combinable min per gram, and the join back to the posting
    * list is co-partitioned on the same gram key — Catalyst reuses the
    * exchange, so the whole operator costs one wide shuffle plus a
    * doc-keyed reduce. */
  def noveltyRate(docs: DataFrame, n: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val grams = docs.select(col(idCol).as("id"),
        explode(array_distinct(
          graft.functions.native.word_ngram_hashes(col(textCol), n)))
          .as("gram"))
    val firstDoc = grams.groupBy("gram").agg(min(col("id")).as("first_doc"))
    val per = grams.join(firstDoc, "gram")
      .groupBy("id")
      .agg(count(lit(1)).as("total_grams"),
        sum(when(col("first_doc") === col("id"), 1L).otherwise(0L))
          .as("novel_grams"))
    docs.select(col(idCol))
      .join(per, docs(idCol) === per("id"), "left")
      .select(col(idCol),
        coalesce(col("total_grams"), lit(0L)).as("total_grams"),
        coalesce(col("novel_grams"), lit(0L)).as("novel_grams"),
        when(coalesce(col("total_grams"), lit(0L)) === 0L, 0.0)
          .otherwise(col("novel_grams").cast(DoubleType) /
            col("total_grams").cast(DoubleType)).as("novelty"))
  }
}
