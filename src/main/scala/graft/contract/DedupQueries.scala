package graft
package contract

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.engine.Context
import graft.functions.native

import Shared._

/** Exact and near-duplicate detection. */
object DedupQueries {

  /** The winnowing twin, shared by q_winnow (DataFrame path) and
    * q_sql_winnow (SQL front door) — both engines' implementations must
    * converge on this one oracle. */
  private val winnowTwinSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         g AS (SELECT doc_id, i AS gpos,
                 array_to_string(toks[i:i+3], ' ') AS gram
               FROM t, unnest(generate_series(1,
                 greatest(0, length(toks) - 3))) AS s(i)),
         fh AS (SELECT doc_id, gpos,
             list_reduce(
               list_prepend(CAST('14695981039346656037' AS HUGEINT),
                 list_transform(generate_series(1, length(gram)),
                   i -> CAST(ord(substr(gram, i, 1)) AS HUGEINT))),
               (h, b) -> (xor(h, b) * CAST('1099511628211' AS HUGEINT))
                 % CAST('18446744073709551616' AS HUGEINT)) AS hu
           FROM g),
         sh AS MATERIALIZED (SELECT doc_id, gpos,
             CAST(CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
               THEN hu - CAST('18446744073709551616' AS HUGEINT)
               ELSE hu END AS BIGINT) AS hv
           FROM fh),
         m AS (SELECT doc_id, count(*) AS gc FROM sh GROUP BY doc_id),
         win AS (SELECT sh.doc_id,
             min(hv) OVER (PARTITION BY sh.doc_id ORDER BY gpos
               ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp,
             gpos, m.gc AS gc
           FROM sh JOIN m USING (doc_id)),
         sel AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM win
           WHERE gpos <= greatest(gc - 7, 1)),
         capped AS MATERIALIZED (SELECT doc_id, fp FROM sel
           WHERE fp IN (SELECT fp FROM sel GROUP BY fp
             HAVING count(*) <= 2000))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS shared
         FROM capped a JOIN capped b
           ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 3
         ORDER BY id_a, id_b"""

  /** Full O(n²) exact byte-shingle Jaccard twin, shared by the manual-cap
    * (q_dedup_minhash) and auto-gated (q_dedup_autocap) pipelines. */
  private val minhashExactTwinSql: String =
    """WITH grams AS (
         SELECT doc_id,
           list_distinct(list_transform(
             generate_series(1, greatest(length(text) - 4, 0)),
             i -> substr(text, i, 5))) AS gs
         FROM documents),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
             (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)))
             AS jaccard
         FROM grams a JOIN grams b ON a.doc_id < b.doc_id
         WHERE len(a.gs) > 0 AND len(b.gs) > 0)
       SELECT id_a, id_b, jaccard FROM pairs
       WHERE jaccard >= 0.7 ORDER BY id_a, id_b"""

  val queries: Seq[ContractQuery] = Seq(
    // fuzzy (edit-distance) self-join — entity-resolution shape
    ContractQuery("q_fuzzy_join", (s, dir) => {
      val n1 = t(s, dir, "nation").select(col("n_name").as("name_a"))
      val n2 = t(s, dir, "nation").select(col("n_name").as("name_b"))
      n1.crossJoin(broadcast(n2))
        .filter(col("name_a") < col("name_b"))
        .select(col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).cast(LongType).as("edit_dist"))
        .filter(col("edit_dist") <= 2)
        .orderBy("name_a", "name_b")
    },
      """SELECT a.n_name AS name_a, b.n_name AS name_b,
           CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS edit_dist
         FROM nation a JOIN nation b ON a.n_name < b.n_name
         WHERE levenshtein(a.n_name, b.n_name) <= 2
         ORDER BY name_a, name_b"""),

    // the SCALABLE fuzzy join: FastSS deletion-variant candidate generation
    // + exact levenshtein verify, proven lossless against the full O(n²)
    // DuckDB twin (cap set far above any gate-scale bucket so it can't bind)
    ContractQuery("q_fuzzy_join_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 24).as("k"))
      graft.dedup.Dedup.editDistancePairs(docs, "k", "doc_id",
          maxDist = 2, maxBucketSize = 100000)
        .orderBy("id_a", "id_b")
    },
      // full O(n²) exact twin: proves the FastSS deletion-variant candidate
      // generation loses no pair (same pattern as q_dedup_ngram's oracle)
      """WITH k AS (SELECT doc_id, substr(text, 1, 24) AS key FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.key, b.key) AS BIGINT) AS edit_dist
         FROM k a JOIN k b ON a.doc_id < b.doc_id
         WHERE levenshtein(a.key, b.key) <= 2
         ORDER BY id_a, id_b"""),

    // intra-document boilerplate removal: drop duplicate LINES, keep first
    // occurrence in order (repeated headers/footers/menus in web text) —
    // a one-pass native kernel. The corpus is single-line, so the query
    // derives lines in-query (word-per-line via translate), the same
    // inject-the-structure pattern q_normalize uses for accents.
    ContractQuery("q_dedup_lines", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          native.dedup_lines(translate(col("text"), " ", "\n")).as("cleaned"))
        .orderBy("doc_id"),
      """WITH t AS (SELECT doc_id,
             string_split(replace(text, ' ', chr(10)), chr(10)) AS ls
           FROM documents),
         u AS (SELECT doc_id, ls[i] AS line, i AS ord
           FROM t, unnest(generate_series(1, length(ls))) AS g(i)),
         f AS (SELECT doc_id, line, min(ord) AS ord
           FROM u GROUP BY doc_id, line)
         SELECT doc_id,
           array_to_string(list(line ORDER BY ord), chr(10)) AS cleaned
         FROM f GROUP BY doc_id ORDER BY doc_id"""),

    // exact substring dedup (Lee et al. 2022): word 8-grams occurring in
    // >=2 distinct docs are repeated spans; every covered token position
    // is masked. Catches shared *passages* that doc- and line-level dedup
    // miss. See dedup.Dedup.maskRepeatedSpans for the scale shape.
    ContractQuery("q_dedup_spans", (s, dir) =>
      Dedup.maskRepeatedSpans(t(s, dir, "documents"), k = 8, minDocs = 2)
        .orderBy("doc_id"),
      // replay the kernel in DuckDB: explode to (line, position), keep each
      // line's first position, reassemble in order
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         g AS (SELECT doc_id, i AS gpos,
                 array_to_string(toks[i:i+7], ' ') AS gram
               FROM t, unnest(generate_series(1,
                 greatest(0, length(toks) - 7))) AS s(i)),
         rep AS (SELECT gram FROM (
                   SELECT gram, count(DISTINCT doc_id) AS nd
                   FROM g GROUP BY gram) WHERE nd >= 2),
         cov AS (SELECT DISTINCT g.doc_id, u.p
                 FROM g JOIN rep USING (gram),
                      unnest(generate_series(g.gpos, g.gpos + 7)) AS u(p)),
         u AS (SELECT doc_id, i AS pos, toks[i] AS tok
               FROM t, unnest(generate_series(1, length(toks))) AS s(i)),
         kept AS (SELECT u.doc_id, u.pos, u.tok FROM u
                  WHERE NOT EXISTS (SELECT 1 FROM cov
                    WHERE cov.doc_id = u.doc_id AND cov.p = u.pos)),
         r AS (SELECT doc_id,
                 array_to_string(list(tok ORDER BY pos), ' ') AS cleaned
               FROM kept GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(r.cleaned, '') AS cleaned
         FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
         ORDER BY d.doc_id"""),

    // winnowing fingerprints (MOSS, SIGMOD 2003): window-min of the
    // positional gram hashes keeps ~2/(w+1) of grams yet guarantees any
    // shared run of >= w+k-1 tokens yields an identical selected
    // fingerprint in both documents. The oracle replays the gram FNV in
    // HUGEINT, maps to signed BIGINT (array_min compares signed longs),
    // and window-mins with the same truncated-window rule.
    ContractQuery("q_winnow", (s, dir) =>
      Dedup.winnowPairs(t(s, dir, "documents"), k = 4, window = 8,
          minShared = 3)
        .orderBy("id_a", "id_b"),
      // replay winnowing: positional 4-gram FNV in HUGEINT mapped to
      // signed BIGINT (Spark's array_min compares signed longs), rolling
      // window-min with the same truncated-window rule for short docs,
      // the hot-bucket cap, then the shared-fingerprint pair count
winnowTwinSql),

    // the SAME winnowing result through the §2.6 SQL front door: the
    // injected span_gram_hashes in SQL text, window-min as a doc-
    // partitioned window function (0-based gpos → full windows are
    // gpos <= gc-8), the hot-bucket cap, and the pair count — a second
    // independent implementation converging on q_winnow's oracle
    ContractQuery("q_sql_winnow", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        WITH g AS (
          SELECT doc_id, pe.gpos AS gpos, pe.h AS h
          FROM documents
          LATERAL VIEW posexplode(span_gram_hashes(text, 4)) pe AS gpos, h),
        m AS (SELECT doc_id, count(*) AS gc FROM g GROUP BY doc_id),
        win AS (
          SELECT g.doc_id, g.gpos, m.gc,
            min(g.h) OVER (PARTITION BY g.doc_id ORDER BY g.gpos
              ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
          FROM g JOIN m ON g.doc_id = m.doc_id),
        sel AS (SELECT DISTINCT doc_id, fp FROM win
          WHERE gpos <= greatest(gc - 8, 0)),
        hot AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) > 2000),
        capped AS (SELECT doc_id, fp FROM sel
          WHERE fp NOT IN (SELECT fp FROM hot)),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
          FROM capped a JOIN capped b
            ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b, shared FROM pairs WHERE shared >= 3
        ORDER BY id_a, id_b""")
    },
      // same result through the SQL front door (window-min formulation)
      winnowTwinSql),

    // exact dedup (hash-groupBy)
    ContractQuery("q_dedup_exact", (s, dir) =>
      Dedup.exact(t(s, dir, "documents")).orderBy("keep_id"),
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
           count(*) AS n_dups
         FROM documents GROUP BY text ORDER BY keep_id"""),

    // MinHash+LSH candidates re-verified with EXACT byte-shingle Jaccard;
    // the oracle is the FULL O(n²) exact-Jaccard twin, so a hash match
    // proves banding recall loses no true pair at gate scale (the same
    // lossless-candidates proof q_dedup_ngram gives the prefix filter)
    ContractQuery("q_dedup_minhash", (s, dir) =>
      Dedup.minhashVerifiedPairs(t(s, dir, "documents"), threshold = 0.7,
          maxBucketSize = 100000)
        .orderBy("id_a", "id_b"),
      // full O(n²) exact byte-shingle Jaccard twin — proves MinHash banding
      // candidate recall is lossless at gate scale (corpus is ASCII, so
      // DuckDB's char substr == the kernel's byte windows)
      minhashExactTwinSql),

    // the closed-loop cap gate: chooseBucketCap evaluates the capped
    // pair ceiling for every ladder rung in one slim aggregate and
    // minhashVerifiedPairsAuto runs the verified pipeline at the largest
    // rung under the 10M-pair budget. At gate scale the chosen rung
    // (4000 > the 273-doc max bucket) caps nothing, so the SAME full
    // O(n²) exact-Jaccard twin proves the auto-gated path end to end;
    // DedupSpec pins the tight-budget rung selection the twin can't see.
    // The budget survives the 10x ContractStress corpus (~7M capped
    // pairs); at 100k it was observed REFUSING that corpus (smallest
    // rung 16 already admits 904,335 pairs) — the guard behaving as
    // designed on a hot corpus
    ContractQuery("q_dedup_autocap", (s, dir) =>
      Dedup.minhashVerifiedPairsAuto(t(s, dir, "documents"),
          threshold = 0.7, pairBudget = 10000000L)
        .orderBy("id_a", "id_b"),
      // the auto-gated path chooses a cap that caps nothing at gate scale,
      // so the same exact twin proves it end to end
      minhashExactTwinSql),

    // SimHash pairs at maxHamming=3: with 4 pigeonhole chunks the candidate
    // generation is provably COMPLETE for hamming <= 3, so the emitted set
    // is exactly {pairs with hamming(simhash_a, simhash_b) <= 3} — and the
    // oracle recomputes the FNV simhash bit-exactly in DuckDB (HUGEINT
    // arithmetic) and compares ALL pairs
    ContractQuery("q_dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), maxHamming = 3,
          maxBucketSize = 100000)
        .orderBy("id_a", "id_b"),
      // bit-exact FNV-1a simhash recomputed in DuckDB (HUGEINT mod-2^64
      // arithmetic), ALL pairs at hamming <= 3 — two-sided proof of the
      // 4-chunk pigeonhole candidate generation's completeness
      s"""$simhashBitsCte
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_filter(generate_series(1, 64),
             i -> a.bits[i] <> b.bits[i])) AS BIGINT) AS hamming
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE len(list_filter(generate_series(1, 64),
           i -> a.bits[i] <> b.bits[i])) <= 3
         ORDER BY id_a, id_b"""),

    // benchmark decontamination: eval docs (src1) whose word-3-gram
    // containment in any training doc reaches 0.5 (asymmetric — Jaccard
    // misses a prompt quoted inside a large doc); df cap unbound so the
    // full O(n²) cross twin is exact
    ContractQuery("q_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.ngramContainmentPairs(docs.filter(col("source") =!= "src1"),
          docs.filter(col("source") === "src1"),
          n = 3, threshold = 0.5, maxDocFreq = 1000000)
        .orderBy("eval_id", "train_id")
    },
      // full O(n²) cross twin of asymmetric containment; the filter is
      // written shared >= n_e * t to match the engine bit-for-bit
      """WITH toks AS (
           SELECT doc_id, source,
             list_filter(regexp_split_to_array(text, '[ \n\t\r]+'),
               x -> x <> '') AS tk
           FROM documents),
         grams AS (
           SELECT doc_id, source,
             list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 2, 0)),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gs
           FROM toks),
         ev AS (SELECT doc_id AS eval_id, gs, len(gs) AS n_e FROM grams
                WHERE source = 'src1' AND len(gs) > 0),
         tr AS (SELECT doc_id AS train_id, gs FROM grams
                WHERE source <> 'src1')
         SELECT e.eval_id, t.train_id,
           CAST(len(list_intersect(e.gs, t.gs)) AS DOUBLE) / e.n_e
             AS containment
         FROM ev e JOIN tr t ON TRUE
         WHERE CAST(len(list_intersect(e.gs, t.gs)) AS DOUBLE)
           >= e.n_e * 0.5
         ORDER BY eval_id, train_id"""),

    // incremental exact dedup: the new batch (source src0) anti-joined
    // against the reference corpus (all other sources) on md5(text)
    ContractQuery("q_dedup_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.exactNewOnly(docs.filter(col("source") === "src0"),
          docs.filter(col("source") =!= "src0"))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    },
      """SELECT i.doc_id, i.source, i.n_chars FROM documents i
         WHERE i.source = 'src0' AND NOT EXISTS (
           SELECT 1 FROM documents r
           WHERE r.source <> 'src0' AND r.text = i.text)
         ORDER BY i.doc_id"""),

    // incremental exact dedup via the broadcast BLOOM prefilter — the
    // disjoint-corpus scale shape (only might_contain survivors pay the
    // anti-join; no false negatives → result PROVABLY equals the plain
    // anti-join, so it shares q_dedup_incremental's ground-truth oracle)
    ContractQuery("q_dedup_bloom", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.exactNewOnlyBloom(docs.filter(col("source") === "src0"),
          docs.filter(col("source") =!= "src0"), expectedItems = 100000L)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    },
      // the bloom-prefiltered path must produce EXACTLY the anti-join result
      // (no false negatives) — same ground truth as q_dedup_incremental
      """SELECT i.doc_id, i.source, i.n_chars FROM documents i
         WHERE i.source = 'src0' AND NOT EXISTS (
           SELECT 1 FROM documents r
           WHERE r.source <> 'src0' AND r.text = i.text)
         ORDER BY i.doc_id"""),

    // incremental NEAR-dup dedup: new batch kept only where no reference
    // doc reaches exact shingle-Jaccard >= 0.7 among banding candidates;
    // oracle is the full O(n²) cross-corpus exact twin (cap unbound)
    ContractQuery("q_dedup_incremental_near", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.minhashNewOnly(docs.filter(col("source") === "src0"),
          docs.filter(col("source") =!= "src0"),
          threshold = 0.7, maxBucketSize = 100000)
        .select("doc_id").orderBy("doc_id")
    },
      // full O(n²) cross-corpus exact twin; comparison written as
      // shared >= union * t, matching the engine's formulation bit-for-bit
      """WITH grams AS (
           SELECT doc_id, source,
             list_distinct(list_transform(
               generate_series(1, greatest(length(text) - 4, 0)),
               i -> substr(text, i, 5))) AS gs
           FROM documents),
         inc AS (SELECT doc_id, gs FROM grams WHERE source = 'src0'),
         ref AS (SELECT doc_id, gs FROM grams WHERE source <> 'src0'),
         dup AS (
           SELECT DISTINCT i.doc_id
           FROM inc i JOIN ref r ON TRUE
           WHERE CAST(len(list_intersect(i.gs, r.gs)) AS DOUBLE) >=
             (len(i.gs) + len(r.gs) - len(list_intersect(i.gs, r.gs)))
               * 0.7)
         SELECT doc_id FROM inc
         WHERE doc_id NOT IN (SELECT doc_id FROM dup)
         ORDER BY doc_id"""),

    // wide-radius simhash (hamming <= 8 exceeds the 4-chunk pigeonhole
    // guarantee, so recall is approximate — but DETERMINISTICALLY so: the
    // oracle reproduces the chunk-collision candidate rule and the exact
    // hamming filter, hash-checking the approximation itself)
    ContractQuery("q_dedup_simhash_wide", (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), maxHamming = 8,
          maxBucketSize = 100000)
        .orderBy("id_a", "id_b"),
      // the wide radius exceeds the pigeonhole guarantee, so the twin also
      // reproduces the CANDIDATE rule (agreement on at least one 16-bit
      // chunk) — hash-checking the deterministic approximation itself
      s"""$simhashBitsCte
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_filter(generate_series(1, 64),
             i -> a.bits[i] <> b.bits[i])) AS BIGINT) AS hamming
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE (a.bits[1:16] = b.bits[1:16] OR a.bits[17:32] = b.bits[17:32]
            OR a.bits[33:48] = b.bits[33:48] OR a.bits[49:64] = b.bits[49:64])
           AND len(list_filter(generate_series(1, 64),
             i -> a.bits[i] <> b.bits[i])) <= 8
         ORDER BY id_a, id_b"""),

    // word n-gram Jaccard pairs. The oracle is the FULL O(n²) exact-Jaccard
    // self-join in DuckDB — hash-matching it proves the prefix+position-
    // filtered candidate generation (plus the df-cut) loses no pair at the
    // gate scale, not just that the survivors score correctly.
    ContractQuery("q_dedup_ngram", (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), n = 3, threshold = 0.5,
          maxDocFreq = 200)
        .orderBy("id_a", "id_b"),
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \n\t\r]+'),
               x -> x <> '') AS tk
           FROM documents),
         grams AS (
           SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 2, 0)),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gs
           FROM toks),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
               (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)))
               AS jaccard
           FROM grams a JOIN grams b ON a.doc_id < b.doc_id
           WHERE len(a.gs) > 0 AND len(b.gs) > 0)
         SELECT id_a, id_b, jaccard FROM pairs
         WHERE jaccard >= 0.5 ORDER BY id_a, id_b"""),

    // the END-TO-END near-dup pipeline a training job actually runs:
    // pair generation (n-gram Jaccard, proven lossless vs its full exact
    // twin) -> connected components (RDD pointer jumping) -> one canonical
    // survivor per component; the oracle rebuilds the exact pair graph and
    // labels components with a recursive CTE
    ContractQuery("q_dedup_survivors", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5,
        maxDocFreq = 200)
      Dedup.nearDupSurvivors(docs, pairs)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    },
      // exact pair graph + recursive-CTE component labeling (min reachable
      // id via bidirectional label propagation), survivors = component minima
      """WITH RECURSIVE toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \n\t\r]+'),
               x -> x <> '') AS tk
           FROM documents),
         grams AS (
           SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 2, 0)),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gs
           FROM toks),
         edges AS (
           SELECT a.doc_id AS src, b.doc_id AS dst
           FROM grams a JOIN grams b ON a.doc_id < b.doc_id
           WHERE len(a.gs) > 0 AND len(b.gs) > 0
             AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
               (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)))
               >= 0.5),
         bi AS (SELECT src, dst FROM edges
                UNION SELECT dst, src FROM edges),
         reach(id, label) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT b.dst, r.label FROM reach r JOIN bi b ON b.src = r.id),
         comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id)
         SELECT d.doc_id, d.source, d.n_chars
         FROM documents d JOIN comp c ON d.doc_id = c.id
         WHERE c.component = d.doc_id
         ORDER BY d.doc_id"""),

    // best-member survivor policy: same clusters as q_dedup_survivors but
    // each cluster keeps its LONGEST member (ties -> lowest id) — the
    // "most complete copy" policy production dedup wants; one extra
    // component-keyed argmax aggregate
    ContractQuery("q_dedup_best", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5,
        maxDocFreq = 200)
      Dedup.nearDupSurvivorsBy(docs, pairs, col("n_chars"))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    },
      // same component labeling, best-member (longest, ties -> lowest id)
      // selection instead of min-id canonical
      """WITH RECURSIVE toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \n\t\r]+'),
               x -> x <> '') AS tk
           FROM documents),
         grams AS (
           SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 2, 0)),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gs
           FROM toks),
         edges AS (
           SELECT a.doc_id AS src, b.doc_id AS dst
           FROM grams a JOIN grams b ON a.doc_id < b.doc_id
           WHERE len(a.gs) > 0 AND len(b.gs) > 0
             AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
               (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)))
               >= 0.5),
         bi AS (SELECT src, dst FROM edges
                UNION SELECT dst, src FROM edges),
         reach(id, label) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT b.dst, r.label FROM reach r JOIN bi b ON b.src = r.id),
         comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id),
         sel AS (
           SELECT c.id,
             row_number() OVER (PARTITION BY c.component
               ORDER BY d.n_chars DESC, c.id) AS rn
           FROM comp c JOIN documents d ON d.doc_id = c.id)
         SELECT d.doc_id, d.source, d.n_chars
         FROM documents d JOIN sel s ON d.doc_id = s.id
         WHERE s.rn = 1
         ORDER BY d.doc_id"""),

    // connected components over a pair graph (near-dup clustering: label
    // every doc with its component's minimum id). The query's edge set —
    // consecutive doc_ids sharing a language — forms chain components, so
    // the oracle is a gaps-and-islands SQL while the Spark operator is the
    // generic pointer-jumping label propagation over ANY graph.
    ContractQuery("q_connected_components", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val a = docs.select(col("doc_id").as("src"), col("lang").as("la"))
      val b = docs.select(col("doc_id").as("dst"), col("lang").as("lb"))
      val edges = a.join(b, col("dst") === col("src") + 1 && col("la") === col("lb"))
        .select("src", "dst")
      Dedup.connectedComponents(docs.select(col("doc_id").as("id")), edges)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    },
      """WITH flags AS (
           SELECT doc_id, lang,
             CASE WHEN lag(lang) OVER (ORDER BY doc_id) = lang
                  THEN 0 ELSE 1 END AS new_run
           FROM documents),
         runs AS (
           SELECT doc_id,
             sum(new_run) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
               AS run_id
           FROM flags)
         SELECT doc_id, min(doc_id) OVER (PARTITION BY run_id) AS component
         FROM runs ORDER BY doc_id"""),

    // sorted-neighborhood blocking (the third classic dedup blocking
    // paradigm next to LSH bands and PPJoin prefixes): slide a 4-wide
    // window down the prefix-sorted order inside 2-char blocks, then
    // exact-verify candidates with the fingerprint Jaccard
    ContractQuery("q_sorted_neighborhood", (s, dir) =>
      Dedup.sortedNeighborhoodPairs(t(s, dir, "documents"), n = 3,
          windowSize = 4, blockChars = 2, keyChars = 12, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      // lead-window candidate pairs inside prefix blocks + the string-gram
      // Jaccard of the ngram twin
      """WITH slim AS (SELECT doc_id AS id, substr(text, 1, 12) AS skey,
             substr(text, 1, 2) AS block
           FROM documents),
         nb AS (SELECT id AS id_x,
             lead(id, 1) OVER w AS n1, lead(id, 2) OVER w AS n2,
             lead(id, 3) OVER w AS n3
           FROM slim WINDOW w AS (PARTITION BY block ORDER BY skey, id)),
         prs AS (SELECT DISTINCT least(id_x, y) AS id_a,
             greatest(id_x, y) AS id_b
           FROM nb, unnest([n1, n2, n3]) AS t(y) WHERE y IS NOT NULL),
         toks AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \n\t\r]+'),
               x -> x <> '') AS tk
           FROM documents),
         grams AS (SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 2, 0)),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gs
           FROM toks),
         j AS (SELECT p.id_a, p.id_b,
             CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
               (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)))
               AS jaccard
           FROM prs p JOIN grams a ON a.doc_id = p.id_a
             JOIN grams b ON b.doc_id = p.id_b
           WHERE len(a.gs) > 0 AND len(b.gs) > 0)
         SELECT id_a, id_b, jaccard FROM j
         WHERE jaccard >= 0.5 ORDER BY id_a, id_b"""),

    // per-source dedup impact: share of each source's docs that are
    // exact copies of earlier corpus content (keep-first policy) — which
    // feeds pump duplicates; exact counts, one quotient
    ContractQuery("q_dedup_report", (s, dir) =>
      Dedup.dedupReport(t(s, dir, "documents"), stratumCol = "source")
        .orderBy("source"),
      // duplicate = text seen under a smaller doc_id anywhere; charged to
      // the later doc's source
      """WITH f AS (SELECT text, min(doc_id) AS keeper FROM documents
           GROUP BY text)
         SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN d.doc_id <> f.keeper THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dups,
           CAST(sum(CASE WHEN d.doc_id <> f.keeper THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_rate
         FROM documents d JOIN f ON d.text = f.text
         GROUP BY d.source ORDER BY d.source"""),

    // per-source exact-dedup rate: the corpus-governance report that says
    // WHICH feeds are copy-heavy (survivor = global min doc_id per text,
    // so a dup group spanning sources charges every non-surviving source).
    // Two grouped counts + one small left join; one division per source
    ContractQuery("q_dedup_rate", (s, dir) => {
      val d = t(s, dir, "documents")
      val perAll = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val perKept = graft.dedup.Dedup.exactKept(d)
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      perAll.join(perKept, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          ((col("n_docs") - coalesce(col("n_kept"), lit(0L)))
            .cast(DoubleType) / col("n_docs").cast(DoubleType))
            .as("dup_rate"))
        .orderBy("source")
    },
      // survivor = global min doc_id per text (the q_dedup_exact policy)
      """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents
           GROUP BY text),
         pa AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1),
         pk AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
           FROM documents d JOIN keep k ON d.doc_id = k.doc_id
           GROUP BY 1)
         SELECT pa.source, pa.n_docs,
           CAST(COALESCE(pk.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(pa.n_docs - COALESCE(pk.n_kept, 0) AS DOUBLE) /
             CAST(pa.n_docs AS DOUBLE) AS dup_rate
         FROM pa LEFT JOIN pk ON pa.source = pk.source
         ORDER BY pa.source"""),

    ContractQuery("q_sql_dedup_rate", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents
          GROUP BY text),
        pa AS (SELECT source, count(*) AS n_docs FROM documents
          GROUP BY source),
        pk AS (SELECT d.source, count(*) AS n_kept
          FROM documents d JOIN keep k ON d.doc_id = k.doc_id
          GROUP BY d.source)
        SELECT pa.source, pa.n_docs,
               CAST(coalesce(pk.n_kept, 0) AS BIGINT) AS n_kept,
               CAST(pa.n_docs - coalesce(pk.n_kept, 0) AS DOUBLE) /
                 CAST(pa.n_docs AS DOUBLE) AS dup_rate
        FROM pa LEFT JOIN pk ON pa.source = pk.source
        ORDER BY pa.source""")
    },
      """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents
           GROUP BY text),
         pa AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1),
         pk AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
           FROM documents d JOIN keep k ON d.doc_id = k.doc_id
           GROUP BY 1)
         SELECT pa.source, pa.n_docs,
           CAST(COALESCE(pk.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(pa.n_docs - COALESCE(pk.n_kept, 0) AS DOUBLE) /
             CAST(pa.n_docs AS DOUBLE) AS dup_rate
         FROM pa LEFT JOIN pk ON pa.source = pk.source
         ORDER BY pa.source"""),

    // simhash threshold calibration: hamming distance next to the exact
    // shingle Jaccard for every pigeonhole-complete candidate pair — the
    // evidence for choosing a production radius on THIS corpus
    ContractQuery("q_simhash_calibration", (s, dir) =>
      Dedup.simhashCalibration(t(s, dir, "documents"), maxHamming = 3,
          shingle = 5)
        .orderBy("id_a", "id_b"),
      // the HUGEINT simhash bits + exact byte-shingle Jaccard per
      // candidate pair (all pairs at hamming <= 3: pigeonhole-complete)
      s"""$simhashBitsCte,
         grams AS (
           SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(length(text) - 4, 0)),
               i -> substr(text, i, 5))) AS gs
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_filter(generate_series(1, 64),
             i -> a.bits[i] <> b.bits[i])) AS BIGINT) AS hamming,
           CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE) /
             (len(ga.gs) + len(gb.gs) - len(list_intersect(ga.gs, gb.gs)))
             AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           JOIN grams ga ON ga.doc_id = a.doc_id
           JOIN grams gb ON gb.doc_id = b.doc_id
         WHERE len(list_filter(generate_series(1, 64),
             i -> a.bits[i] <> b.bits[i])) <= 3
           AND len(ga.gs) > 0 AND len(gb.gs) > 0
         ORDER BY id_a, id_b"""),

    // leakage-safe train/eval split: near-duplicate documents co-assign to
    // the same split (pairs → connected components → hash split on the
    // component label), so eval never contains a near-copy of a training
    // doc. Same pair generator as q_dedup_survivors; the twin relabels
    // components with the recursive CTE and replays the two-limb split
    // hash on the component id.
    ContractQuery("q_split_leakage_safe", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5,
        maxDocFreq = 200)
      Dedup.leakageSafeSplit(docs, pairs, trainPct = 80)
        .select("doc_id", "component", "split")
        .orderBy("doc_id")
    },
      // q_dedup_survivors' recursive-CTE component labeling + the q_split
      // two-limb hash, applied to the COMPONENT label
      """WITH RECURSIVE toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \n\t\r]+'),
               x -> x <> '') AS tk
           FROM documents),
         grams AS (
           SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 2, 0)),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gs
           FROM toks),
         edges AS (
           SELECT a.doc_id AS src, b.doc_id AS dst
           FROM grams a JOIN grams b ON a.doc_id < b.doc_id
           WHERE len(a.gs) > 0 AND len(b.gs) > 0
             AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
               (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)))
               >= 0.5),
         bi AS (SELECT src, dst FROM edges
                UNION SELECT dst, src FROM edges),
         reach(id, label) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT b.dst, r.label FROM reach r JOIN bi b ON b.src = r.id),
         comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id)
         SELECT d.doc_id, c.component,
           CASE WHEN (
               ((c.component % 4294967296) % 65536) * 2654435761
               + ((((c.component % 4294967296) // 65536) * 2654435761) % 65536) * 65536
             ) % 4294967296 % 100 < 80
             THEN 'train' ELSE 'eval' END AS split
         FROM documents d JOIN comp c ON d.doc_id = c.id
         ORDER BY d.doc_id""")
  )
}
