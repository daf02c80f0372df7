package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.expressions.RollingHash
import graft.operators.{Dedup, Similarity}

/** Training-data-pipeline coverage over the `documents` and `embeddings`
  * tables: text analysis, dedup (exact / MinHash / SimHash / n-gram
  * Jaccard / embedding-cosine), similarity search, and end-to-end
  * pipeline composition (p01/p02). EVERY query carries an exact DuckDB
  * oracle — the LSH/sketch pipelines via [[OracleSql]]'s bit-exact
  * xxhash64 emulation — and the approximate ones additionally have
  * ScalaTest recall specs on known near-dups.
  */
object Corpus {

  // ---------------- text analysis ----------------

  val t01_token_stats = QueryDef(
    "t01_token_stats",
    (s, dir) =>
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          length(col("text")).as("n_chars"),
          tokenCount(col("text")).as("n_tokens"),
          size(tokenSet(col("text"))).as("n_distinct_tokens"))
        .orderBy(col("doc_id")),
    // documents.text is single-space word soup -> token count is
    // (spaces + 1); distinct via list functions.
    Some("""
      SELECT doc_id,
             length(text) AS n_chars,
             length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
             length(list_distinct(string_split(lower(text), ' '))) AS n_distinct_tokens
      FROM documents ORDER BY doc_id"""),
    bench = true)

  val t02_quality = QueryDef(
    "t02_quality",
    (s, dir) =>
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          round(alphaRatio(col("text")), 6).as("alpha_ratio"),
          round(digitRatio(col("text")), 6).as("digit_ratio"),
          round(meanTokenLength(col("text")), 6).as("mean_token_len"),
          qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
        round((length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) * 1.0
              / length(text), 6) AS alpha_ratio,
        round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
              / length(text), 6) AS digit_ratio,
        round(length(replace(text, ' ', '')) * 1.0
              / (length(text) - length(replace(text, ' ', '')) + 1), 6) AS mean_token_len,
        round(((length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) * 1.0
               / length(text)) * 0.6
          + (1.0 - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
               / length(text)) * 0.2
          + least((length(replace(text, ' ', '')) * 1.0
               / (length(text) - length(replace(text, ' ', '')) + 1)) / 10.0, 1.0) * 0.2,
          6) AS quality
      FROM documents ORDER BY doc_id"""),
    bench = true)

  /** Stopword-ratio score columns over a token-list column `ts`,
    * generated from the SAME `langProfiles` the engine scores with
    * (rounded to 6; argmax CASE with lexicographic tie-break, langs
    * pre-sorted) — shared by t03 and the p01 pipeline oracle. */
  private def langScoreCols: String = {
    val langs = graft.functions.TextFunctions.langProfiles.toSeq.sortBy(_._1)
    langs.map { case (l, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"    round(len(list_filter(ts, t -> list_contains($arr, t))) * 1.0 / len(ts), 6) AS r_$l"
    }.mkString(",\n")
  }
  private def langCase: String = {
    val names = graft.functions.TextFunctions.langProfiles.keys.toSeq.sorted
    val cases = names.init.map { l =>
      val conds = names.filter(_ != l).map(o => s"r_$l >= r_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"CASE $cases ELSE '${names.last}' END"
  }

  private def langIdOracleSql: String =
    s"""
      WITH toks AS (
        SELECT doc_id, lang AS labeled_lang,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents),
      scored AS (
        SELECT doc_id, labeled_lang,
$langScoreCols
        FROM toks)
      SELECT doc_id, labeled_lang, $langCase AS predicted_lang
      FROM scored ORDER BY doc_id"""

  val t03_langid = QueryDef(
    "t03_langid",
    (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"), col("lang").as("labeled_lang"),
          langId(col("text")).as("predicted_lang"))
        .orderBy(col("doc_id")),
    Some(langIdOracleSql))

  /** Multiclass language-ID evaluation ([[graft.operators.Scoring
    * .multiclassMetrics]]): the confusion-matrix rollup of t03's
    * predictions against the labeled language — per-class support,
    * predicted counts, tp, precision/recall/F1 (NULL-not-NaN when a
    * class never occurs on one side). The oracle recomputes the same
    * stopword-profile argmax CTEs as t03, then the same exact-count
    * rollup. */
  val t40_langid_eval = QueryDef(
    "t40_langid_eval",
    (s, dir) =>
      graft.operators.Scoring
        .multiclassMetrics(
          Tables(s, dir).documents
            .select(col("lang"), langId(col("text")).as("pred")),
          "lang", "pred")
        .orderBy(col("cls")),
    Some(s"""
      WITH toks AS (
        SELECT doc_id, lang AS labeled_lang,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents),
      scored AS (
        SELECT doc_id, labeled_lang,
$langScoreCols
        FROM toks),
      t40_cm AS (
        SELECT labeled_lang AS t, $langCase AS p,
               cast(count(*) AS BIGINT) AS n
        FROM scored GROUP BY 1, 2),
      t40_bt AS (SELECT t, cast(sum(n) AS BIGINT) AS n_true
                 FROM t40_cm GROUP BY 1),
      t40_bp AS (SELECT p AS t, cast(sum(n) AS BIGINT) AS n_pred
                 FROM t40_cm GROUP BY 1),
      t40_di AS (SELECT t, n AS tp FROM t40_cm WHERE t = p),
      t40_j AS (
        SELECT coalesce(bt.t, bp.t) AS cls,
               coalesce(bt.n_true, 0) AS n_true,
               coalesce(bp.n_pred, 0) AS n_pred,
               coalesce(di.tp, 0) AS tp
        FROM t40_bt bt
        FULL OUTER JOIN t40_bp bp ON bt.t = bp.t
        LEFT JOIN t40_di di ON coalesce(bt.t, bp.t) = di.t)
      SELECT cls, n_true, n_pred, tp,
             CASE WHEN n_pred = 0 THEN NULL
                  ELSE round(CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE), 6)
             END AS precision,
             CASE WHEN n_true = 0 THEN NULL
                  ELSE round(CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE), 6)
             END AS recall,
             CASE WHEN n_true + n_pred = 0 THEN NULL
                  ELSE round(CAST(2 * tp AS DOUBLE)
                             / CAST(n_true + n_pred AS DOUBLE), 6)
             END AS f1
      FROM t40_j ORDER BY cls"""))

  /** Deterministic ROUGE-L fixture: 80 (ref, cand) token-sequence
    * pairs from residue arithmetic — SF-independent by design, so the
    * oracle can be a TWIN-VALUES table: an independent memoized-
    * recursion LCS (below) computes the expected rows at oracle-
    * generation time, pinning the distributed two-row-DP kernel
    * against a structurally different reference implementation. */
  private def t41Fixture: Seq[(Long, String, String)] =
    (0L until 80L).map { i =>
      val ref = (0 until 12).map(j => s"w${(i * 7 + j * 3) % 13}").mkString(" ")
      val cand = (0 until 10).map(j => s"w${(i * 5 + j * 2) % 11}").mkString(" ")
      (i, ref, cand)
    }

  /** Independent LCS twin (top-down memoized recursion — deliberately
    * NOT the kernel's iterative two-row DP). */
  private def t41LcsTwin(a: Seq[String], b: Seq[String]): Int = {
    val memo = scala.collection.mutable.Map.empty[(Int, Int), Int]
    def go(i: Int, j: Int): Int =
      if (i == a.length || j == b.length) 0
      else memo.getOrElseUpdate((i, j),
        if (a(i) == b(j)) 1 + go(i + 1, j + 1)
        else math.max(go(i + 1, j), go(i, j + 1)))
    go(0, 0)
  }

  private def t41Oracle: String = {
    def r6(x: Double): String = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString
    val rows = t41Fixture.map { case (i, ref, cand) =>
      val (ra, ca) = (ref.split(" ").toSeq, cand.split(" ").toSeq)
      val l = t41LcsTwin(ra, ca)
      val (nr, nc) = (ra.size, ca.size)
      s"($i, $l, $nr, $nc, ${r6(l.toDouble / nc)}, ${r6(l.toDouble / nr)}, " +
        s"${r6(2.0 * l / (nr + nc))})"
    }
    s"""
      SELECT pair_id, cast(lcs AS BIGINT) AS lcs,
             cast(ref_tokens AS BIGINT) AS ref_tokens,
             cast(cand_tokens AS BIGINT) AS cand_tokens,
             cast(rouge_l_p AS DOUBLE) AS rouge_l_p,
             cast(rouge_l_r AS DOUBLE) AS rouge_l_r,
             cast(rouge_l_f AS DOUBLE) AS rouge_l_f
      FROM (VALUES ${rows.mkString(", ")})
        AS t(pair_id, lcs, ref_tokens, cand_tokens,
             rouge_l_p, rouge_l_r, rouge_l_f)
      ORDER BY pair_id"""
  }

  /** ROUGE-L ([[graft.operators.Scoring.rougeL]]): LCS-based
    * precision/recall/F via the native two-row-DP codegen kernel,
    * gated against an independently implemented twin (memoized
    * recursion) through the VALUES oracle. */
  val t41_rouge_l = QueryDef(
    "t41_rouge_l",
    (s, dir) => {
      import s.implicits._
      graft.operators.Scoring
        .rougeL(t41Fixture.toDF("pair_id", "ref", "cand"), "ref", "cand")
        .select(col("pair_id"), col("lcs"), col("ref_tokens"),
          col("cand_tokens"), col("rouge_l_p"), col("rouge_l_r"),
          col("rouge_l_f"))
        .orderBy(col("pair_id"))
    },
    Some(t41Oracle))

  val t04_fingerprint = QueryDef(
    "t04_fingerprint",
    (s, dir) =>
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          RollingHash.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id")),
    // The wrapping 64-bit polynomial hash, emulated in DuckDB with
    // HUGEINT arithmetic mod 2^64 then mapped back to signed — exact for
    // the ASCII documents corpus (ascii(c) == the UTF-8 byte).
    Some("""
      SELECT doc_id,
        CAST(CASE WHEN r >= 9223372036854775808::HUGEINT
                  THEN r - 18446744073709551616::HUGEINT ELSE r END AS BIGINT) AS fingerprint
      FROM (
        SELECT doc_id,
          list_reduce(
            list_prepend(0::HUGEINT, list_transform(string_split(text, ''), c -> ascii(c)::HUGEINT)),
            (a, b) -> (a * 1000003::HUGEINT + b) % 18446744073709551616::HUGEINT) AS r
        FROM documents)
      ORDER BY doc_id"""),
    bench = true)

  /** BPE-ish pretokenization counts — the corpus-size proxy a training
    * pipeline budgets by. Oracle runs the IDENTICAL pattern under RE2. */
  val t05_bpe_tokens = QueryDef(
    "t05_bpe_tokens",
    (s, dir) =>
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          bpeTokenCount(col("text")).as("n_bpe_tokens"),
          // try_: an empty document has no pretokens; plain element_at
          // would error under ANSI (DuckDB's [1] yields NULL)
          try_element_at(bpeTokens(col("text")), lit(1)).as("first_token"))
        .orderBy(col("doc_id")),
    Some(s"""
      SELECT doc_id,
             len(regexp_extract_all(text, $$$$${graft.functions.TextFunctions.bpePattern}$$$$)) AS n_bpe_tokens,
             regexp_extract_all(text, $$$$${graft.functions.TextFunctions.bpePattern}$$$$)[1] AS first_token
      FROM documents ORDER BY doc_id"""))

  /** The t02 quality formula verbatim (double-op order matters: the
    * pipeline oracles must produce bit-identical rounded doubles). */
  private val qualitySql: String =
    """round(((length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) * 1.0
               / length(text)) * 0.6
          + (1.0 - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
               / length(text)) * 0.2
          + least((length(replace(text, ' ', '')) * 1.0
               / (length(text) - length(replace(text, ' ', '')) + 1)) / 10.0, 1.0) * 0.2,
          6)"""

  /** End-to-end corpus-cleaning pipeline — the composition a training-
    * data run actually executes: quality-score -> threshold filter ->
    * language-consistency filter (predicted == labeled) -> normalized
    * exact dedup -> per-language budget stats. Exercises that the text,
    * dedup and aggregate operators COMPOSE in one plan: all narrow
    * per-row kernels fused into the scan, then one dedup shuffle and one
    * stats shuffle. Oracle replays the identical chain in DuckDB CTEs. */
  private val p01Oracle: String =
    s"""
      WITH scored AS (
        SELECT doc_id, lang, text,
               $qualitySql AS q,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts,
               length(text) - length(replace(text, ' ', '')) + 1 AS nt
        FROM documents),
      langed AS (
        SELECT doc_id, lang, text, q, nt,
$langScoreCols
        FROM scored),
      kept AS (
        SELECT doc_id, lang, text, q, nt,
               CASE WHEN ($langCase) = lang THEN 1 ELSE 0 END AS consistent
        FROM langed WHERE q >= 0.78),
      surv AS (
        SELECT min(doc_id) AS doc_id, count(*) AS n_dups
        FROM kept GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')),
      j AS (SELECT k.lang, k.nt, k.q, k.consistent, s.n_dups
            FROM surv s JOIN kept k USING (doc_id))
      SELECT lang, count(*) AS n_docs,
             cast(sum(n_dups) as bigint) AS n_raw_docs,
             cast(sum(consistent) as bigint) AS n_lang_consistent,
             cast(sum(nt) as bigint) AS sum_tokens,
             round(cast(sum(cast(q as decimal(18,6))) as double) / count(*), 6) AS avg_quality
      FROM j GROUP BY lang ORDER BY lang"""

  val p01_corpus_pipeline = QueryDef(
    "p01_corpus_pipeline",
    (s, dir) => {
      val scored = Tables(s, dir).documents.select(
        col("doc_id"), col("lang"), col("text"),
        qualityScore(col("text")).as("q"),
        langId(col("text")).as("pl"),
        tokenCount(col("text")).as("nt"))
      val kept = scored
        .filter(col("q") >= 0.78)
        .withColumn("consistent", when(col("pl") === col("lang"), 1L).otherwise(0L))
        .withColumn("__norm", regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      val surv = Dedup
        .exact(kept, keys = Seq("__norm"), keep = "doc_id")
        .select(col("doc_id"), col("n_dups"))
      surv.join(kept, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_dups")).as("n_raw_docs"),
          sum(col("consistent")).as("n_lang_consistent"),
          sum(col("nt")).as("sum_tokens"),
          graft.operators.Aggregates.avgExact(col("q"), 6, 6).as("avg_quality"))
        .orderBy(col("lang"))
    },
    Some(p01Oracle),
    bench = true)

  /** Per-language token-budget selection: best-quality documents first
    * until the running token count crosses the (2000-token) budget — the
    * "fill the training mix" pattern. Runs through
    * [[graft.operators.Budget.tokenBudgetSelect]]: stratum aggregation +
    * broadcast offsets + a window bounded to one (lang, quality) stratum
    * per task — never a whole language on one task. Proven equal to the
    * direct one-window formulation in BudgetSpec; the oracle (which IS
    * that direct formulation, in SQL) is the same proof cross-engine.
    *
    * Budgets by REAL tokenizer counts under a vocabulary LEARNED from
    * this corpus end-to-end ([[corpusLearnedVocab]] — learn once, reuse
    * across pipeline consumers), not the whitespace proxy and not a
    * hand-rolled table: the full production shape, learn → count →
    * budget. Oracle is lazy for the same reason as t19's: it embeds the
    * twin-derived learned VALUES. */
  val p02_token_budget = QueryDef(
    "p02_token_budget",
    (s, dir) => {
      bpeCtx = Some((s, dir))
      val docs = Tables(s, dir).documents
      val scored = docs
        .select(col("doc_id"), col("lang"), qualityScore(col("text")).as("q"))
        .join(
          graft.operators.Bpe.tokenCounts(
            docs, "doc_id", "text", corpusLearnedVocab(s, dir)),
          Seq("doc_id"))
        .withColumnRenamed("n_bpe_tokens", "nt")
      graft.operators.Budget
        .tokenBudgetSelect(scored,
          groupCol = "lang", idCol = "doc_id", qCol = "q", ntCol = "nt",
          budget = 4000L)
        .select(col("lang"), col("doc_id"), col("q"), col("nt"), col("cum_tokens"))
        .orderBy(col("lang"), col("cum_tokens"), col("doc_id"))
    },
    None,
    oracleFn = Some { () =>
      s"""
      WITH RECURSIVE
      ${graft.operators.Bpe.countsSqlCtes(twinLearnedVocab())},
      scored AS (
        SELECT d.doc_id, d.lang, $qualitySql AS q, b.n_bpe_tokens AS nt
        FROM documents d JOIN bpe_counts b USING (doc_id)),
      c AS (
        SELECT lang, doc_id, q, nt,
               cast(sum(nt) OVER (PARTITION BY lang ORDER BY q DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS cum_tokens
        FROM scored)
      SELECT lang, doc_id, q, nt, cum_tokens FROM c
      WHERE cum_tokens - nt < 4000
      ORDER BY lang, cum_tokens, doc_id"""
    })

  // ---------------- dedup ----------------

  val d01_dedup_exact = QueryDef(
    "d01_dedup_exact",
    (s, dir) =>
      Dedup
        .exact(Tables(s, dir).documents, keys = Seq("text"), keep = "doc_id")
        .select(col("doc_id"), col("n_dups"))
        .orderBy(col("doc_id")),
    Some("""
      SELECT min(doc_id) AS doc_id, count(*) AS n_dups
      FROM documents GROUP BY text ORDER BY 1"""))

  val d02_dedup_exact_norm = QueryDef(
    "d02_dedup_exact_norm",
    (s, dir) => {
      val docs = Tables(s, dir).documents
        .withColumn(
          "__norm",
          regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      Dedup
        .exact(docs, keys = Seq("__norm"), keep = "doc_id")
        .select(col("doc_id"), col("n_dups"))
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT min(doc_id) AS doc_id, count(*) AS n_dups
      FROM documents
      GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
      ORDER BY 1"""))

  /** Exact DuckDB oracle for d03: re-runs the ENTIRE minhash pipeline —
    * shingling, 64-hash signatures (XXH64 via [[OracleSql]]), 16-band
    * hashing of the signed-decimal signature strings, bucket cap,
    * candidate pairing, exact-Jaccard verify — so the compare covers the
    * LSH index itself, not just the verified output. The 64 inner seeds
    * are constants (hashLong(42+i, 42)): computed here with Spark's own
    * XXH64 and inlined as literals. */
  private val d03Oracle: String = minhashPairsOracle(1000)

  /** The candidate-stage CTE chain of the MinHash oracle (through
    * `cand`, plus the `sh` shingle-set relation) — shared by every
    * verify metric replay (d03's shingle Jaccard, d20's edit ratio). */
  private def minhashCandidateCtes(cap: Long): String = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val M = BigInt(1) << 64
    val seeds = (0 until 64)
      .map(i => (BigInt(XXH64.hashLong(42L + i, 42L)) + M) % M)
      .mkString("[", ",", "]::HUGEINT[]")
    val mins = (0 until 64).map(j => s"min(gl[${j + 1}]) AS g$j").mkString(", ")
    val sigList = (0 until 64).map(j => s"g$j").mkString("list_value(", ", ", ")")
    s"""
      WITH base AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), __t -> __t <> '') AS toks
        FROM documents WHERE trim(text) <> ''),
      sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
                 ELSE list_transform(range(len(toks) - 2),
                        __i -> toks[__i+1] || ' ' || toks[__i+2] || ' ' || toks[__i+3]) END) AS sset
        FROM base),
      ds AS (SELECT doc_id, unnest(sset) AS s FROM sh),
      sb AS (SELECT s, ${OracleSql.xxh64Ascii("s")} AS hb
             FROM (SELECT DISTINCT s FROM ds)),
      sigl AS (
        SELECT ds.doc_id,
               list_transform($seeds, __sk -> ${OracleSql.u2s(OracleSql.xxh64Long("hb", "__sk"))}) AS gl
        FROM ds JOIN sb USING (s)),
      sigs AS (SELECT doc_id, $mins FROM sigl GROUP BY doc_id),
      sigarr AS (SELECT doc_id, $sigList AS sig FROM sigs),
      banded AS (
        SELECT doc_id, bs.band AS band,
               ${OracleSql.xxh64Ascii("array_to_string(list_slice(sig, 4*bs.band + 1, 4*bs.band + 4), ',')")} AS bh
        FROM sigarr CROSS JOIN (SELECT unnest(range(16)) AS band) bs
        QUALIFY row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) <= $cap),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)"""
  }

  private def minhashPairsOracle(cap: Long): String = {
    s"""${minhashCandidateCtes(cap)},
      verified AS (
        SELECT id_a, id_b,
               length(list_intersect(sa.sset, sb2.sset)) AS i,
               length(sa.sset) AS na, length(sb2.sset) AS nb
        FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
                  JOIN sh sb2 ON cand.id_b = sb2.doc_id)
      SELECT id_a, id_b, round(i * 1.0 / (na + nb - i), 6) AS jaccard
      FROM verified
      WHERE round(i * 1.0 / (na + nb - i), 6) >= 0.4
      ORDER BY id_a, id_b"""
  }

  val d03_minhash_pairs = QueryDef(
    "d03_minhash_pairs",
    (s, dir) =>
      Dedup
        .minhashPairs(
          Tables(s, dir).documents, "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16)
        .filter(col("jaccard") >= 0.4)
        .orderBy(col("id_a"), col("id_b")),
    Some(d03Oracle),
    bench = true)

  /** Exact edit-distance verification over the SAME candidate set as d03
    * ([[Dedup.editVerifiedPairs]]): the character-level revision-dedup
    * decision shingle Jaccard is blind to. Oracle = the shared candidate
    * CTE chain + DuckDB's own `levenshtein` (identical integer DP) and
    * the identical ratio arithmetic. */
  private val d20Oracle: String =
    s"""${minhashCandidateCtes(1000)},
      txt AS (SELECT doc_id, text FROM documents),
      scored AS (
        SELECT id_a, id_b,
               cast(levenshtein(ta.text, tb.text) AS BIGINT) AS lev,
               round(cast(1.0 AS DOUBLE) -
                 cast(levenshtein(ta.text, tb.text) AS DOUBLE) /
                 cast(greatest(length(ta.text), length(tb.text), 1) AS DOUBLE), 6) AS edit_sim
        FROM cand JOIN txt ta ON cand.id_a = ta.doc_id
                  JOIN txt tb ON cand.id_b = tb.doc_id)
      SELECT id_a, id_b, lev, edit_sim FROM scored
      WHERE edit_sim >= cast(0.8 AS DOUBLE) ORDER BY id_a, id_b"""

  val d20_edit_verify = QueryDef(
    "d20_edit_verify",
    (s, dir) =>
      Dedup
        .editVerifiedPairs(
          Tables(s, dir).documents, "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16, minRatio = 0.8)
        .orderBy(col("id_a"), col("id_b")),
    Some(d20Oracle))

  /** r=3 on a 64-bit sketch is the published operating point for web-scale
    * simhash near-dup (Manku, Jain & Sarma, WWW'07): 4 blocks of 16 bits,
    * guaranteed recall, 2^16-value buckets. Larger radii use the
    * pair-of-blocks indexes (exactness unit-tested at r=8 in DedupSpec). */
  /** Exact DuckDB oracle for d04: the multi-index recall guarantee
    * (pigeonhole over 4x16-bit blocks) means the engine's output IS the
    * full hamming<=3 pair set — so the oracle recomputes every document's
    * 64-bit SimHash from scratch (per-token XXH64 via [[OracleSql]]'s
    * validated HUGEINT emulation, per-bit majority vote) and all-pairs
    * compares. No LSH emulation needed: approximate index, exact output. */
  private val d04Oracle: String = {
    // hash each DISTINCT token once (word-soup corpora have a small
    // vocabulary); 64 per-bit majority votes as one aggregation pass
    val votes = (0 until 64)
      .map(j => s"sum(CASE WHEN (h // ${(BigInt(1) << j).toString}) % 2 = 1 THEN 1 ELSE -1 END) AS c$j")
      .mkString(",\n               ")
    val assemble = (0 until 64)
      .map(j => s"CASE WHEN c$j > 0 THEN ${(BigInt(1) << j).toString}::HUGEINT ELSE 0::HUGEINT END")
      .mkString(" + ")
    s"""
      WITH th AS (
        SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), __t -> __t <> '')) AS tok
        FROM documents),
      hd AS (
        SELECT tok, ${OracleSql.xxh64Ascii("tok")} AS h FROM (SELECT DISTINCT tok FROM th)),
      bits AS (
        SELECT th.doc_id,
               $votes
        FROM th JOIN hd ON th.tok = hd.tok
        GROUP BY th.doc_id),
      sim AS (
        SELECT doc_id, ($assemble) AS s FROM bits),
      allsim AS (
        SELECT d.doc_id, coalesce(s.s, 0)::UBIGINT AS s
        FROM documents d LEFT JOIN sim s ON d.doc_id = s.doc_id)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             bit_count(xor(a.s, b.s))::INT AS hamming
      FROM allsim a JOIN allsim b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.s, b.s)) <= 3"""
  }

  val d04_simhash_pairs = QueryDef(
    "d04_simhash_pairs",
    (s, dir) =>
      Dedup
        .simhashPairs(Tables(s, dir).documents, "doc_id", "text", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b")),
    Some(d04Oracle),
    bench = true)

  /** Dedup clustering: connected components over d03's verified pair
    * graph — pairwise matches become groups with a minimum-id
    * representative. Oracle: the same d03 pipeline as the edge source,
    * then a recursive CTE computing min-reachable-id (the exact CC
    * fixpoint, independent of iteration strategy). */
  // `MATERIALIZED` is load-bearing: without it DuckDB re-inlines the
  // whole minhash pipeline into every recursive `reach` iteration —
  // >900 s at sf0.1 vs 95 s materialized (same rows).
  private val d07Oracle: String =
    s"""
      WITH RECURSIVE pairs AS MATERIALIZED (SELECT * FROM ($d03Oracle) __d03),
      edges AS MATERIALIZED (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs),
      nodes AS (SELECT DISTINCT s AS id FROM edges),
      reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s)
      SELECT id, min(r) AS comp FROM reach GROUP BY id ORDER BY id"""

  val d07_dedup_clusters = QueryDef(
    "d07_dedup_clusters",
    (s, dir) => {
      val pairs = Dedup
        .minhashPairs(
          Tables(s, dir).documents, "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16)
        .filter(col("jaccard") >= 0.4)
      Dedup.connectedComponents(pairs, "id_a", "id_b").orderBy(col("id"))
    },
    Some(d07Oracle))

  /** Soft dedup ([[Dedup.duplicateWeights]]): d07's clusters turned
    * into per-document loss weights (1/|cluster|, unclustered = 1.0) —
    * down-weight duplicates instead of dropping them. Oracle: the d07
    * recursive-CTE components, sized, left-joined to the corpus. */
  val d25_dup_weights = QueryDef(
    "d25_dup_weights",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val pairs = Dedup
        .minhashPairs(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16)
        .filter(col("jaccard") >= 0.4)
      Dedup.duplicateWeights(
          docs, Dedup.connectedComponents(pairs, "id_a", "id_b"), "doc_id")
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH d25_comps AS MATERIALIZED (SELECT * FROM ($d07Oracle) __c),
      d25_sizes AS (
        SELECT comp, cast(count(*) AS BIGINT) AS cluster_size
        FROM d25_comps GROUP BY 1)
      SELECT d.doc_id,
             coalesce(c.comp, d.doc_id) AS rep,
             coalesce(s.cluster_size, 1) AS cluster_size,
             round(1.0 / coalesce(s.cluster_size, 1)::DOUBLE, 6) AS weight
      FROM documents d
      LEFT JOIN d25_comps c ON d.doc_id = c.id
      LEFT JOIN d25_sizes s ON c.comp = s.comp
      ORDER BY d.doc_id"""))

  /** INCREMENTAL dedup clustering ([[Dedup.mergeComponents]]): the
    * cluster view of the continual-ingest loop. Yesterday's corpus
    * (doc_id % 5 != 0) has its components computed once; today's batch
    * arrives and only the pairs TOUCHING the batch are folded in via
    * the star-edge merge — the old pair graph is never recomputed. The
    * oracle is d07's full-graph recursive-CTE replay, completely blind
    * to the incremental path: merge(CC(old), new) must equal
    * CC(old ∪ new) row for row. (Pair sets restrict cleanly: MinHash
    * signatures are per-document, so banding a sub-corpus yields
    * exactly the full run's pairs among those documents.) */
  val p20_incremental_clusters = QueryDef(
    "p20_incremental_clusters",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val all = Dedup
        .minhashPairs(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16)
        .filter(col("jaccard") >= 0.4)
      val bothOld = (col("id_a") % 5 =!= 0) && (col("id_b") % 5 =!= 0)
      val oldComps = Dedup.connectedComponents(all.filter(bothOld))
      Dedup.mergeComponents(oldComps, all.filter(!bothOld))
        .orderBy(col("id"))
    },
    Some(d07Oracle))

  /** Order-invariant corpus CONTENT fingerprint: per source, the XOR
    * of every document's (id, text) hash — the constant-size equality
    * certificate for comparing replicas, migrations, or re-runs of a
    * 100 TB corpus without moving data: any row changed, added or
    * dropped flips the fingerprint (XOR cancels DUPLICATED rows, so
    * the row count rides along; ids make identical texts distinct).
    * XOR is associative/commutative/order-free — one scan, map-side
    * partials, no sort anywhere — and the oracle replays the chained
    * two-argument xxhash64 (text hashed with seed = hash(doc_id))
    * bit-for-bit. */
  val p22_corpus_fingerprint = QueryDef(
    "p22_corpus_fingerprint",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      docs
        .select(col("source"), xxhash64(col("doc_id"), col("text")).as("__h"))
        .groupBy(col("source"))
        .agg(
          expr("bit_xor(__h)").as("fingerprint"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH p22_fp AS (
        SELECT source,
               cast(${OracleSql.u2s(OracleSql.xxh64Ascii("text",
                 seed = OracleSql.xxh64Long(OracleSql.s2u("doc_id"))))} AS BIGINT) AS h
        FROM documents)
      SELECT source, bit_xor(h) AS fingerprint,
             cast(count(*) AS BIGINT) AS n_docs
      FROM p22_fp GROUP BY source ORDER BY source"""))

  /** Weighted-interleave training schedule ([[graft.operators.Sampling
    * .interleaveSchedule]]): the first 200 positions of the
    * deterministic multi-source mixing order — token-mass sqrt weights
    * (p04's alpha = 0.5 rule), per-source hash-shuffled ranks, exact
    * long schedule keys; the head is a TakeOrderedAndProject, the full
    * order materializes via a range-partitioned write (p14's export
    * machinery). The oracle replays masses, strides, ranks and the key
    * sort bit-for-bit. */
  val p25_interleave_schedule = QueryDef(
    "p25_interleave_schedule",
    (s, dir) =>
      graft.operators.Sampling
        .interleaveSchedule(
          Tables(s, dir).documents, "doc_id", "source",
          massExpr = tokenCount(col("text")))
        .select(col("doc_id"), col("source"), col("src_rank"), col("sched_key"))
        .orderBy(col("sched_key"), col("source"), col("doc_id"))
        .limit(200),
    Some(s"""
      WITH p25_m AS (
        SELECT source,
               cast(sum(length(text) - length(replace(text, ' ', '')) + 1)
                 AS BIGINT) AS mass
        FROM documents GROUP BY source),
      p25_st AS (
        SELECT source, stride, ((hs % stride) + stride) % stride AS off
        FROM (SELECT source,
                     greatest(1, CAST(round(1000000000.0 / sqrt(cast(mass AS DOUBLE)), 0)
                       AS BIGINT)) AS stride,
                     cast(${OracleSql.u2s(OracleSql.xxh64Ascii("source"))} AS BIGINT) AS hs
              FROM p25_m)),
      p25_r AS (
        SELECT doc_id, source,
               cast(row_number() OVER (
                 PARTITION BY source
                 ORDER BY cast(${OracleSql.u2s(OracleSql.xxh64Long(OracleSql.s2u("doc_id")))} AS BIGINT) ASC,
                          doc_id ASC) AS BIGINT) AS src_rank
        FROM documents)
      SELECT doc_id, source, src_rank, src_rank * stride + off AS sched_key
      FROM p25_r JOIN p25_st USING (source)
      ORDER BY sched_key, source, doc_id LIMIT 200"""))

  /** END-TO-END PIPELINE DEMO — SURVEY §7.1's north star as ONE
    * registered query: the composition a training-data run actually
    * executes, every stage an operator this library ships.
    *
    *   near-dup clustering (MinHash LSH → connected components, FULL
    *   corpus — cluster identity must pre-date any filtering, or a
    *   filtered-out bridge document would silently split a cluster and
    *   let leakage back in) → quality filter → normalized exact dedup
    *   → cluster-aware leakage-free split → per-split sequence packing
    *   into 2048-token context windows.
    *
    * Output: one row per surviving document with its split and packed
    * position — every value downstream of every stage, so the oracle
    * hash pins the WHOLE composition (LSH banding, the CC fixpoint,
    * quality arithmetic, the split hash, the prefix sum) in one
    * compare.
    *
    * Scale shape: the stages keep their individual contracts (banding
    * explodes carry (id, band-hash) only; CC is the HashMin loop with
    * lineage cuts; the split is one hash expression; packing is the
    * distributed prefix sum per split — three bounded invocations, one
    * range exchange each, never a 3-partition keyed window). The only
    * full sort is the oracle-mandated output ORDER BY. */
  val p26_pipeline_demo = QueryDef(
    "p26_pipeline_demo",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val pairs = Dedup
        .minhashPairs(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16)
        .filter(col("jaccard") >= 0.4)
      val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val kept = docs
        .select(col("doc_id"), col("text"),
          qualityScore(col("text")).as("q"),
          tokenCount(col("text")).cast("long").as("n_tokens"))
        .filter(col("q") >= 0.78)
        .withColumn("__norm", regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      val surv = Dedup.exact(kept, keys = Seq("__norm"), keep = "doc_id")
        .select(col("doc_id"))
      val split = graft.operators.Sampling
        .clusterAwareSplit(kept.join(surv, Seq("doc_id")), comps, "doc_id",
          Seq(("train", 80), ("val", 90), ("test", 100)))
        .select(col("doc_id"), col("split"))
      val withNt = split
        .join(kept.select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
      Seq("train", "val", "test")
        .map { sp =>
          graft.operators.Packing
            .packSequences(withNt.filter(col("split") === sp), "n_tokens",
              seqLen = 2048, order = Seq(col("doc_id")))
        }
        .reduce(_.unionByName(_))
        .select(col("doc_id"), col("split"), col("n_tokens"),
          col("pack_id"), col("pack_offset"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH cc AS MATERIALIZED (SELECT * FROM ($d07Oracle) __cc),
      p26_k AS (
        SELECT doc_id, text, q,
               (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT AS n_tokens,
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nrm
        FROM (SELECT doc_id, text, $qualitySql AS q FROM documents) __q
        WHERE q >= 0.78),
      p26_surv AS (SELECT min(doc_id) AS doc_id FROM p26_k GROUP BY nrm),
      p26_sk AS (
        SELECT k.doc_id, k.n_tokens, coalesce(cc.comp, k.doc_id) AS split_key
        FROM p26_k k JOIN p26_surv s USING (doc_id)
        LEFT JOIN cc ON k.doc_id = cc.id),
      p26_sp AS (
        SELECT doc_id, n_tokens,
               CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id, n_tokens,
                     ((${OracleSql.u2s(OracleSql.xxh64Long(OracleSql.s2u("split_key")))} % 100) + 100) % 100 AS b
              FROM p26_sk) __b),
      p26_p AS (
        SELECT doc_id, split, n_tokens,
               coalesce(sum(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
        FROM p26_sp)
      SELECT doc_id, split, n_tokens,
             off // 2048 AS pack_id, off % 2048 AS pack_offset
      FROM p26_p ORDER BY doc_id"""),
    bench = true)

  /** SFT conversation assembly ([[graft.operators.Packing.chatTurns]]):
    * flatten each user's event stream into role-tagged chat turns with
    * whitespace-token offsets — the (rendered, tok_start, tok_end,
    * loss) structure an instruction-tuning pipeline feeds its
    * tokenizer to build loss-masked training examples. Alternating
    * roles from "user", content rendered in-scan from the event
    * fields (value quantized to integer cents — long→string is the
    * only cross-engine-safe double rendering), one user-keyed window.
    * The oracle replays the rank, the running token sum, and the
    * template concatenation verbatim. */
  val p27_sft_turns = QueryDef(
    "p27_sft_turns",
    (s, dir) => {
      val ev = Tables(s, dir).events.filter(col("user_id") % 5 === 0)
      graft.operators.Packing
        .chatTurns(
          ev, "user_id",
          order = Seq(col("ts").asc, col("event_id").asc),
          contentExpr = concat(col("event_type"), lit(" "),
            round(col("value") * 100, 0).cast("long").cast("string")))
        .orderBy(col("user_id"), col("turn_idx"))
    },
    Some("""
      WITH p27_e AS (
        SELECT user_id, event_id, ts,
               event_type || ' ' ||
                 CAST(CAST(round(value * 100, 0) AS BIGINT) AS VARCHAR) AS content
        FROM events WHERE user_id % 5 = 0),
      p27_t AS (
        SELECT user_id, content,
               CAST(row_number() OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS turn_idx
        FROM p27_e),
      p27_r AS (
        SELECT user_id, turn_idx,
               CASE WHEN turn_idx % 2 = 1 THEN 'user' ELSE 'assistant' END AS role,
               content,
               CAST(1 + (length(content) - length(replace(content, ' ', '')) + 1)
                    AS BIGINT) AS ntok
        FROM p27_t),
      p27_o AS (
        SELECT user_id, turn_idx, role,
               '<|' || role || '|> ' || content AS rendered,
               CAST(coalesce(sum(ntok) OVER (
                 PARTITION BY user_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS tok_start,
               ntok
        FROM p27_r)
      SELECT user_id, turn_idx, role, rendered, tok_start,
             tok_start + ntok AS tok_end,
             role = 'assistant' AS loss
      FROM p27_o ORDER BY user_id, turn_idx"""))

  /** Mixture resampling ([[graft.operators.Sampling.mixtureResample]]):
    * thin the corpus toward a uniform five-language target — each
    * language's accept probability is min(1, share·N/n_lang), applied
    * as the scan-fused deterministic hash keep. The dominant language
    * (en, ~43% of docs) thins to ~20%-share rate while minority
    * languages keep everything; the oracle replays the group sizes,
    * the rate arithmetic, and the bit-exact xxhash64 keep. */
  /** Temperature-scaled mixture ([[graft.operators.Sampling
    * .temperatureResample]]): the mT5/XLM-R alpha-sampling rule —
    * group masses rebalance from ∝n to ∝n^0.5 by thinning each
    * language at (n/n_min)^(alpha−1); the smallest language keeps
    * everything. The per-group exponent quantizes to a long threshold
    * before the integer xxhash64 keep, all replayed in the oracle. */
  val p30_temperature_resample = QueryDef(
    "p30_temperature_resample",
    (s, dir) =>
      graft.operators.Sampling
        .temperatureResample(
          Tables(s, dir).documents, "doc_id", "lang", alpha = 0.5)
        .orderBy(col("doc_id")),
    Some(s"""
      WITH p30_n AS (
        SELECT lang, cast(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
      p30_m AS (SELECT cast(min(n) AS BIGINT) AS nmin FROM p30_n),
      p30_r AS (
        SELECT lang,
               CAST(round(exp(-0.5 *
                 (ln(CAST(n AS DOUBLE)) - ln(CAST(nmin AS DOUBLE))))
                 * 1000000.0, 0) AS BIGINT) AS aq
        FROM p30_n CROSS JOIN p30_m)
      SELECT d.doc_id, d.lang,
             round(CAST(aq AS DOUBLE) / 1000000.0, 6) AS accept_prob,
             CAST(((${OracleSql.u2s(OracleSql.xxh64Long(OracleSql.s2u("d.doc_id")))}
                    % 1000000) + 1000000) % 1000000 AS BIGINT) < aq AS kept
      FROM documents d JOIN p30_r USING (lang)
      ORDER BY d.doc_id"""))

  /** Water-filling budget allocation ([[graft.operators.Budget
    * .waterFill]]): max-min fair token takes per source under supply
    * caps — small sources taken whole, the remainder split evenly
    * (integer level + deterministic remainder spread) so Σ alloc hits
    * the target EXACTLY. The planning step upstream of p28/p30: it
    * computes the shares those operators apply. The oracle replays the
    * sorted prefix feasibility test and the remainder arithmetic. */
  val p32_water_fill = QueryDef(
    "p32_water_fill",
    (s, dir) =>
      graft.operators.Budget
        .waterFill(
          Tables(s, dir).documents
            .groupBy(col("source"))
            .agg(sum(col("n_chars")).as("supply_chars")),
          "source", "supply_chars", target = 100000L)
        .orderBy(col("source")),
    Some("""
      WITH p32_s AS (
        SELECT source, cast(sum(n_chars) AS BIGINT) AS s
        FROM documents GROUP BY 1),
      p32_w AS (
        SELECT source, s,
               cast(row_number() OVER (ORDER BY s, source) AS BIGINT) AS idx,
               cast(coalesce(sum(s) OVER (ORDER BY s, source
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS pre,
               cast(count(*) OVER () AS BIGINT) AS m
        FROM p32_s),
      p32_l AS (
        SELECT *,
               CASE WHEN s <= (100000 - pre) // (m - idx + 1)
                    THEN 0 ELSE 1 END AS viol
        FROM p32_w),
      p32_c AS (
        SELECT *,
               CASE WHEN coalesce(sum(viol) OVER (ORDER BY s, source
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) = 0
                     AND viol = 0
                    THEN 1 ELSE 0 END AS capped
        FROM p32_l),
      p32_t AS (
        SELECT cast(sum(CASE WHEN capped = 1 THEN s ELSE 0 END) AS BIGINT)
                 AS taken,
               cast(sum(CASE WHEN capped = 1 THEN 0 ELSE 1 END) AS BIGINT)
                 AS nu,
               cast(max(CASE WHEN capped = 1 THEN idx ELSE 0 END) AS BIGINT)
                 AS lastc
        FROM p32_c)
      SELECT c.source, c.s AS supply_chars,
             CASE WHEN capped = 1 THEN c.s
                  ELSE (100000 - taken) // nu +
                       (CASE WHEN idx - lastc <= (100000 - taken) % nu
                             THEN 1 ELSE 0 END)
             END AS alloc,
             capped = 1 AS capped,
             CASE WHEN nu > 0 THEN (100000 - taken) // nu ELSE 0 END
               AS fill_level
      FROM p32_c c CROSS JOIN p32_t
      ORDER BY c.source"""))

  /** Length-grouped batch assembly ([[graft.operators.Packing
    * .lengthGroupedBatches]]): the padded-batch counterpart of
    * p06/p12's packing — similar-length documents batch together so
    * each batch pads only to its OWN max (HF `group_by_length`).
    * Per-batch padding audit: waste = n·max − Σlen, efficiency =
    * Σlen/(n·max). The assignment rides the parallel RowIndexExec
    * sort; the oracle replays it with a window row_number. */
  val p33_length_batches = QueryDef(
    "p33_length_batches",
    (s, dir) =>
      graft.operators.Packing
        .lengthGroupedBatches(
          Tables(s, dir).documents.select(
            col("doc_id"),
            size(split(col("text"), " ")).as("len")),
          "doc_id", "len", batchSize = 32)
        .groupBy(col("batch_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          max(col("n_tokens")).as("max_tokens"),
          sum(col("n_tokens")).as("sum_tokens"))
        .withColumn("pad_waste",
          col("n_docs") * col("max_tokens") - col("sum_tokens"))
        .withColumn("efficiency",
          round(col("sum_tokens").cast("double") /
            (col("n_docs") * col("max_tokens")).cast("double"), 6))
        .orderBy(col("batch_id")),
    Some("""
      WITH p33_l AS (
        SELECT doc_id, cast(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      p33_i AS (
        SELECT doc_id, n_tokens,
               (row_number() OVER (ORDER BY n_tokens, doc_id) - 1) // 32
                 AS batch_id
        FROM p33_l)
      SELECT batch_id,
             cast(count(*) AS BIGINT) AS n_docs,
             cast(max(n_tokens) AS BIGINT) AS max_tokens,
             cast(sum(n_tokens) AS BIGINT) AS sum_tokens,
             cast(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT)
               AS pad_waste,
             round(sum(n_tokens)::DOUBLE /
               (count(*) * max(n_tokens))::DOUBLE, 6) AS efficiency
      FROM p33_i GROUP BY 1 ORDER BY batch_id"""))

  /** Epoch-recipe executor ([[graft.operators.Sampling.epochRecipe]]):
    * fractional per-group epoch counts decided per document by the
    * pure keep hash — "de ×2.5, fr ×0.25, zh unlisted ⇒ 0" runs
    * deterministically; the oracle replays floor + the xxhash64
    * fractional draw bit-for-bit. */
  val p35_epoch_recipe = QueryDef(
    "p35_epoch_recipe",
    (s, dir) =>
      graft.operators.Sampling
        .epochRecipe(
          Tables(s, dir).documents, "doc_id", "lang",
          epochs = Seq("de" -> 2.5, "en" -> 1.0, "es" -> 0.25,
            "fr" -> 3.0))
        .orderBy(col("doc_id")),
    Some(s"""
      WITH p35_tg AS (
        SELECT * FROM (VALUES ('de', 2.5), ('en', 1.0), ('es', 0.25),
                              ('fr', 3.0)) AS t(lang, e))
      SELECT d.doc_id, d.lang,
             round(coalesce(e, 0.0), 6) AS epochs,
             CAST(CAST(floor(coalesce(e, 0.0)) AS BIGINT) +
               CASE WHEN
                 CAST(((${OracleSql.u2s(OracleSql.xxh64Long(OracleSql.s2u("doc_id")))} % 1000000)
                       + 1000000) % 1000000 AS DOUBLE)
                   < (coalesce(e, 0.0) - floor(coalesce(e, 0.0))) * 1000000.0
                 THEN 1 ELSE 0 END AS BIGINT) AS copies
      FROM documents d LEFT JOIN p35_tg g ON d.lang = g.lang
      ORDER BY d.doc_id"""))

  /** END-TO-END ANALYTICS DEMO — the events-table counterpart of p26:
    * sessionize → funnel-gate → attribution → experiment readout as ONE
    * registered query, every stage an operator this library ships
    * (q36's native session windows, q79's greedy strict-order funnel
    * chain, q82's linear multi-touch attribution, q77's exact-moment
    * Welch test).
    *
    *   gap-sessionize the event stream (6 h) → "engaged" users = anyone
    *   with a multi-event session (drive-by single-event sessions carry
    *   no journey signal) → funnel-qualify the engaged users who reached
    *   "click" under the strict-order chain → linear-attribute THEIR
    *   purchases over view/click touches in a 48 h lookback → Welch
    *   readout across arms (user_id parity) on two session-derived
    *   per-user metrics (session count, session revenue).
    *
    * Output: one long-format row per readout fact — four funnel steps,
    * the attribution channels, two experiment rows — so the oracle hash
    * pins the WHOLE composition (session merges, chain order, micro-cent
    * shares, exact Welch moments) in one compare.
    *
    * Scale shape: every stage keeps its own contract — sessionization is
    * one native session_window aggregation; the chain is one user-keyed
    * aggregation (never a window over raw events); gating is two
    * left-semi hash joins on user_id; attribution's touch count is a
    * conversion-keyed window on the attribution pairs themselves; the
    * Welch moments are two keyed partial aggregations. The funnel tally
    * derives in-plan from the chain aggregation (steps-bounded
    * broadcast joins) — NOTHING in the demo touches the driver. */
  val p36_analytics_demo = QueryDef(
    "p36_analytics_demo",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{Experiments, Funnel}
      val steps = Seq("signup", "view", "click", "purchase")
      // fan = true — the round-16 sf0.1 opt-out (paired 2.827 s without
      // vs 3.258 s with: the exchange taxes ~20 sub-second stages at
      // the latency floor) was REVERSED by the sf1 measurement: paired
      // reps=3, fan=false 12.06 s vs fan=true 6.91 s — at data sizes
      // where the JSON/session derivations dominate, the user_id
      // exchange is the session family's own distribution and the
      // narrow scan is the bottleneck. The ~+0.4 s sf0.1 floor cost is
      // accepted for the at-scale shape. (Plan cuts were also tried and
      // measured NO better: 3.45 s with both engaged+depth
      // localCheckpointed, 3.17 s depth-only, 3.07 base.)
      val ev = Tables(s, dir).events(fan = true).filter(col("user_id").isNotNull)
      // stage 1: sessionize (q36), session revenue in exact cents
      val sessions = graft.streaming.EventStreams.sessionWindowAgg(
        ev, gap = "6 hours",
        totalValue = c => sum(round(c * 100.0, 0).cast("long")))
      // engaged and depth are each consumed by SEVERAL downstream
      // stages of ONE plan (engaged: the engEv gate + the Welch units;
      // depth: the funnel tally + the qualification gate), and Spark
      // cannot share an un-materialized subplan, so each consumer
      // re-derives sessionization and the chain cascade: the shipped
      // plan (plans/r16/p36_analytics_demo_after.txt) still holds 28
      // events scans and 77 session_window nodes in the formatted dump.
      // Both relations ship UNCUT: localCheckpointing them was measured
      // (see the fan note above) and was no faster — 3.45 s both cut,
      // 3.17 s depth only, 3.07 s uncut.
      val engaged = sessions
        .groupBy(col("user_id"))
        .agg(
          max(col("n_events")).as("__mx"),
          count(lit(1)).as("n_sessions"),
          sum(col("total_value")).as("sess_cents"))
        .filter(col("__mx") >= 2)
        .select(col("user_id"), col("n_sessions"), col("sess_cents"))
      val engEv = ev.join(engaged.select("user_id"), Seq("user_id"), "left_semi")
      // stage 2: funnel readout + per-user qualification from ONE chain
      // pass (Funnel.userDepth). The tally derives in-plan (this was
      // the round-10 prototype of the pattern; Funnel.funnel itself
      // adopted it in round 11, so the q79 face is now zero-collect
      // too) — here the explicit userDepth form stays because the
      // SAME depth relation also gates attribution + the experiment
      // readout, and ReuseExchange serves all consumers from one
      // chain aggregation. Same values: users(step k) = #users with
      // depth ≥ k, conv columns the exact division shapes of q79.
      val depth = Funnel
        .userDepth(engEv, "user_id", "event_type", "ts", steps)
      val stepDim = steps.zipWithIndex
        .map { case (st, i) => ((i + 1).toLong, st) }
        .toDF("n_a", "key")
      val tally = depth
        .filter(col("depth") >= 1)
        .select(explode(sequence(lit(1), col("depth"))).as("__step"))
        .groupBy(col("__step"))
        .agg(count(lit(1)).as("__users"))
      val counts = stepDim
        .join(tally, stepDim("n_a") === tally("__step"), "left")
        .select(col("n_a"), col("key"),
          coalesce(col("__users"), lit(0L)).as("n_b"))
      // packed-tally readout (the round-11 Funnel.funnel shape): the
      // ≤|steps|-row tally collapses to ONE sorted struct array so the
      // prev/first denominators are scan-local lookups — no broadcast
      // self-joins re-reading the depth relation per denominator
      val funnelRows = counts
        .agg(sort_array(collect_list(
          struct(col("n_a"), col("key"), col("n_b")))).as("__all"))
        .select(explode(col("__all")).as("__s"), col("__all"))
        .select(
          lit("funnel").as("section"),
          col("__s.key").as("key"),
          col("__s.n_a").as("n_a"),
          col("__s.n_b").as("n_b"),
          round(col("__s.n_b").cast("double") /
            nullif(
              when(col("__s.n_a") > 1,
                element_at(col("__all"), (col("__s.n_a") - 1).cast("int"))
                  .getField("n_b")).cast("double"),
              lit(0.0)), 6).as("v1"),
          round(col("__s.n_b").cast("double") /
            nullif(element_at(col("__all"), lit(1))
              .getField("n_b").cast("double"), lit(0.0)), 6).as("v2"),
          lit(null).cast("double").as("v3"),
          lit(null).cast("double").as("v4"))
      val qualified = depth
        .filter(col("depth") >= 3)
        .select("user_id")
      val quEv = ev.join(qualified, Seq("user_id"), "left_semi")
      // stage 3: attribution over qualified users' purchases (q82)
      val attrRows = Funnel
        .linearAttribution(quEv, "user_id", "event_type", "ts",
          "event_id", "value",
          touchTypes = Seq("view", "click"),
          conversionType = "purchase",
          lookbackHours = 48L)
        .select(
          lit("attribution").as("section"),
          col("channel").as("key"),
          col("conversions").as("n_a"),
          col("attributed_microcents").as("n_b"),
          col("touches").cast("double").as("v1"),
          lit(null).cast("double").as("v2"),
          lit(null).cast("double").as("v3"),
          lit(null).cast("double").as("v4"))
      // stage 4: Welch readout (q77) on session-derived per-user metrics
      val units = engaged.join(qualified, Seq("user_id"))
      def welchRows(metric: String, qCol: String, scale: Long) =
        Experiments
          .welchAbTest(
            units.select(
              lit(metric).as("metric"),
              pmod(col("user_id"), lit(2L)).cast("int").as("arm"),
              col("user_id"), col(qCol)),
            "metric", "arm", "user_id", qCol, scale = scale)
          .select(
            lit("welch").as("section"),
            col("metric").as("key"),
            col("n_control").as("n_a"),
            col("n_treat").as("n_b"),
            col("mean_control").as("v1"),
            col("mean_treat").as("v2"),
            col("welch_t").as("v3"),
            col("welch_df").as("v4"))
      funnelRows
        .unionByName(attrRows)
        .unionByName(welchRows("revenue", "sess_cents", 100L))
        .unionByName(welchRows("sessions", "n_sessions", 1L))
        .orderBy(col("section"), col("n_a"), col("key"))
    },
    Some("""
      WITH p36_ev AS (
        SELECT user_id AS u, event_type AS et, epoch_us(ts) AS t,
               event_id AS eid, CAST(round(value * 100.0) AS BIGINT) AS cents
        FROM events WHERE user_id IS NOT NULL),
      p36_mk AS (
        SELECT u, t, cents,
               CASE WHEN lag(t) OVER w IS NULL
                      OR t - lag(t) OVER w >= 21600000000 THEN 1 ELSE 0 END AS ns
        FROM p36_ev
        WINDOW w AS (PARTITION BY u ORDER BY t)),
      p36_ss AS (
        SELECT u, t, cents,
               sum(ns) OVER (PARTITION BY u ORDER BY t
                             ROWS UNBOUNDED PRECEDING) AS sid
        FROM p36_mk),
      p36_sa AS (
        SELECT u, sid, count(*) AS ne, cast(sum(cents) AS BIGINT) AS sc
        FROM p36_ss GROUP BY 1, 2),
      p36_eng AS (
        SELECT u, cast(count(*) AS BIGINT) AS n_sessions,
               cast(sum(sc) AS BIGINT) AS sess_cents
        FROM p36_sa GROUP BY u HAVING max(ne) >= 2),
      p36_ee AS (SELECT e.* FROM p36_ev e JOIN p36_eng g ON e.u = g.u),
      p36_s1 AS (SELECT u, min(t) AS t1 FROM p36_ee WHERE et = 'signup' GROUP BY 1),
      p36_s2 AS (SELECT e.u, min(t) AS t2 FROM p36_ee e JOIN p36_s1 s ON e.u = s.u
                 WHERE et = 'view' AND t > s.t1 GROUP BY 1),
      p36_s3 AS (SELECT e.u, min(t) AS t3 FROM p36_ee e JOIN p36_s2 s ON e.u = s.u
                 WHERE et = 'click' AND t > s.t2 GROUP BY 1),
      p36_s4 AS (SELECT e.u, min(t) AS t4 FROM p36_ee e JOIN p36_s3 s ON e.u = s.u
                 WHERE et = 'purchase' AND t > s.t3 GROUP BY 1),
      p36_n AS (
        SELECT (SELECT cast(count(*) AS BIGINT) FROM p36_s1) AS n1,
               (SELECT cast(count(*) AS BIGINT) FROM p36_s2) AS n2,
               (SELECT cast(count(*) AS BIGINT) FROM p36_s3) AS n3,
               (SELECT cast(count(*) AS BIGINT) FROM p36_s4) AS n4),
      p36_q AS (SELECT u FROM p36_s3),
      p36_qe AS (SELECT e.* FROM p36_ev e JOIN p36_q q ON e.u = q.u),
      p36_c AS (SELECT u, eid AS pid, t AS pt, cents
                FROM p36_qe WHERE et = 'purchase'),
      p36_t AS (SELECT u, et AS ch, t AS tt
                FROM p36_qe WHERE et IN ('view', 'click')),
      p36_j AS (
        SELECT c.pid, c.cents, t.ch, t.tt
        FROM p36_c c LEFT JOIN p36_t t
          ON t.u = c.u AND t.tt < c.pt AND t.tt >= c.pt - 172800000000),
      p36_k AS (
        SELECT pid, cents, ch,
               row_number() OVER (PARTITION BY pid
                 ORDER BY tt DESC NULLS LAST, ch ASC NULLS LAST) AS rn
        FROM p36_j),
      p36_w AS (
        SELECT pid, cents, ch, count(ch) OVER (PARTITION BY pid) AS tc
        FROM p36_k WHERE rn <= 100),
      p36_at AS (
        SELECT coalesce(ch, 'direct') AS channel,
               cast(count(DISTINCT pid) AS BIGINT) AS conversions,
               cast(sum(CASE WHEN ch IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS touches,
               cast(sum(cents * 1000000 // greatest(tc, 1)) AS BIGINT) AS amc
        FROM p36_w GROUP BY 1),
      p36_u AS (
        SELECT (g.u % 2)::INT AS arm, g.u, g.n_sessions, g.sess_cents
        FROM p36_eng g JOIN p36_q q ON g.u = q.u),
      p36_wa AS (
        SELECT m, sc1, arm, cast(count(*) AS BIGINT) AS n,
               cast(sum(v) AS BIGINT) AS s,
               sum(v::HUGEINT * v::HUGEINT) AS ss
        FROM (SELECT 'revenue' AS m, 100.0 AS sc1, arm, sess_cents AS v FROM p36_u
              UNION ALL
              SELECT 'sessions', 1.0, arm, n_sessions FROM p36_u) __m
        GROUP BY 1, 2, 3),
      p36_ww AS (
        SELECT m, sc1,
               max(CASE WHEN arm = 0 THEN n END) AS n0,
               max(CASE WHEN arm = 0 THEN s END) AS s0,
               max(CASE WHEN arm = 0 THEN ss END) AS ss0,
               max(CASE WHEN arm = 1 THEN n END) AS n1,
               max(CASE WHEN arm = 1 THEN s END) AS s1,
               max(CASE WHEN arm = 1 THEN ss END) AS ss1
        FROM p36_wa GROUP BY 1, 2),
      p36_wd AS (
        SELECT m, n0, n1,
               s0::DOUBLE / (sc1 * n0::DOUBLE) AS m0,
               s1::DOUBLE / (sc1 * n1::DOUBLE) AS m1,
               ((ss0::DOUBLE - s0::DOUBLE * s0::DOUBLE / n0::DOUBLE)
                 / (n0::DOUBLE - 1.0) / (sc1 * sc1)) / n0::DOUBLE AS se0,
               ((ss1::DOUBLE - s1::DOUBLE * s1::DOUBLE / n1::DOUBLE)
                 / (n1::DOUBLE - 1.0) / (sc1 * sc1)) / n1::DOUBLE AS se1
        FROM p36_ww WHERE n0 IS NOT NULL AND n1 IS NOT NULL),
      p36_wf AS (
        SELECT m, n0, n1, m0, m1, se0, se1, se0 + se1 AS se2 FROM p36_wd)
      SELECT section, key, n_a, n_b, v1, v2, v3, v4 FROM (
        SELECT 'funnel' AS section, 'signup' AS key, 1::BIGINT AS n_a,
               n1 AS n_b, CAST(NULL AS DOUBLE) AS v1,
               round(n1::DOUBLE / nullif(n1::DOUBLE, 0.0), 6) AS v2,
               CAST(NULL AS DOUBLE) AS v3, CAST(NULL AS DOUBLE) AS v4
        FROM p36_n
        UNION ALL
        SELECT 'funnel', 'view', 2, n2,
               round(n2::DOUBLE / nullif(n1::DOUBLE, 0.0), 6),
               round(n2::DOUBLE / nullif(n1::DOUBLE, 0.0), 6), NULL, NULL
        FROM p36_n
        UNION ALL
        SELECT 'funnel', 'click', 3, n3,
               round(n3::DOUBLE / nullif(n2::DOUBLE, 0.0), 6),
               round(n3::DOUBLE / nullif(n1::DOUBLE, 0.0), 6), NULL, NULL
        FROM p36_n
        UNION ALL
        SELECT 'funnel', 'purchase', 4, n4,
               round(n4::DOUBLE / nullif(n3::DOUBLE, 0.0), 6),
               round(n4::DOUBLE / nullif(n1::DOUBLE, 0.0), 6), NULL, NULL
        FROM p36_n
        UNION ALL
        SELECT 'attribution', channel, conversions, amc,
               touches::DOUBLE, NULL, NULL, NULL
        FROM p36_at
        UNION ALL
        SELECT 'welch', m, n0, n1, round(m0, 6), round(m1, 6),
               CASE WHEN n0 > 1 AND n1 > 1 AND se2 > 0.0
                 THEN round((m1 - m0) / sqrt(se2), 6) END,
               CASE WHEN n0 > 1 AND n1 > 1 AND se2 > 0.0
                 THEN round((se2 * se2) /
                   (se0 * se0 / (n0::DOUBLE - 1.0) +
                    se1 * se1 / (n1::DOUBLE - 1.0)), 6) END
        FROM p36_wf) __all
      ORDER BY section, n_a, key"""),
    bench = true)

  /** Exact-k weighted sample without replacement
    * ([[graft.operators.Sampling.weightedSampleK]]): 20 documents per
    * language drawn proportional to token count — the Efraimidis–
    * Spirtakis key (−ln(u)/w, u from the id hash) with the quantized-ln
    * discipline, so the oracle replays the draw bit-for-bit. The
    * exact-size counterpart of p05's rate-based thinning. */
  val p37_weighted_reservoir = QueryDef(
    "p37_weighted_reservoir",
    (s, dir) =>
      graft.operators.Sampling
        .weightedSampleK(
          Tables(s, dir).documents
            .select(col("doc_id"), col("lang"),
              tokenCount(col("text")).cast("long").as("n_tokens")),
          "doc_id", "lang", "n_tokens", k = 20)
        .orderBy(col("lang"), col("es_rank")),
    Some(s"""
      WITH p37_d AS (
        SELECT doc_id, lang,
               (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT
                 AS n_tokens
        FROM documents),
      p37_q AS (
        SELECT doc_id, lang, n_tokens,
               CAST(round(-ln(((((${OracleSql.u2s(OracleSql.xxh64Long(OracleSql.s2u("doc_id")))}
                     % 1048576) + 1048576) % 1048576 + 1) / 1048577.0))
                 * 1000000.0, 0) AS BIGINT) AS lnq
        FROM p37_d WHERE n_tokens > 0),
      p37_r AS (
        SELECT doc_id, lang, n_tokens,
               lnq * 1000000000 // n_tokens AS es_key
        FROM p37_q)
      SELECT doc_id, lang, n_tokens,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY es_key, doc_id) AS INT) AS es_rank
      FROM p37_r
      QUALIFY row_number() OVER (PARTITION BY lang
        ORDER BY es_key, doc_id) <= 20
      ORDER BY lang, es_rank"""))

  val p28_mixture_resample = QueryDef(
    "p28_mixture_resample",
    (s, dir) =>
      graft.operators.Sampling
        .mixtureResample(
          Tables(s, dir).documents, "doc_id", "lang",
          targets = Seq("de" -> 0.2, "en" -> 0.2, "es" -> 0.2,
            "fr" -> 0.2, "zh" -> 0.2))
        .orderBy(col("doc_id")),
    Some(s"""
      WITH p28_sz AS (
        SELECT lang, cast(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
      p28_t AS (SELECT cast(sum(n) AS BIGINT) AS nt FROM p28_sz),
      p28_tg AS (
        SELECT * FROM (VALUES ('de', 0.2), ('en', 0.2), ('es', 0.2),
                              ('fr', 0.2), ('zh', 0.2)) AS t(lang, target)),
      p28_r AS (
        SELECT s.lang,
               least(1.0, coalesce(g.target, 0.0) * nt / n) AS accept
        FROM p28_sz s CROSS JOIN p28_t LEFT JOIN p28_tg g ON s.lang = g.lang)
      SELECT d.doc_id, d.lang, round(accept, 6) AS accept_prob,
             CAST(((${OracleSql.u2s(OracleSql.xxh64Long(OracleSql.s2u("doc_id")))} % 1000000)
                   + 1000000) % 1000000 AS DOUBLE)
               < accept * 1000000.0 AS kept
      FROM documents d JOIN p28_r r ON d.lang = r.lang
      ORDER BY d.doc_id"""))

  /** Snapshot DIFF ([[graft.operators.Curation.snapshotDiff]]): the
    * per-document change list between two corpus versions — p22's
    * fingerprint says WHETHER snapshots differ, this says WHAT.
    * Fixture: the "next crawl" drops every 13th doc, edits every 11th,
    * and adds a re-keyed copy of every 17th; the diff must recover
    * exactly those sets. Content equality is in-scan xxhash64 (text
    * never shuffles; the full-outer join moves (id, hash) pairs only);
    * the oracle replays the same hash bit-for-bit, so a status flip
    * anywhere breaks the compare. */
  val p24_snapshot_diff = QueryDef(
    "p24_snapshot_diff",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val after = docs
        .filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" edited")))
            .otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      graft.operators.Curation
        .snapshotDiff(docs, after, "doc_id", Seq("text"))
        .filter(col("status") =!= "unchanged")
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH p24_aft AS (
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 0 THEN text || ' edited' ELSE text END AS text
        FROM documents WHERE doc_id % 13 <> 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text
        FROM documents WHERE doc_id % 17 = 0),
      p24_bh AS (
        SELECT doc_id,
               cast(${OracleSql.u2s(OracleSql.xxh64Ascii("text"))} AS BIGINT) AS h
        FROM documents),
      p24_ah AS (
        SELECT doc_id,
               cast(${OracleSql.u2s(OracleSql.xxh64Ascii("text"))} AS BIGINT) AS h
        FROM p24_aft),
      p24_j AS (
        SELECT coalesce(b.doc_id, a.doc_id) AS doc_id, b.h AS hb, a.h AS ha
        FROM p24_bh b FULL OUTER JOIN p24_ah a ON b.doc_id = a.doc_id)
      SELECT doc_id,
             CASE WHEN hb IS NULL THEN 'added'
                  WHEN ha IS NULL THEN 'removed'
                  WHEN hb <> ha THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM p24_j
      WHERE hb IS NULL OR ha IS NULL OR hb <> ha
      ORDER BY doc_id"""))

  /** Quality-aware dedup survivor selection — what a production dedup
    * actually emits: for every document in a near-dup cluster (d07's
    * connected components over the verified MinHash pair graph), keep
    * the LONGEST document (token count desc, id asc tie-break) and mark
    * the rest for deletion. Min-id representatives (d07) answer "which
    * cluster"; this answers "which copy survives" — the delete list a
    * 100 TB curation pass ships. Survivor choice is a keyed window per
    * cluster (clusters are near-dup-sized, never corpus-sized); the
    * token counts join is id-keyed. Docs in no cluster are implicitly
    * kept and emit no row, like d07. */
  val d13_dedup_survivors = QueryDef(
    "d13_dedup_survivors",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val pairs = Dedup
        .minhashPairs(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16)
        .filter(col("jaccard") >= 0.4)
      val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val nt = docs.select(
        col("doc_id"), tokenCount(col("text")).cast("long").as("n_tokens"))
      comps
        .join(nt, comps("id") === nt("doc_id"))
        .select(col("doc_id"), col("comp").as("cluster"), col("n_tokens"))
        .withColumn("keep",
          row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("cluster"))
              .orderBy(col("n_tokens").desc, col("doc_id").asc)) === 1)
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH cc AS MATERIALIZED (SELECT * FROM ($d07Oracle) __cc),
      d13_nt AS (
        SELECT doc_id,
               (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT AS n_tokens
        FROM documents)
      SELECT cc.id AS doc_id, comp AS cluster, n_tokens,
             row_number() OVER (
               PARTITION BY comp ORDER BY n_tokens DESC, cc.id ASC) = 1 AS keep
      FROM cc JOIN d13_nt ON cc.id = d13_nt.doc_id
      ORDER BY doc_id"""))

  /** Exact similarity join — prefix filtering, NOT attribute blocking: the
    * oracle is the full all-pairs Jaccard >= 0.5 with no language block,
    * and the engine must reproduce it exactly (guaranteed recall, unlike
    * LSH), while never materializing the n^2 cross product. */
  val d05_ngram_jaccard = QueryDef(
    "d05_ngram_jaccard",
    (s, dir) =>
      Dedup
        .jaccardSimilarityJoin(
          Tables(s, dir).documents, "doc_id", "text", threshold = 0.5)
        .orderBy(col("id_a"), col("id_b")),
    // token sets built once per document, intersection computed once per
    // pair (the inlined original recomputed the split 6x per pair — 80x
    // slower in DuckDB at sf0.01). Candidate generation is PREFIX-
    // FILTERED (round 13): the r12 all-pairs form (`s a JOIN s b ON
    // a.doc_id < b.doc_id`) was quadratic in the corpus and exceeded the
    // DuckDB replay budget at sf1 — the one scoped exclusion in the r12
    // sf1 sweep. This restates the replay in the candidate-bounded form
    // the ANF oracles adopted (commit 6bbf362): rank each document's
    // tokens by ascending global df, keep the `n - ceil(t*n) + 1` rarest
    // as its prefix, and pair only documents sharing a prefix token —
    // the AllPairs/PPJoin guarantee (Bayardo et al. 2007; Xiao et al.
    // 2008): a pair with J >= t shares a token inside both prefixes
    // under ANY shared total order, so recall is exact and the verify
    // arithmetic below is unchanged. The tie order (df, tok) need not
    // match Spark's — each engine's prefix scheme independently
    // guarantees full recall, and only the verified pairs are compared.
    // Rounding-boundary assumption (r13 ADVICE): the final predicate is
    // round(J, 6) >= 0.5, which also admits raw J in [0.4999995, 0.5) —
    // a zone the prefix bound (stated for raw J >= 0.5) does not
    // guarantee recall for. Such a pair needs |union| >= 2 * 10^6
    // tokens for the raw and rounded predicates to diverge at all
    // (J = i/u changes in steps of ~1/u, so the gap below 0.5 is only
    // reachable when 1/u < 5e-7); every corpus here tops out around
    // 10^3 tokens per document, six orders of magnitude away, and the
    // Spark side applies the identical rounded predicate — so the gate
    // compares identical sets. Revisit only if documents ever approach
    // million-token unions.
    Some("""
      WITH s AS MATERIALIZED (
        SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ts
        FROM documents),
      d05_toks AS MATERIALIZED (SELECT doc_id, unnest(ts) AS tok FROM s),
      d05_df AS (SELECT tok, count(*) AS df FROM d05_toks GROUP BY 1),
      d05_pref AS MATERIALIZED (
        SELECT doc_id, tok FROM (
          SELECT t.doc_id, t.tok,
                 row_number() OVER (PARTITION BY t.doc_id
                                    ORDER BY d.df, t.tok) AS rn,
                 count(*) OVER (PARTITION BY t.doc_id) AS sz
          FROM d05_toks t JOIN d05_df d ON t.tok = d.tok)
        WHERE rn <= sz - ceil(sz * 0.5) + 1),
      d05_cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM d05_pref a JOIN d05_pref b
          ON a.tok = b.tok AND a.doc_id < b.doc_id),
      p AS (
        SELECT id_a, id_b,
               length(list_intersect(a.ts, b.ts)) AS i,
               length(a.ts) AS na, length(b.ts) AS nb
        FROM d05_cand c
        JOIN s a ON c.id_a = a.doc_id
        JOIN s b ON c.id_b = b.doc_id)
      SELECT id_a, id_b, round(i * 1.0 / (na + nb - i), 6) AS jaccard
      FROM p
      WHERE round(i * 1.0 / (na + nb - i), 6) >= 0.5
      ORDER BY id_a, id_b"""))

  /** Containment self-join ([[Dedup.containmentJoin]]): documents whose
    * 3-gram shingle set is >= 70% inside another's — the quote/nesting/
    * boilerplate-wrap duplication symmetric Jaccard under-scores (a
    * short doc fully quoted inside a long one has tiny resemblance but
    * containment ~1). The fixture plants real containments: every 9th
    * document gets a re-keyed copy (+40000) holding its FIRST 60% of
    * tokens wrapped with two filler sentences — contained in the
    * original, not vice versa. The oracle is candidate-scheme-BLIND
    * (it pairs via every co-occurring shingle, not the prefix), so it
    * verifies the asymmetric prefix filter's exact-recall claim. */
  val d21_containment = QueryDef(
    "d21_containment",
    (s, dir) => {
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val toks = graft.functions.TextFunctions.tokens(col("text"))
      val quotes = docs
        .filter(col("doc_id") % 9 === 0 && size(toks) >= 10)
        .select((col("doc_id") + 40000).as("doc_id"),
          concat_ws(" ",
            lit("quoting the report below"),
            array_join(slice(toks, lit(1),
              floor(size(toks) * 6 / 10).cast("int")), " "),
            lit("end of quoted material")).as("text"))
      Dedup
        .containmentJoin(docs.unionByName(quotes), "doc_id", "text",
          threshold = 0.7, shingleSize = 3)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""
      WITH d21_aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 40000,
               'quoting the report below' || ' ' ||
               array_to_string(list_slice(ts, 1, (len(ts) * 6) // 10), ' ') ||
               ' ' || 'end of quoted material'
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), __t -> __t <> '') AS ts
              FROM documents)
        WHERE doc_id % 9 = 0 AND len(ts) >= 10),
      d21_tk AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), __t -> __t <> '') AS ts
        FROM d21_aug WHERE trim(text) <> ''),
      d21_s AS (
        SELECT doc_id, list_distinct(list_transform(range(len(ts) - 2),
                 __i -> ts[__i+1] || ' ' || ts[__i+2] || ' ' || ts[__i+3])) AS sh
        FROM d21_tk WHERE len(ts) >= 3),
      d21_rows AS (SELECT doc_id, unnest(sh) AS g FROM d21_s),
      d21_i AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, cast(count(*) AS BIGINT) AS i
        FROM d21_rows a JOIN d21_rows b ON a.g = b.g AND a.doc_id <> b.doc_id
        GROUP BY 1, 2),
      d21_p AS (
        SELECT i.id_a, i.id_b, i.i, length(s.sh) AS na
        FROM d21_i i JOIN d21_s s ON i.id_a = s.doc_id)
      SELECT id_a, id_b, round(i * 1.0 / na, 6) AS containment
      FROM d21_p
      WHERE round(i * 1.0 / na, 6) >= 0.7
      ORDER BY id_a, id_b"""))

  /** Per-source document quota ([[graft.operators.Sampling.quotaCap]]):
    * the RefinedWeb-style domain cap — every source keeps at most its
    * 12 HIGHEST-quality documents (t02's composite score, doc_id
    * tie-break makes the order total), the rest are flagged rather
    * than dropped. The cap bounds any one domain's influence on the
    * corpus — the curation pass per-document quality scoring cannot
    * express, because a template farm's boilerplate scores well
    * per-document. One group-keyed window, no join. */
  /** URL canonicalization dedup ([[graft.operators.Curation
    * .canonicalizeUrl]] + urlDedup): collapse crawl-variant URLs —
    * scheme/host case, default :443 port, trailing slash, tracking
    * params (utm_*), param order, fragments — onto one canonical key
    * per (source, page), then keep the smallest doc id. The fixture
    * manufactures every variant class from doc_id residues; the oracle
    * rebuilds the same URLs and replays each canonicalization step
    * with split_part/regexp/list primitives. */
  val d23_url_dedup = QueryDef(
    "d23_url_dedup",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val urls = docs.select(
        col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
          lit("://"),
          when(col("doc_id") % 4 === 0, upper(col("source")))
            .otherwise(col("source")),
          lit(".Example.COM"),
          when(col("doc_id") % 7 === 0, lit(":443")).otherwise(lit("")),
          lit("/page/"), (col("doc_id") % 20).cast("string"),
          when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_source=feed&id="), (col("doc_id") % 10).cast("string"),
          lit("&b=2&a=1"),
          when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit("")))
          .as("url"))
      graft.operators.Curation
        .urlDedup(urls, "doc_id", "url")
        .orderBy(col("canon_url"))
    },
    Some("""
      WITH d23_u AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
               || '://'
               || (CASE WHEN doc_id % 4 = 0 THEN upper(source) ELSE source END)
               || '.Example.COM'
               || (CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END)
               || '/page/' || CAST(doc_id % 20 AS VARCHAR)
               || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
               || '?utm_source=feed&id=' || CAST(doc_id % 10 AS VARCHAR)
               || '&b=2&a=1'
               || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
        FROM documents),
      d23_p AS (
        SELECT doc_id,
               lower(split_part(split_part(url, '#', 1), '://', 1)) AS sch,
               split_part(split_part(url, '#', 1), '://', 2) AS rest
        FROM d23_u),
      d23_q AS (
        SELECT doc_id, sch,
               split_part(rest, '?', 1) AS base,
               CASE WHEN strpos(rest, '?') > 0
                    THEN split_part(rest, '?', 2) ELSE '' END AS qry
        FROM d23_p),
      d23_h AS (
        SELECT doc_id, sch, qry,
               lower(split_part(base, '/', 1)) AS hp,
               regexp_replace(
                 substr(base, length(split_part(base, '/', 1)) + 1),
                 '/+$', '') AS path
        FROM d23_q),
      d23_c AS (
        SELECT doc_id,
               sch || '://'
               || (CASE WHEN sch = 'http' THEN regexp_replace(hp, ':80$', '')
                        WHEN sch = 'https' THEN regexp_replace(hp, ':443$', '')
                        ELSE hp END)
               || path
               || (CASE WHEN params = '' THEN '' ELSE '?' || params END)
                 AS canon_url
        FROM (
          SELECT *,
                 array_to_string(list_sort(list_filter(
                   string_split(qry, '&'),
                   p -> p <> '' AND NOT regexp_matches(p,
                     '^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|ref)='))),
                   '&') AS params
          FROM d23_h))
      SELECT canon_url, cast(count(*) AS BIGINT) AS n_docs,
             min(doc_id) AS keeper_id
      FROM d23_c GROUP BY 1 ORDER BY canon_url"""))

  /** Fellegi–Sunter probabilistic record linkage
    * ([[graft.operators.Linkage.fellegiSunter]]): customer linked to a
    * deterministically-perturbed twin (name mangled for custkey%3,
    * balance jittered ±3 cents, segment blanked for custkey%11) —
    * scored by three fields' log-likelihood weights, three-way
    * match/possible decision. The weights are driver-quantized log2
    * literals, so the oracle's identically-shaped CASE sum replays the
    * score bit-for-bit. Balance cents are computed on the
    * +1000-shifted value so the half-up rounding never sees a
    * negative tie.
    *
    * Blocking (round 14, closing the r13 scale flag): COMPOSITE key
    * (nation, name-prefix) instead of nation alone. Nation is 25 fixed
    * blocks forever, so 10x customers was ~100x within-block pairs
    * (measured exponent 1.35/1.57 at sf1); the 16-char name prefix
    * ('customer#' + the first 7 of 9 key digits) bounds every block at
    * ~100 ids regardless of corpus size — block CARDINALITY grows with
    * n, block SIZE doesn't, the production blocking contract (Splink's
    * blocking rules). The prefix survives the suffix mangle, so every
    * name-agreeing pair — the whole 'match' tier and the name-backed
    * 'possible' tier — is still generated; what the finer key gives up
    * is the weak-evidence cross-name tier (cents+segment agreement
    * only, score 2.15), the standard recall/cost blocking trade. The
    * oracle replays the same composite key, so the gate pins the
    * traded set exactly. */
  val d24_record_linkage = QueryDef(
    "d24_record_linkage",
    (s, dir) => {
      import graft.operators.Linkage
      val c = Tables(s, dir).customer
      val cents =
        round((col("c_acctbal") + 1000.0) * 100.0, 0).cast("long")
      val aSide = c.select(
        col("c_custkey").as("id"), col("c_nationkey").as("nat"),
        substring(lower(col("c_name")), 1, 16).as("np"),
        lower(col("c_name")).as("name"), cents.as("cents"),
        col("c_mktsegment").as("seg"))
      val bSide = c.select(
        (col("c_custkey") + 1000000L).as("id"), col("c_nationkey").as("nat"),
        substring(lower(col("c_name")), 1, 16).as("np"),
        when(col("c_custkey") % 3 === 0,
          concat(lower(col("c_name")), lit("x")))
          .otherwise(lower(col("c_name"))).as("name"),
        (cents + col("c_custkey") % 7 - 3).as("cents"),
        when(col("c_custkey") % 11 === 0, lit("UNKNOWN"))
          .otherwise(col("c_mktsegment")).as("seg"))
      Linkage.fellegiSunter(
          aSide, bSide, idCol = "id", blockCols = Seq("nat", "np"),
          fields = Seq(
            Linkage.FieldSpec("name", (x, y) => x === y, m = 0.95, u = 0.005),
            Linkage.FieldSpec("cents",
              (x, y) => abs(x - y) <= lit(2L), m = 0.9, u = 0.05),
            Linkage.FieldSpec("seg", (x, y) => x === y, m = 0.98, u = 0.2)),
          lower = 0.0, upper = 5.0,
          // explicit: the uncapped DuckDB oracle replay assumes the cap
          // never binds — LinkageSpec pins cappedBlocks empty here
          maxBlock = 10000)
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(d24OracleSql),
    bench = true)

  /** Shared by d24 and the persisted-index face d26 (split build +
    * append + probe must serve EXACTLY the one-shot linkage). */
  private lazy val d24OracleSql: String = {
      import graft.operators.Linkage.weight
      val (wna, wnd) = (weight(0.95, 0.005), weight(0.05, 0.995))
      val (wca, wcd) = (weight(0.9, 0.05), weight(0.1, 0.95))
      val (wsa, wsd) = (weight(0.98, 0.2), weight(0.02, 0.8))
      s"""
      WITH d24_a AS (
        SELECT c_custkey AS id, c_nationkey AS nat,
               substr(lower(c_name), 1, 16) AS np, lower(c_name) AS name,
               CAST(round((c_acctbal + 1000.0) * 100.0) AS BIGINT) AS cents,
               c_mktsegment AS seg
        FROM customer),
      d24_b AS (
        SELECT c_custkey + 1000000 AS id, c_nationkey AS nat,
               substr(lower(c_name), 1, 16) AS np,
               CASE WHEN c_custkey % 3 = 0 THEN lower(c_name) || 'x'
                    ELSE lower(c_name) END AS name,
               CAST(round((c_acctbal + 1000.0) * 100.0) AS BIGINT)
                 + c_custkey % 7 - 3 AS cents,
               CASE WHEN c_custkey % 11 = 0 THEN 'UNKNOWN'
                    ELSE c_mktsegment END AS seg
        FROM customer),
      d24_p AS (
        SELECT a.id AS a_id, b.id AS b_id,
               (CASE WHEN a.name = b.name THEN $wna ELSE $wnd END)
               + (CASE WHEN abs(a.cents - b.cents) <= 2 THEN $wca ELSE $wcd END)
               + (CASE WHEN a.seg = b.seg THEN $wsa ELSE $wsd END) AS score
        FROM d24_a a JOIN d24_b b USING (nat, np))
      SELECT a_id, b_id, score,
             CASE WHEN score >= 5.0 THEN 'match' ELSE 'possible' END
               AS decision
      FROM d24_p WHERE score >= 0.0
      ORDER BY a_id, b_id"""
  }

  /** Persisted linkage-reference index
    * ([[graft.operators.Linkage.writeReferenceIndex]] on half the twin
    * records, [[graft.operators.Linkage.appendReference]] of the rest,
    * then the bucket-layout probe): the entity-resolution-service face
    * of d24 — the oracle is d24's one-shot SQL verbatim, so the
    * split-built index must serve the identical match set. Uses d24's
    * composite (nation, name-prefix) blocking key (round 14 — see
    * [[d24_record_linkage]]): the index is bucketed BY that key, so
    * finer blocking also means finer bucket pruning at probe time. */
  val d26_linkage_indexed = QueryDef(
    "d26_linkage_indexed",
    (s, dir) => {
      import graft.operators.Linkage
      val c = Tables(s, dir).customer
      val cents =
        round((col("c_acctbal") + 1000.0) * 100.0, 0).cast("long")
      val aSide = c.select(
        col("c_custkey").as("id"), col("c_nationkey").as("nat"),
        substring(lower(col("c_name")), 1, 16).as("np"),
        lower(col("c_name")).as("name"), cents.as("cents"),
        col("c_mktsegment").as("seg"))
      val bSide = c.select(
        col("c_custkey").as("ck"),
        (col("c_custkey") + 1000000L).as("id"), col("c_nationkey").as("nat"),
        substring(lower(col("c_name")), 1, 16).as("np"),
        when(col("c_custkey") % 3 === 0,
          concat(lower(col("c_name")), lit("x")))
          .otherwise(lower(col("c_name"))).as("name"),
        (cents + col("c_custkey") % 7 - 3).as("cents"),
        when(col("c_custkey") % 11 === 0, lit("UNKNOWN"))
          .otherwise(col("c_mktsegment")).as("seg"))
      val fields = Seq(
        Linkage.FieldSpec("name", (x, y) => x === y, m = 0.95, u = 0.005),
        Linkage.FieldSpec("cents",
          (x, y) => abs(x - y) <= lit(2L), m = 0.9, u = 0.05),
        Linkage.FieldSpec("seg", (x, y) => x === y, m = 0.98, u = 0.2))
      val table = s"graft_linkref_${Integer.toHexString(dir.hashCode)}" +
        s"_p${ProcessHandle.current().pid()}"
      Linkage.writeReferenceIndex(
        s, table, bSide.filter(col("ck") % 2 === 0), "id", Seq("nat", "np"), fields)
      Linkage.appendReference(
        s, table, bSide.filter(col("ck") % 2 =!= 0), "id", Seq("nat", "np"), fields)
      Linkage.probeReferenceIndex(
          s, table, aSide, "id", Seq("nat", "np"), fields,
          lower = 0.0, upper = 5.0, maxBlock = 10000)
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(d24OracleSql),
    bench = true)

  /** The EXHAUSTIVE within-nation replay (the pre-round-14 d24 oracle):
    * every same-nation pair scored, score >= 0 kept. d27's oracle — the
    * blocking-rule union must serve this relation IDENTICALLY. */
  private lazy val d27OracleSql: String = {
    import graft.operators.Linkage.weight
    val (wna, wnd) = (weight(0.95, 0.005), weight(0.05, 0.995))
    val (wca, wcd) = (weight(0.9, 0.05), weight(0.1, 0.95))
    val (wsa, wsd) = (weight(0.98, 0.2), weight(0.02, 0.8))
    s"""
      WITH d27_a AS (
        SELECT c_custkey AS id, c_nationkey AS nat, lower(c_name) AS name,
               CAST(round((c_acctbal + 1000.0) * 100.0) AS BIGINT) AS cents,
               c_mktsegment AS seg
        FROM customer),
      d27_b AS (
        SELECT c_custkey + 1000000 AS id, c_nationkey AS nat,
               CASE WHEN c_custkey % 3 = 0 THEN lower(c_name) || 'x'
                    ELSE lower(c_name) END AS name,
               CAST(round((c_acctbal + 1000.0) * 100.0) AS BIGINT)
                 + c_custkey % 7 - 3 AS cents,
               CASE WHEN c_custkey % 11 = 0 THEN 'UNKNOWN'
                    ELSE c_mktsegment END AS seg
        FROM customer),
      d27_p AS (
        SELECT a.id AS a_id, b.id AS b_id,
               (CASE WHEN a.name = b.name THEN $wna ELSE $wnd END)
               + (CASE WHEN abs(a.cents - b.cents) <= 2 THEN $wca ELSE $wcd END)
               + (CASE WHEN a.seg = b.seg THEN $wsa ELSE $wsd END) AS score
        FROM d27_a a JOIN d27_b b USING (nat))
      SELECT a_id, b_id, score,
             CASE WHEN score >= 5.0 THEN 'match' ELSE 'possible' END
               AS decision
      FROM d27_p WHERE score >= 0.0
      ORDER BY a_id, b_id"""
  }

  /** BLOCKING-RULE UNION with exact recall (the multi-pass production
    * pattern — Splink's blocking rules, Fellegi–Sunter's own
    * "independent blocking passes"): d24's single composite key trades
    * the weak-evidence cross-name tier for scale; d27 shows the union
    * answer that gives it back WITHOUT the exhaustive join. With these
    * weights a pair scores >= 0 only in combos AAA/AAD/ADA/DAA
    * (γ_name, γ_cents, γ_seg) — every A** pair agrees on name, every
    * DAA pair agrees on cents — so two rules cover the output exactly:
    * R1 blocks on (nation, full name) — catches every name-agreeing
    * pair (block size = copies of one name, ~2); R2 blocks on (nation,
    * floor(cents/5) + k), k in {-1,0,1} — |Δcents| <= 2 < 5 means the
    * bands differ by at most 1, so three offset passes catch every
    * cents-agreeing pair (band occupancy is n / (nations × ~220k
    * distinct cents/5), << 1 until n approaches the value range).
    * Union the four passes, dedupe (identical rows — the score is the
    * same fixed-shape literal sum), and the result provably equals the
    * exhaustive within-nation scoring — which the oracle hash-pins.
    * Oracle-truth face (bench = false): R2's candidate count is
    * value-range-bound (Ω(n²/range)) — free while n << range, but the
    * honest contract is "exact recall costs a rule per agreeing field",
    * while the benched d24 pays one composite key and documents its
    * traded tier. */
  val d27_linkage_rules = QueryDef(
    "d27_linkage_rules",
    (s, dir) => {
      import graft.operators.Linkage
      val c = Tables(s, dir).customer
      val cents =
        round((col("c_acctbal") + 1000.0) * 100.0, 0).cast("long")
      val aBase = c.select(
        col("c_custkey").as("id"), col("c_nationkey").as("nat"),
        lower(col("c_name")).as("name"), cents.as("cents"),
        col("c_mktsegment").as("seg"))
      val bBase = c.select(
        (col("c_custkey") + 1000000L).as("id"), col("c_nationkey").as("nat"),
        when(col("c_custkey") % 3 === 0,
          concat(lower(col("c_name")), lit("x")))
          .otherwise(lower(col("c_name"))).as("name"),
        (cents + col("c_custkey") % 7 - 3).as("cents"),
        when(col("c_custkey") % 11 === 0, lit("UNKNOWN"))
          .otherwise(col("c_mktsegment")).as("seg"))
      val fields = Seq(
        Linkage.FieldSpec("name", (x, y) => x === y, m = 0.95, u = 0.005),
        Linkage.FieldSpec("cents",
          (x, y) => abs(x - y) <= lit(2L), m = 0.9, u = 0.05),
        Linkage.FieldSpec("seg", (x, y) => x === y, m = 0.98, u = 0.2))
      val r1 = Linkage.fellegiSunter(
        aBase.withColumn("nm", col("name")),
        bBase.withColumn("nm", col("name")),
        idCol = "id", blockCols = Seq("nat", "nm"), fields = fields,
        lower = 0.0, upper = 5.0, maxBlock = 10000)
      val r2 = (-1 to 1).map { k =>
        Linkage.fellegiSunter(
          aBase.withColumn("band", floor(col("cents") / 5)),
          bBase.withColumn("band", floor(col("cents") / 5) + k),
          idCol = "id", blockCols = Seq("nat", "band"), fields = fields,
          lower = 0.0, upper = 5.0, maxBlock = 10000)
      }
      (r1 +: r2).reduce(_.unionByName(_))
        .dropDuplicates("a_id", "b_id")
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(d27OracleSql))

  val d22_domain_cap = QueryDef(
    "d22_domain_cap",
    (s, dir) =>
      graft.operators.Sampling
        .quotaCap(
          Tables(s, dir).documents
            .select(col("doc_id"), col("source"),
              qualityScore(col("text")).as("quality")),
          groupCol = "source",
          maxPerGroup = 12,
          orderBy = Seq(col("quality").desc, col("doc_id").asc))
        .orderBy(col("doc_id")),
    Some("""
      WITH q AS (
        SELECT doc_id, source,
          round(((length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) * 1.0
                 / length(text)) * 0.6
            + (1.0 - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
                 / length(text)) * 0.2
            + least((length(replace(text, ' ', '')) * 1.0
                 / (length(text) - length(replace(text, ' ', '')) + 1)) / 10.0, 1.0) * 0.2,
            6) AS quality
        FROM documents),
      r AS (
        SELECT doc_id, source, quality,
               CAST(row_number() OVER (
                 PARTITION BY source
                 ORDER BY quality DESC, doc_id ASC) AS INT) AS src_rank
        FROM q)
      SELECT doc_id, source, quality, src_rank, src_rank <= 12 AS kept
      FROM r ORDER BY doc_id"""))

  /** Shared CTE block for the AUTO-WIDTH hyperplane LSH replay (d06 and
    * g18): `prm` recomputes [[Dedup.autoPlanes]]' signature width p from
    * count(embeddings) with the identical integer formula (smallest k in
    * 0..16 with 64*2^k >= n, clamped to [6,16] — no float log2 on either
    * engine); the hyperplanes are deterministic (splitmix64 from the
    * seed, prefix-stable in the plane index), so all 16 planes per table
    * are computed HERE at oracle-build time and inlined as double
    * literals (shortest-round-trip formatting parses to identical bits),
    * with each signature bit gated on its plane index < p. Signatures
    * use the same left-fold dot order as the Spark kernel; candidate
    * pairing mirrors the operator. Yields CTEs v (vectors), prm (p),
    * sigs, b (exploded buckets), cand (id_a < id_b candidate pairs). */
  private val lshAutoCtes: String = {
    val nTables = 6; val maxP = 16; val dim = 64
    def dot(t: Int, p: Int): String = {
      val plane = graft.functions.VectorFunctions
        .seededPlanes(maxP, dim, 42L + 7919L * t)(p)
      val lit = plane.map(_.toString).mkString("[", ",", "]::DOUBLE[]")
      s"list_reduce(list_transform(range($dim), __i -> e[__i+1] * ($lit)[__i+1]), (__a, __b) -> __a + __b)"
    }
    def sig(t: Int): String =
      (0 until maxP)
        .map(p =>
          s"(CASE WHEN $p < prm.p AND ${dot(t, p)} >= 0 THEN ${1L << p} ELSE 0 END)")
        .mkString("(", " + ", ")")
    val sigCols = (0 until nTables).map(t => s"${sig(t)} AS s$t").mkString(",\n        ")
    val sigArr = (0 until nTables).map(t => s"s$t").mkString("[", ",", "]")
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      prm AS (
        SELECT coalesce(greatest(6, least(16, (
          SELECT min(kk.k) FROM (SELECT unnest(range(0, 17)) AS k) kk
          WHERE 64 * (CAST(1 AS BIGINT) << kk.k)
                  >= (SELECT count(*) FROM embeddings)))), 16) AS p),
      sigs AS (
        SELECT vec_id,
        $sigCols
        FROM v CROSS JOIN prm),
      b AS (
        SELECT vec_id, tt.t AS tbl, $sigArr[tt.t + 1] AS sig
        FROM sigs CROSS JOIN (SELECT unnest(range($nTables)) AS t) tt),
      cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
        FROM b a JOIN b b2 ON a.tbl = b2.tbl AND a.sig = b2.sig AND a.vec_id < b2.vec_id)"""
  }

  private val d06Oracle: String = s"""
      WITH $lshAutoCtes
      SELECT id_a, id_b,
             round(list_cosine_similarity(va.e, vb.e), 6) AS cosine
      FROM cand JOIN v va ON cand.id_a = va.vec_id
                JOIN v vb ON cand.id_b = vb.vec_id
      WHERE round(list_cosine_similarity(va.e, vb.e), 6) >= 0.35
      ORDER BY id_a, id_b"""

  /** Embedding near-dup pairs ([[graft.operators.Dedup
    * .embeddingNearDupPairs]]) with the SELF-SCALING signature width of
    * [[graft.operators.Dedup.autoPlanes]]: 6 hyperplane tables whose
    * per-table bit width grows as log2(corpus/64), so expected bucket
    * occupancy — and candidate pairs per row — stays constant at every
    * corpus size. This closes the r13 scale flag (fixed 6-bit
    * signatures measured exponent 1.43 at sf1: 10x rows in the same 64
    * buckets is ~100x in-bucket pairs); at the gate SFs (<= 4096
    * vectors) the auto width IS 6, so small-scale results are unchanged,
    * while sf1's 20k vectors get p=9 (512 buckets/table). The count()
    * that sizes the width is parquet-metadata cheap. */
  val d06_embed_neardup = QueryDef(
    "d06_embed_neardup",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Dedup
        .embeddingNearDupPairs(
          emb, "vec_id", "embedding",
          dim = 64, threshold = 0.35,
          planesPerTable = Dedup.autoPlanes(emb.count()))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(d06Oracle),
    bench = true)

  /** Same hyperplane tables as d06, replayed across the train/eval
    * split (eval = vec_id % 10 == 0). */
  private val d12Oracle: String = {
    val nTables = 6; val planesPerTable = 6; val dim = 64
    def dot(t: Int, p: Int): String = {
      val plane = graft.functions.VectorFunctions
        .seededPlanes(planesPerTable, dim, 42L + 7919L * t)(p)
      val lit = plane.map(_.toString).mkString("[", ",", "]::DOUBLE[]")
      s"list_reduce(list_transform(range($dim), __i -> e[__i+1] * ($lit)[__i+1]), (__a, __b) -> __a + __b)"
    }
    def sig(t: Int): String =
      (0 until planesPerTable)
        .map(p => s"(CASE WHEN ${dot(t, p)} >= 0 THEN ${1 << p} ELSE 0 END)")
        .mkString("(", " + ", ")")
    val sigCols = (0 until nTables).map(t => s"${sig(t)} AS s$t").mkString(",\n        ")
    val sigArr = (0 until nTables).map(t => s"s$t").mkString("[", ",", "]")
    s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      sigs AS (
        SELECT vec_id,
        $sigCols
        FROM v),
      b AS (
        SELECT vec_id, tt.t AS tbl, $sigArr[tt.t + 1] AS sig
        FROM sigs CROSS JOIN (SELECT unnest(range($nTables)) AS t) tt),
      cand AS (
        SELECT DISTINCT a.vec_id AS train_id, b2.vec_id AS eval_id
        FROM b a JOIN b b2 ON a.tbl = b2.tbl AND a.sig = b2.sig
        WHERE a.vec_id % 10 <> 0 AND b2.vec_id % 10 = 0)
      SELECT train_id, eval_id,
             round(list_cosine_similarity(va.e, vb.e), 6) AS cosine
      FROM cand JOIN v va ON cand.train_id = va.vec_id
                JOIN v vb ON cand.eval_id = vb.vec_id
      WHERE round(list_cosine_similarity(va.e, vb.e), 6) >= 0.3
      ORDER BY train_id, eval_id"""
  }

  /** Embedding-space decontamination ([[graft.operators.Dedup
    * .embeddingDecontaminate]]): the semantic complement of d09 —
    * train docs whose EMBEDDING collides with an eval vector in any
    * hyperplane table, verified by exact cosine. Catches paraphrased
    * leakage n-gram overlap misses; eval side broadcasts. */
  val d12_embed_decontaminate = QueryDef(
    "d12_embed_decontaminate",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Dedup
        .embeddingDecontaminate(
          train = emb.filter(col("vec_id") % 10 =!= 0),
          eval = emb.filter(col("vec_id") % 10 === 0),
          "vec_id", "embedding", dim = 64, threshold = 0.3)
        .orderBy(col("train_id"), col("eval_id"))
    },
    Some(d12Oracle))

  // ---------------- similarity search ----------------

  val s01_knn_brute = QueryDef(
    "s01_knn_brute",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity
        .bruteForceKnn(
          corpus = emb,
          queries = emb.filter(col("vec_id") < 10),
          idCol = "vec_id", vecCol = "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""
      SELECT query_id, rank, neighbor_id, cosine FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            CAST(c.embedding AS DOUBLE[])), 6) AS cosine,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                       CAST(c.embedding AS DOUBLE[])), 6) DESC,
                          c.vec_id ASC) AS rank
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 10)
      WHERE rank <= 5
      ORDER BY query_id, rank"""),
    bench = true)

  /** Exact oracle for s03: same per-vector symmetric int8 quantization,
    * exact integer dot products, same rescale/round — all deterministic
    * arithmetic, replayed verbatim. */
  private val s03Oracle: String =
    s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      m AS (SELECT vec_id, e, list_max(list_transform(e, __x -> abs(__x))) AS ma FROM v),
      qt AS (
        SELECT vec_id, ma / 127.0 AS s,
               CASE WHEN ma = 0 THEN list_transform(e, __x -> 0)
                    ELSE list_transform(e, __x -> round(__x / (ma / 127.0), 0)::INT) END AS q
        FROM m),
      scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               round(list_reduce(
                 list_transform(range(len(a.q)), __i -> a.q[__i+1]::BIGINT * b.q[__i+1]),
                 (__s, __t) -> __s + __t)::DOUBLE * a.s * b.s, 6) AS score
        FROM qt a JOIN qt b ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
      SELECT query_id, rank, neighbor_id, score FROM (
        SELECT query_id, neighbor_id, score,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
        FROM scored)
      WHERE rank <= 5
      ORDER BY query_id, rank"""

  val s03_knn_quantized = QueryDef(
    "s03_knn_quantized",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity
        .quantizedKnn(
          corpus = emb,
          queries = emb.filter(col("vec_id") < 10),
          idCol = "vec_id", vecCol = "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s03Oracle),
    bench = true)

  /** Signed random projection ([[graft.operators.Similarity
    * .randomProjection]]): 64-dim embeddings down to 16 dims through the
    * deterministic ±1 matrix in exact integer arithmetic — the
    * JL-style compressed representation for kNN pre-filtering. The
    * oracle inlines the SAME sign matrix (both sides call
    * projectionSigns) and replays the quantize + signed fold exactly. */
  val s04_random_projection = QueryDef(
    "s04_random_projection",
    (s, dir) =>
      Similarity
        .randomProjection(Tables(s, dir).embeddings, "vec_id", "embedding",
          inDims = 64, outDims = 16)
        .select(col("vec_id"),
          concat_ws(",", transform(col("proj"), x => x.cast("string"))).as("proj"))
        .orderBy(col("vec_id")),
    Some {
      val signs = Similarity.projectionSigns(inDims = 64, outDims = 16, seed = 42L)
      val m = signs.zipWithIndex
        .map { case (row, j) => s"($j, [${row.mkString(", ")}])" }
        .mkString(",\n        ")
      s"""
      WITH q AS (
        SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
               __x -> CAST(round(__x * 1000000.0, 0) AS BIGINT)) AS qv
        FROM embeddings),
      m(j, s) AS (VALUES
        $m),
      y AS (
        SELECT vec_id, j,
               CAST(list_reduce(list_transform(range(64),
                      __i -> s[__i + 1] * qv[__i + 1]),
                    (__a, __b) -> __a + __b) AS BIGINT) AS yj
        FROM q CROSS JOIN m)
      SELECT vec_id, array_to_string(list(yj ORDER BY j), ',') AS proj
      FROM y GROUP BY vec_id ORDER BY vec_id"""
    })

  /** Exact DuckDB oracle for s02: the whole IVF pipeline is deterministic
    * — centroids are the 16 corpus vectors with the smallest xxhash64(id)
    * (emulated via [[OracleSql]]), cells assign by round(cosine,9) with
    * cid tiebreak, queries probe their 6 best cells, and the final top-5
    * ranks by round(cosine,6) with neighbor-id tiebreak. Cosines use
    * [[OracleSql.cosineExact]] (bit-identical op order), so the rounded
    * quantizer decisions match Spark exactly. */
  /** The s02 IVF replay, with the INDEX side restricted to `surviving`
    * (a predicate over the corpus vec_id) — "TRUE" reproduces the full
    * oracle for s02/s05/s06; s08 passes the post-purge survivors.
    * Centroids always derive from the FULL corpus: purge never moves
    * cell geometry (the fixed-centroid IVF contract). */
  private def s02OracleSurviving(surviving: String): String = {
    val hash = OracleSql.u2s(OracleSql.xxh64Long(OracleSql.s2u("vec_id")))
    val cellScore = OracleSql.cosineExact("v.e", "cent.cv")
    val pairScore = OracleSql.cosineExact("qv.e", "nv.e")
    s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      hashed AS (SELECT vec_id, e, $hash AS h FROM v),
      cent AS (
        SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid, e AS cv
        FROM hashed
        QUALIFY row_number() OVER (ORDER BY h, vec_id) <= 16),
      cscore AS (
        SELECT v.vec_id, cent.cid, round($cellScore, 9) AS s
        FROM v CROSS JOIN cent),
      cassign AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT vec_id, cid, s FROM cscore
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) = 1)
        WHERE ($surviving)),
      qprobe AS (
        SELECT vec_id AS query_id, cid AS cell FROM cscore WHERE vec_id < 10
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) <= 6),
      scored AS (
        SELECT q.query_id, ca.vec_id AS neighbor_id,
               round($pairScore, 6) AS cosine
        FROM qprobe q
        JOIN cassign ca ON q.cell = ca.cell AND q.query_id <> ca.vec_id
        JOIN v qv ON q.query_id = qv.vec_id
        JOIN v nv ON ca.vec_id = nv.vec_id)
      SELECT query_id, rank, neighbor_id, cosine FROM (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored)
      WHERE rank <= 5
      ORDER BY query_id, rank"""
  }

  private val s02Oracle: String = s02OracleSurviving("TRUE")

  val s02_knn_ivf = QueryDef(
    "s02_knn_ivf",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", nCells = 16)
      Similarity
        .ivfKnn(
          corpus = emb,
          queries = emb.filter(col("vec_id") < 10),
          idCol = "vec_id", vecCol = "embedding", k = 5,
          centroids = centroids, nProbe = 6)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s02Oracle),
    bench = true)

  /** Persist-and-probe ANN: the s02 pipeline split into its build/serve
    * halves ([[Similarity.writeIvfIndex]] / [[Similarity.probeIvfIndex]]).
    * The corpus quantization is paid once into a cell-bucketed table;
    * the probe broadcasts the (small) query side and literal-filters the
    * probed cells, so the index is neither shuffled nor fully scanned
    * (bucket pruning — pinned in BucketingSpec). Same parameters as s02,
    * therefore the SAME oracle: the hash compare proves the persisted
    * path returns bit-identical neighbors to the inline one. One table
    * per sf dir, overwritten per run (bounded warehouse footprint). */
  val s05_knn_ivf_indexed = QueryDef(
    "s05_knn_ivf_indexed",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", nCells = 16)
      // pid-suffixed like CsvQueries.scratchDir: separate in-memory-catalog
      // sessions share one spark-warehouse dir, and writeBucketed DROPs +
      // deletes the location — concurrent harness runs over the same sf dir
      // must not delete each other's live index files mid-probe.
      val table = s"graft_ivf_idx_${Integer.toHexString(dir.hashCode)}" +
        s"_p${ProcessHandle.current().pid()}"
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", centroids, table)
      Similarity
        .probeIvfIndex(s, table,
          queries = emb.filter(col("vec_id") < 10),
          idCol = "vec_id", vecCol = "embedding", k = 5,
          centroids = centroids, nProbe = 6)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s02Oracle),
    bench = true)

  /** s05's index arriving in TWO ingest drops — [[Similarity
    * .writeIvfIndex]] on the even vec_ids, [[Similarity.appendIvfIndex]]
    * of the odd ones (fixed build centroids, the IVF contract): cell
    * assignment is row-local, so append ≡ rebuild unconditionally and
    * the probe must return bit-identical neighbors to s02/s05 — the
    * hash compare proves index MAINTENANCE preserves probe semantics.
    * Only the new rows are quantized and shuffled; existing index files
    * untouched (pinned file-level in BucketingSpec). */
  val s06_knn_ivf_append = QueryDef(
    "s06_knn_ivf_append",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", nCells = 16)
      val table = s"graft_ivf_app_${Integer.toHexString(dir.hashCode)}" +
        s"_p${ProcessHandle.current().pid()}"
      Similarity.writeIvfIndex(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", centroids, table)
      Similarity.appendIvfIndex(
        table, emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", centroids)
      Similarity
        .probeIvfIndex(s, table,
          queries = emb.filter(col("vec_id") < 10),
          idCol = "vec_id", vecCol = "embedding", k = 5,
          centroids = centroids, nProbe = 6)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s02Oracle))

  /** s05's index with a TAKEDOWN in its history — [[Similarity
    * .writeIvfIndex]] over the full corpus, then [[Similarity
    * .purgeIvfIndex]] of every `vec_id % 7 = 3` (the takedown set),
    * then the standard probe. Cell geometry is fixed at build time, so
    * purge ≡ rebuild over the survivors with the SAME centroids — the
    * oracle replays the probe over the surviving corpus only (centroids
    * still derived from the full corpus): the hash compare proves
    * purged vectors can never be served as neighbors. */
  val s08_knn_ivf_purge = QueryDef(
    "s08_knn_ivf_purge",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", nCells = 16)
      val table = s"graft_ivf_pur_${Integer.toHexString(dir.hashCode)}" +
        s"_p${ProcessHandle.current().pid()}"
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", centroids, table)
      Similarity.purgeIvfIndex(s, table,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"))
      Similarity
        .probeIvfIndex(s, table,
          queries = emb.filter(col("vec_id") < 10),
          idCol = "vec_id", vecCol = "embedding", k = 5,
          centroids = centroids, nProbe = 6)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s02OracleSurviving("vec_id % 7 <> 3")))

  /** Fitted PCA projection per sf dir, stashed for s09's lazy oracle —
    * same refit-every-invocation discipline as t22's probe weights:
    * the matrix is a pure function of the corpus (exact-arithmetic
    * moments + deterministic Jacobi), so every refit stashes the
    * identical artifact. */
  private val pcaCache =
    scala.collection.concurrent.TrieMap[String, Array[Array[Double]]]()
  @volatile private var pcaDir: Option[String] = None
  private def corpusPca(
      s: org.apache.spark.sql.SparkSession, dir: String): Array[Array[Double]] = {
    val p = Similarity.fitPca(
      Tables(s, dir).embeddings, "vec_id", "embedding", inDims = 64, outDims = 8)
    pcaCache.update(dir, p)
    p
  }

  /** PCA compression of the embedding corpus ([[Similarity.fitPca]] +
    * [[Similarity.pcaProject]]): 64 dims -> the 8 leading principal
    * directions, learned from the corpus itself in exact arithmetic.
    * The lazy oracle (t22 pattern) embeds the fitted projection matrix
    * as DOUBLE-cast plain-decimal literals and replays the identical
    * fixed-order fold — any fit divergence breaks the hash. */
  val s09_pca = QueryDef(
    "s09_pca",
    (s, dir) => {
      pcaDir = Some(dir)
      Similarity
        .pcaProject(
          Tables(s, dir).embeddings, "vec_id", "embedding", corpusPca(s, dir))
        .orderBy(col("vec_id"))
    },
    None,
    oracleFn = Some { () =>
      // no stash = s09 filtered out of this Verify invocation; emit a
      // valid zero-matrix placeholder (never compared — the driver
      // always runs the full set, which stashes first)
      val p = pcaDir.flatMap(pcaCache.get)
        .getOrElse(Array.fill(8)(Array.fill(64)(0.0)))
      val cols = p.zipWithIndex.map { case (prow, j) =>
        val chain = prow.zipWithIndex.map { case (w, i) =>
          s"+ cast(${new java.math.BigDecimal(w).toPlainString} AS DOUBLE) * e[${i + 1}]"
        }.mkString(" ")
        s"round(cast(0.0 AS DOUBLE) $chain, 6) AS p$j"
      }.mkString(",\n             ")
      s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
      SELECT vec_id,
             $cols
      FROM e ORDER BY vec_id"""
    })

  /** Exact DuckDB oracle for s10: anchors via the validated xxhash64
    * emulation (the s02 sample), per-block codebooks by list_slice,
    * encode/LUT distances as the identical fixed left fold, ADC total
    * re-folded in block order, rank ties on neighbor id. */
  private val s10Oracle: String = {
    val hash = OracleSql.u2s(OracleSql.xxh64Long(OracleSql.s2u("vec_id")))
    val fold = (0 until 8)
      .map(i => s"+ (e[m*8 + ${i + 1}] - c[${i + 1}]) * (e[m*8 + ${i + 1}] - c[${i + 1}])")
      .mkString(" ")
    s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      hashed AS (SELECT vec_id, e, $hash AS h FROM v),
      anch AS (
        SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS k, e
        FROM hashed
        QUALIFY row_number() OVER (ORDER BY h, vec_id) <= 256),
      cb AS (
        SELECT ms.m, anch.k, list_slice(anch.e, ms.m*8 + 1, ms.m*8 + 8) AS c
        FROM anch CROSS JOIN (SELECT unnest(range(8)) AS m) ms),
      enc AS (
        SELECT v.vec_id, cb.m, cb.k,
               round(cast(0.0 AS DOUBLE) $fold, 9) AS d
        FROM v CROSS JOIN cb),
      codes AS (
        SELECT vec_id, m, k AS code FROM enc
        QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) = 1),
      lutq AS (
        SELECT v.vec_id AS query_id, cb.m, cb.k,
               cast(0.0 AS DOUBLE) $fold AS ld
        FROM v CROSS JOIN cb
        WHERE v.vec_id < 10),
      terms AS (
        SELECT l.query_id, c.vec_id AS neighbor_id, l.m, l.ld
        FROM codes c JOIN lutq l ON c.m = l.m AND c.code = l.k
        WHERE l.query_id <> c.vec_id),
      folded AS (
        SELECT query_id, neighbor_id, list(ld ORDER BY m) AS vs
        FROM terms GROUP BY 1, 2),
      scored AS (
        SELECT query_id, neighbor_id,
               round(list_reduce(list_prepend(cast(0.0 AS DOUBLE), vs),
                     (__a, __b) -> __a + __b), 6) AS adist
        FROM folded),
      short AS (
        SELECT query_id, neighbor_id FROM scored
        QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) <= 50),
      rr AS (
        SELECT s.query_id, s.neighbor_id,
               round(${OracleSql.cosineExact("qv.e", "nv.e")}, 6) AS cosine
        FROM short s JOIN v qv ON s.query_id = qv.vec_id
                     JOIN v nv ON s.neighbor_id = nv.vec_id)
      SELECT query_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
             neighbor_id, cosine
      FROM rr
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) <= 5
      ORDER BY query_id, rank"""
  }

  /** PQ-compressed ADC kNN ([[Similarity.pqCodebooks]] +
    * [[Similarity.pqKnn]]): 64-dim float vectors stored as 8 one-byte
    * codes, queries shortlist via per-query lookup tables over the code
    * scan and re-rank only the shortlist with raw vectors — the
    * memory-bound ANN scale path alongside s02's IVF (compute-bound
    * cell pruning) and s03's int8 (bandwidth-bound exact). */
  val s10_knn_pq = QueryDef(
    "s10_knn_pq",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
        inDims = 64, numSubspaces = 8, numCodes = 256)
      Similarity
        .pqKnn(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, codebooks = cb, shortlist = 50)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s10Oracle))

  /** Exact DuckDB oracle for s11: the s02 cell replay (centroids, cell
    * assignment, probe cells) COMPOSED with the s10 PQ replay (anchors,
    * codes, LUT folds) — candidates restricted to probed cells, then
    * the same shortlist + exact-cosine re-rank tail. */
  private val s11Oracle: String = {
    val hash = OracleSql.u2s(OracleSql.xxh64Long(OracleSql.s2u("vec_id")))
    val fold = (0 until 8)
      .map(i => s"+ (e[m*8 + ${i + 1}] - c[${i + 1}]) * (e[m*8 + ${i + 1}] - c[${i + 1}])")
      .mkString(" ")
    val cellScore = OracleSql.cosineExact("v.e", "cent.cv")
    s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      hashed AS (SELECT vec_id, e, $hash AS h FROM v),
      cent AS (
        SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid, e AS cv
        FROM hashed
        QUALIFY row_number() OVER (ORDER BY h, vec_id) <= 16),
      cscore AS (
        SELECT v.vec_id, cent.cid, round($cellScore, 9) AS s
        FROM v CROSS JOIN cent),
      cassign AS (
        SELECT vec_id, cid AS cell FROM cscore
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) = 1),
      qprobe AS (
        SELECT vec_id AS query_id, cid AS cell
        FROM cscore WHERE vec_id < 10
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) <= 6),
      anch AS (
        SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS k, e
        FROM hashed
        QUALIFY row_number() OVER (ORDER BY h, vec_id) <= 256),
      cb AS (
        SELECT ms.m, anch.k, list_slice(anch.e, ms.m*8 + 1, ms.m*8 + 8) AS c
        FROM anch CROSS JOIN (SELECT unnest(range(8)) AS m) ms),
      enc AS (
        SELECT v.vec_id, cb.m, cb.k,
               round(cast(0.0 AS DOUBLE) $fold, 9) AS d
        FROM v CROSS JOIN cb),
      codes AS (
        SELECT vec_id, m, k AS code FROM enc
        QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) = 1),
      lutq AS (
        SELECT v.vec_id AS query_id, cb.m, cb.k,
               cast(0.0 AS DOUBLE) $fold AS ld
        FROM v CROSS JOIN cb
        WHERE v.vec_id < 10),
      cand AS (
        SELECT q.query_id, ca.vec_id AS neighbor_id
        FROM qprobe q
        JOIN cassign ca ON q.cell = ca.cell AND q.query_id <> ca.vec_id),
      terms AS (
        SELECT cand.query_id, cand.neighbor_id, l.m, l.ld
        FROM cand
        JOIN codes c ON c.vec_id = cand.neighbor_id
        JOIN lutq l ON l.query_id = cand.query_id AND l.m = c.m AND l.k = c.code),
      folded AS (
        SELECT query_id, neighbor_id, list(ld ORDER BY m) AS vs
        FROM terms GROUP BY 1, 2),
      scored AS (
        SELECT query_id, neighbor_id,
               round(list_reduce(list_prepend(cast(0.0 AS DOUBLE), vs),
                     (__a, __b) -> __a + __b), 6) AS adist
        FROM folded),
      short AS (
        SELECT query_id, neighbor_id FROM scored
        QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) <= 50),
      rr AS (
        SELECT s.query_id, s.neighbor_id,
               round(${OracleSql.cosineExact("qv.e", "nv.e")}, 6) AS cosine
        FROM short s JOIN v qv ON s.query_id = qv.vec_id
                     JOIN v nv ON s.neighbor_id = nv.vec_id)
      SELECT query_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
             neighbor_id, cosine
      FROM rr
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) <= 5
      ORDER BY query_id, rank"""
  }

  /** IVF-PQ composition ([[Similarity.ivfPqKnn]]): coarse cells prune
    * WHICH corpus fraction each query touches, PQ codes shrink WHAT
    * each touched row costs — the canonical big-vector-corpus index
    * shape, here with both quantizers deterministic and the whole
    * cascade exactly replayed. */
  val s11_knn_ivfpq = QueryDef(
    "s11_knn_ivfpq",
    (s, dir) => {
      // fan opt-in tried and REJECTED (round 16): r15's accessor-wide
      // A/B read s11 −9/−11%, but the per-consumer paired re-measure on
      // a quiet host read +3% and +13% (2.390/2.616 vs 2.316 bare) —
      // the three driver-side collects (centroids, codebooks) each pay
      // the exchange before the one wide encode pass earns it back
      val emb = Tables(s, dir).embeddings
      val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", nCells = 16)
      val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
        inDims = 64, numSubspaces = 8, numCodes = 256)
      Similarity
        .ivfPqKnn(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, centroids = centroids, codebooks = cb, nProbe = 6, shortlist = 50)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s11Oracle),
    bench = true)

  /** PERSISTED IVF-PQ ([[Similarity.writeIvfPqIndex]] +
    * [[Similarity.probeIvfPqIndex]]): s11's cascade served from a
    * cell-bucketed table of (cell, codes, stored vector) — probed
    * buckets prune at planning time, ADC reads codes, re-rank joins the
    * shortlist back to the stored vectors. Shares s11's oracle: the
    * persisted probe must reproduce the inline cascade bit-for-bit. */
  val s12_knn_ivfpq_indexed = QueryDef(
    "s12_knn_ivfpq_indexed",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", nCells = 16)
      val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
        inDims = 64, numSubspaces = 8, numCodes = 256)
      val table = s"graft_ivfpq_${Integer.toHexString(dir.hashCode)}" +
        s"_p${ProcessHandle.current().pid()}"
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", centroids, cb, table)
      Similarity
        .probeIvfPqIndex(s, table, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, centroids = centroids, codebooks = cb,
          nProbe = 6, shortlist = 50)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s11Oracle))

  /** FILTERED vector search ([[Similarity.probeIvfIndex]]'s `filter`
    * over an attribute-carrying [[Similarity.writeIvfIndex]]): the s05
    * persisted-IVF probe with a metadata predicate (`label % 3 = 1`)
    * applied INSIDE the bucket-pruned index scan — the vector-DB
    * "WHERE clause + ANN" combination. Pre-filtering, so all k
    * neighbors satisfy the predicate; the oracle replays s02's IVF with
    * the index side restricted to the eligible vectors (probe cells
    * still derive from the full-corpus centroids — filtering moves no
    * cell geometry). */
  val s13_knn_ivf_filtered = QueryDef(
    "s13_knn_ivf_filtered",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", nCells = 16)
      val table = s"graft_ivf_flt_${Integer.toHexString(dir.hashCode)}" +
        s"_p${ProcessHandle.current().pid()}"
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", centroids, table,
        attrCols = Seq("label"))
      Similarity
        .probeIvfIndex(s, table,
          queries = emb.filter(col("vec_id") < 10),
          idCol = "vec_id", vecCol = "embedding", k = 5,
          centroids = centroids, nProbe = 6,
          filter = Some(col("label") % 3 === 1))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s02OracleSurviving(
      "vec_id IN (SELECT vec_id FROM embeddings WHERE label % 3 = 1)")))

  /** Weighted kNN classification ([[Similarity.knnClassify]] over
    * [[Similarity.bruteForceKnn]]): every 10th vector plays the
    * unlabeled "new document" stream and takes the cosine-weighted
    * majority label of its 10 nearest LABELED vectors — g04's
    * propagation as a single-shot serving face, the auto-labeling step
    * a curation pipeline runs on each ingest batch. Quantized long
    * tallies, smaller-label tie-break; the oracle replays the s01 kNN
    * and the integer vote bit-for-bit. The brute-force edge build is
    * the oracle-exact gate; the operator composes unchanged with the
    * persisted IVF/PQ probes at scale. */
  val s14_knn_classify = QueryDef(
    "s14_knn_classify",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val labeled = emb.filter(col("vec_id") % 10 =!= 0)
      val queries = emb.filter(col("vec_id") % 10 === 0)
      Similarity
        .knnClassify(
          Similarity.bruteForceKnn(labeled, queries,
            "vec_id", "embedding", k = 10),
          labeled, "vec_id", "label")
        .orderBy(col("query_id"))
    },
    Some("""
      WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings),
      knn AS MATERIALIZED (
        SELECT query_id, neighbor_id, cosine FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round(list_cosine_similarity(q.e, c.e), 6) AS cosine,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC,
                            c.vec_id ASC) AS rank
          FROM v q JOIN v c
            ON q.vec_id % 10 = 0 AND c.vec_id % 10 <> 0
            AND q.vec_id <> c.vec_id)
        WHERE rank <= 10),
      tallies AS (
        SELECT k.query_id, CAST(c.label AS BIGINT) AS label,
               cast(sum(greatest(0, CAST(round(k.cosine * 1000000.0, 0) AS BIGINT)))
                 AS BIGINT) AS votes,
               cast(count(*) AS BIGINT) AS n_neighbors
        FROM knn k JOIN v c ON k.neighbor_id = c.vec_id
        GROUP BY 1, 2)
      SELECT query_id, label, votes, n_neighbors FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY votes DESC, label ASC) AS rn
        FROM tallies)
      WHERE rn = 1
      ORDER BY query_id"""))

  /** Truncated-dimension two-stage kNN ([[Similarity.truncatedKnn]],
    * the Matryoshka serving pattern): shortlist-50 by cosine over the
    * first 16 of 64 coordinates (4x less scan bandwidth and FLOPs in
    * the corpus pass), exact full-width re-rank through a broadcast of
    * the shortlist — the zero-training cousin of the s10 PQ cascade.
    * Both stages deterministic (round-6, id tie-breaks), replayed
    * verbatim by the oracle. */
  val s16_knn_truncated = QueryDef(
    "s16_knn_truncated",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity
        .truncatedKnn(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, prefixDims = 16, shortlist = 50)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      pshort AS (
        SELECT query_id, neighbor_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(
                              list_slice(q.e, 1, 16), list_slice(c.e, 1, 16)), 6) DESC,
                            c.vec_id ASC) AS srank
          FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
        WHERE srank <= 50)
      SELECT query_id, rank, neighbor_id, cosine FROM (
        SELECT s.query_id, s.neighbor_id,
               round(list_cosine_similarity(qv.e, nv.e), 6) AS cosine,
               row_number() OVER (
                 PARTITION BY s.query_id
                 ORDER BY round(list_cosine_similarity(qv.e, nv.e), 6) DESC,
                          s.neighbor_id ASC) AS rank
        FROM pshort s JOIN v qv ON s.query_id = qv.vec_id
                      JOIN v nv ON s.neighbor_id = nv.vec_id)
      WHERE rank <= 5
      ORDER BY query_id, rank"""),
    bench = true)

  /** Exact oracle for s17: the d10 quantization CTE, then the greedy
    * farthest-point rounds unrolled — every `sel` table MATERIALIZED
    * (each is referenced by both the next round's distance scan and
    * the next union; left inlined the chain re-expands exponentially,
    * the d07 lesson). */
  private def kcenterOracle(k: Int, dims: Int): String = {
    def dist(a: String, b: String) =
      s"""list_reduce(list_transform(range($dims),
         __i -> ($a[__i + 1] - $b[__i + 1]) * ($a[__i + 1] - $b[__i + 1])),
         (__s, __t) -> __s + __t)"""
    val rounds = (2 to k).map { r =>
      s"""
      d$r AS (
        SELECT c.vec_id, min(${dist("c.q", "s.q")}) AS dmin
        FROM qv c CROSS JOIN sel${r - 1} s
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
        GROUP BY c.vec_id),
      pick$r AS (
        SELECT vec_id, dmin FROM d$r ORDER BY dmin DESC, vec_id ASC LIMIT 1),
      sel$r AS MATERIALIZED (
        SELECT * FROM sel${r - 1}
        UNION ALL
        SELECT $r AS rank, p.vec_id, qv.q, p.dmin AS dist_q
        FROM pick$r p JOIN qv ON p.vec_id = qv.vec_id)"""
    }.mkString(",")
    s"""
      WITH qv AS (
        SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
               __x -> CAST(round(__x * 1000000.0, 0) AS BIGINT)) AS q
        FROM embeddings),
      sel1 AS MATERIALIZED (
        SELECT 1 AS rank, vec_id, q, CAST(0 AS BIGINT) AS dist_q
        FROM qv ORDER BY vec_id LIMIT 1),
      $rounds
      SELECT rank, vec_id, dist_q FROM sel$k ORDER BY rank"""
  }

  /** K-center greedy coreset ([[Similarity.kCenterGreedy]]): the 16
    * exemplars that SPAN the embedding space, with their coverage radii
    * — the diversity-keeping complement of d11's redundancy-removing
    * SemDeDup. Exact quantized-integer distances end to end, so the
    * greedy trajectory (seed = min id, farthest-point argmax, id
    * tie-break) replays bit-for-bit in the unrolled oracle. */
  val s17_kcenter_coreset = QueryDef(
    "s17_kcenter_coreset",
    (s, dir) =>
      Similarity
        .kCenterGreedy(Tables(s, dir).embeddings, "vec_id", "embedding",
          k = 16)
        .orderBy(col("rank")),
    Some(kcenterOracle(k = 16, dims = 64)))

  /** MARGIN-BASED bitext mining ([[graft.operators.Similarity
    * .marginScores]], Artetxe & Schwenk 2019): the even-id vectors play
    * the source "language", the odd-id vectors the target; forward and
    * backward brute-force kNN (the exact gate — swap in IVF/PQ at
    * scale, the operator only sees neighbor lists) feed the ratio
    * margin, which rescores each candidate pair relative to BOTH
    * neighborhoods. The oracle replays cosines, the decimal
    * neighborhood sums, and the fixed-order margin arithmetic
    * bit-for-bit. */
  val s18_bitext_margin = QueryDef(
    "s18_bitext_margin",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings.filter(col("vec_id") < 400)
      val src = emb.filter(col("vec_id") % 2 === 0)
      val tgt = emb.filter(col("vec_id") % 2 === 1)
      val fwd = Similarity.bruteForceKnn(tgt, src, "vec_id", "embedding", k = 4)
      val bwd = Similarity.bruteForceKnn(src, tgt, "vec_id", "embedding", k = 4)
      Similarity.marginScores(fwd, bwd)
        .orderBy(col("src_id"), col("mrank"))
    },
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE vec_id < 400),
      s18_s AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
      s18_t AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1),
      fwd AS MATERIALIZED (
        SELECT query_id, neighbor_id, cosine FROM (
          SELECT s.vec_id AS query_id, t.vec_id AS neighbor_id,
                 round(list_cosine_similarity(s.v, t.v), 6) AS cosine,
                 row_number() OVER (
                   PARTITION BY s.vec_id
                   ORDER BY round(list_cosine_similarity(s.v, t.v), 6) DESC,
                            t.vec_id ASC) AS rnk
          FROM s18_s s JOIN s18_t t ON true) __f
        WHERE rnk <= 4),
      bwd AS MATERIALIZED (
        SELECT query_id, neighbor_id, cosine FROM (
          SELECT t.vec_id AS query_id, s.vec_id AS neighbor_id,
                 round(list_cosine_similarity(t.v, s.v), 6) AS cosine,
                 row_number() OVER (
                   PARTITION BY t.vec_id
                   ORDER BY round(list_cosine_similarity(t.v, s.v), 6) DESC,
                            s.vec_id ASC) AS rnk
          FROM s18_t t JOIN s18_s s ON true) __b
        WHERE rnk <= 4),
      fa AS (SELECT query_id AS fid, sum(cast(cosine AS DECIMAL(18,6))) AS sf,
                    count(*) AS nf
             FROM fwd GROUP BY 1),
      ba AS (SELECT query_id AS bid, sum(cast(cosine AS DECIMAL(18,6))) AS sb,
                    count(*) AS nb
             FROM bwd GROUP BY 1),
      m AS (
        SELECT f.query_id AS src_id, f.neighbor_id AS tgt_id, f.cosine,
               CASE WHEN (cast(fa.sf AS DOUBLE) / fa.nf
                          + cast(ba.sb AS DOUBLE) / ba.nb) / 2 = 0 THEN NULL
                    ELSE round(f.cosine /
                           ((cast(fa.sf AS DOUBLE) / fa.nf
                             + cast(ba.sb AS DOUBLE) / ba.nb) / 2), 6) END AS margin
        FROM fwd f JOIN fa ON f.query_id = fa.fid
                   JOIN ba ON f.neighbor_id = ba.bid)
      SELECT src_id, tgt_id, cosine, margin,
             cast(row_number() OVER (
               PARTITION BY src_id ORDER BY margin DESC, tgt_id ASC) AS INT) AS mrank
      FROM m ORDER BY src_id, mrank"""))

  /** Maximum-inner-product retrieval ([[Similarity.bruteForceMips]]):
    * top-k under the raw DOT PRODUCT — the score unnormalized dual
    * encoders and factorization recommenders train, where magnitude
    * carries meaning cosine divides away. Exact brute force is the
    * oracle gate; SimilaritySpec pins the Bachrach/Shrivastava-Li
    * norm-augmentation reduction ([[Similarity.mipsAugmentCorpus]])
    * equal to it through the UNCHANGED cosine IVF face — how MIPS
    * rides the existing index lifecycle at 100 TB. The oracle replays
    * the same in-order double fold (0.0-seeded left fold over the
    * element products — bit-identical to the scan kernel). */
  val s19_knn_mips = QueryDef(
    "s19_knn_mips",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity
        .bruteForceMips(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      s19_sc AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_reduce(
                 list_prepend(0.0, list_transform(range(len(q.e)),
                   __i -> q.e[__i+1] * c.e[__i+1])),
                 (__a, __b) -> __a + __b), 6) AS dot
        FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
      SELECT query_id, rank, neighbor_id, dot FROM (
        SELECT query_id, neighbor_id, dot,
               cast(row_number() OVER (
                 PARTITION BY query_id ORDER BY dot DESC, neighbor_id ASC) AS INT) AS rank
        FROM s19_sc)
      WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** Exact oracle for s20: candidate pool + pairwise sim matrix
    * MATERIALIZED once, then the greedy MMR rounds unrolled as CTE
    * triples (penalty, score-with-anti-join, pick); every selected set
    * is MATERIALIZED too — it is referenced three times per round and
    * DuckDB would otherwise re-inline the whole prefix exponentially
    * (the d07 lesson). Integer objective, id tie-break. */
  private def mmrOracle(
      k: Int, poolSize: Int, lamNum: Long, lamDen: Long): String = {
    val pen = lamDen - lamNum
    val rounds = (2 to k).map { r =>
      s"""
      s20_pen$r AS (
        SELECT p.qid, p.a AS cid, max(p.s) AS pen
        FROM s20_pairs p
        JOIN s20_sel${r - 1} s ON p.qid = s.qid AND p.b = s.cid
        GROUP BY 1, 2),
      s20_row$r AS (
        SELECT c.qid, c.cid,
               $lamNum * c.simq - $pen * coalesce(pn.pen, 0) AS score
        FROM s20_cand c
        LEFT JOIN s20_pen$r pn ON pn.qid = c.qid AND pn.cid = c.cid
        LEFT JOIN s20_sel${r - 1} sl ON sl.qid = c.qid AND sl.cid = c.cid
        WHERE sl.cid IS NULL),
      s20_pick$r AS (
        SELECT qid, cid, $r AS rank, score AS mmr_q FROM (
          SELECT qid, cid, score, row_number() OVER (
            PARTITION BY qid ORDER BY score DESC, cid) AS rn
          FROM s20_row$r) WHERE rn = 1),
      s20_sel$r AS MATERIALIZED (
        SELECT * FROM s20_sel${r - 1} UNION ALL SELECT * FROM s20_pick$r)"""
    }.mkString(",")
    s"""
      WITH s20_v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      s20_sc AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               round(list_cosine_similarity(q.e, c.e), 6) AS cos6
        FROM s20_v q JOIN s20_v c
          ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
      s20_cand AS MATERIALIZED (
        SELECT qid, cid,
               CAST(round(cos6 * 1000000) AS BIGINT) AS simq
        FROM (SELECT qid, cid, cos6, row_number() OVER (
                PARTITION BY qid ORDER BY cos6 DESC, cid) AS rn
              FROM s20_sc)
        WHERE rn <= $poolSize),
      s20_pairs AS MATERIALIZED (
        SELECT a.qid, a.cid AS a, b.cid AS b,
               CAST(round(round(list_cosine_similarity(va.e, vb.e), 6)
                 * 1000000) AS BIGINT) AS s
        FROM s20_cand a
        JOIN s20_cand b ON a.qid = b.qid AND a.cid <> b.cid
        JOIN s20_v va ON va.vec_id = a.cid
        JOIN s20_v vb ON vb.vec_id = b.cid),
      s20_sel1 AS MATERIALIZED (
        SELECT qid, cid, 1 AS rank, $lamNum * simq AS mmr_q FROM (
          SELECT qid, cid, simq, row_number() OVER (
            PARTITION BY qid ORDER BY $lamNum * simq DESC, cid) AS rn
          FROM s20_cand) WHERE rn = 1),
      $rounds
      SELECT qid AS query_id, rank, cid AS neighbor_id, mmr_q
      FROM s20_sel$k ORDER BY query_id, rank"""
  }

  /** MMR diversity re-rank ([[graft.operators.Similarity.mmrRerank]]):
    * per query, the greedy λ-tradeoff between query similarity and
    * redundancy to already-picked results — the post-ANN stage that
    * turns k near-duplicate hits into k covering ones. Brute pool =
    * the oracle gate; the `pool` parameter takes the IVF/PQ shortlist
    * at scale. Integer objective (quantized sims, rational λ). */
  val s20_mmr_rerank = QueryDef(
    "s20_mmr_rerank",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity
        .mmrRerank(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 8, poolSize = 24)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(mmrOracle(k = 8, poolSize = 24, lamNum = 70, lamDen = 100)))

  /** Embedding-quality report ([[graft.operators.Similarity
    * .embeddingQualityReport]]): Wang–Isola alignment + uniformity
    * from deterministically sampled pairs — quantized distances,
    * per-pair 1e9-quantized exp, fixed-shape final doubles. */
  val s21_embed_quality = QueryDef(
    "s21_embed_quality",
    (s, dir) =>
      Similarity.embeddingQualityReport(
        Tables(s, dir).embeddings, "vec_id", "embedding", "label"),
    Some("""
      WITH s21_s AS MATERIALIZED (
        SELECT vec_id AS id, label::BIGINT AS l,
               list_transform(CAST(embedding AS DOUBLE[]),
                 x -> CAST(round(x * 1000000.0) AS BIGINT)) AS q
        FROM embeddings
        WHERE (vec_id * 1103515245 + 12345) % 1000 < 400),
      s21_u AS (
        SELECT CAST(round(exp(-2.0 * (d::DOUBLE / (1000000.0 * 1000000.0)))
                 * 1000000000.0) AS BIGINT) AS e
        FROM (
          SELECT list_reduce(list_transform(range(len(a.q)),
                   i -> (a.q[i+1] - b.q[i+1]) * (a.q[i+1] - b.q[i+1])),
                 (x, y) -> x + y) AS d
          FROM s21_s a JOIN s21_s b
            ON a.id < b.id AND (a.id * 31 + b.id) % 10 = 0)),
      s21_un AS (
        SELECT cast(count(*) AS BIGINT) AS np,
               cast(coalesce(sum(e), 0) AS BIGINT) AS se FROM s21_u),
      s21_a AS (
        SELECT list_reduce(list_transform(range(len(a.q)),
                 i -> (a.q[i+1] - b.q[i+1]) * (a.q[i+1] - b.q[i+1])),
               (x, y) -> x + y) AS d
        FROM s21_s a JOIN s21_s b ON a.l = b.l AND a.id < b.id),
      s21_an AS (
        SELECT cast(count(*) AS BIGINT) AS na,
               cast(coalesce(sum(d), 0) AS BIGINT) AS sd FROM s21_a),
      s21_n AS (SELECT cast(count(*) AS BIGINT) AS n FROM s21_s)
      SELECT n AS sampled_vectors, na AS align_pairs, np AS uniform_pairs,
             round(sd::DOUBLE / nullif(na::DOUBLE, 0.0)
               / (1000000.0 * 1000000.0), 6) AS alignment,
             round(ln(se::DOUBLE / nullif(np::DOUBLE, 0.0)
               / 1000000000.0), 6) AS uniformity
      FROM s21_n CROSS JOIN s21_an CROSS JOIN s21_un"""))

  /** HARD-NEGATIVE mining for contrastive/embedding training — the
    * data-prep face of retrieval: for each query, the highest-cosine
    * neighbors whose label DISAGREES with the query's (the "hard"
    * negatives that actually move an embedding model; random negatives
    * are free but uninformative). Composes the existing pieces — kNN
    * candidates (brute here for the oracle gate; IVF/PQ at scale),
    * label joins, per-query WindowGroupLimit — so the mining cost is
    * the retrieval cost plus one top-k window; nothing rescans the
    * corpus. Output: 5 hardest negatives per query with their own
    * rank. */
  val s15_hard_negatives = QueryDef(
    "s15_hard_negatives",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val lab = emb.select(col("vec_id"), col("label"))
      val cand = Similarity
        .bruteForceKnn(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 20)
        .join(lab.select(col("vec_id").as("query_id"),
          col("label").as("__ql")), Seq("query_id"))
        .join(lab.select(col("vec_id").as("neighbor_id"),
          col("label").as("neighbor_label")), Seq("neighbor_id"))
        .filter(col("__ql") =!= col("neighbor_label"))
      cand
        .withColumn("neg_rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("cosine").desc, col("neighbor_id").asc)))
        .filter(col("neg_rank") <= 5)
        .select(col("query_id"), col("neg_rank"), col("neighbor_id"),
          col("cosine"), col("neighbor_label"))
        .orderBy(col("query_id"), col("neg_rank"))
    },
    Some("""
      WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings),
      knn AS MATERIALIZED (
        SELECT query_id, neighbor_id, cosine FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round(list_cosine_similarity(q.e, c.e), 6) AS cosine,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC,
                            c.vec_id ASC) AS rank
          FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
        WHERE rank <= 20),
      neg AS (
        SELECT k.query_id, k.neighbor_id, k.cosine,
               CAST(c.label AS INT) AS neighbor_label
        FROM knn k JOIN v q ON k.query_id = q.vec_id
                   JOIN v c ON k.neighbor_id = c.vec_id
        WHERE q.label <> c.label)
      SELECT query_id, neg_rank, neighbor_id, cosine, neighbor_label FROM (
        SELECT query_id, neighbor_id, cosine, neighbor_label,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS neg_rank
        FROM neg)
      WHERE neg_rank <= 5
      ORDER BY query_id, neg_rank"""))

  /** Exact oracle for s07: the s02 IVF replay extended with probe ranks,
    * a probe-budget expansion, and the s01-style exact top-k truth set —
    * recall computed by the same left-join-and-count. All cosines via
    * [[OracleSql.cosineExact]] (bit-identical op order to Spark). */
  private val s07Oracle: String = {
    val hash = OracleSql.u2s(OracleSql.xxh64Long(OracleSql.s2u("vec_id")))
    val cellScore = OracleSql.cosineExact("v.e", "cent.cv")
    val pairScore = OracleSql.cosineExact("qv.e", "nv.e")
    val truthScore = OracleSql.cosineExact("tq.e", "tc.e")
    s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      hashed AS (SELECT vec_id, e, $hash AS h FROM v),
      cent AS (
        SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid, e AS cv
        FROM hashed
        QUALIFY row_number() OVER (ORDER BY h, vec_id) <= 16),
      cscore AS (
        SELECT v.vec_id, cent.cid, round($cellScore, 9) AS s
        FROM v CROSS JOIN cent),
      cassign AS (
        SELECT vec_id, cid AS cell FROM cscore
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) = 1),
      qprobe AS (
        SELECT vec_id AS query_id, cid AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) - 1 AS pos
        FROM cscore WHERE vec_id < 10
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) <= 16),
      cand AS (
        SELECT q.query_id, q.pos, ca.vec_id AS neighbor_id,
               round($pairScore, 6) AS cosine
        FROM qprobe q
        JOIN cassign ca ON q.cell = ca.cell AND q.query_id <> ca.vec_id
        JOIN v qv ON q.query_id = qv.vec_id
        JOIN v nv ON ca.vec_id = nv.vec_id),
      budgets AS (SELECT unnest([1, 2, 4, 16]) AS n_probe),
      ranked AS (
        SELECT query_id, n_probe, neighbor_id
        FROM cand c JOIN budgets b ON c.pos < b.n_probe
        QUALIFY row_number() OVER (
          PARTITION BY query_id, n_probe
          ORDER BY cosine DESC, neighbor_id ASC) <= 5),
      truth AS (
        SELECT query_id, neighbor_id FROM (
          SELECT tq.vec_id AS query_id, tc.vec_id AS neighbor_id,
                 row_number() OVER (
                   PARTITION BY tq.vec_id
                   ORDER BY round($truthScore, 6) DESC, tc.vec_id ASC) AS r
          FROM v tq JOIN v tc ON tq.vec_id <> tc.vec_id
          WHERE tq.vec_id < 10)
        WHERE r <= 5)
      SELECT r.query_id, r.n_probe,
             count(t.neighbor_id) AS hits,
             round(count(t.neighbor_id)::DOUBLE / 5, 6) AS recall
      FROM ranked r
      LEFT JOIN truth t
        ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
      GROUP BY 1, 2
      ORDER BY 1, 2"""
  }

  /** ANN self-evaluation ([[Similarity.annRecallCurve]]): recall@5 of
    * the s02 IVF configuration against the s01 exact baseline, at probe
    * budgets 1/2/4/16 — the recall/cost curve that prices the index.
    * Budget 16 probes every cell, so its recall is exactly 1.0 by
    * construction (the built-in self-check; monotonicity pinned in
    * SimilaritySpec). One candidate pass serves all budgets. */
  val s07_ann_recall = QueryDef(
    "s07_ann_recall",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", nCells = 16)
      Similarity
        .annRecallCurve(
          corpus = emb,
          queries = emb.filter(col("vec_id") < 10),
          idCol = "vec_id", vecCol = "embedding", k = 5,
          centroids = centroids, nProbes = Seq(1, 2, 4, 16))
        .orderBy(col("query_id"), col("n_probe"))
    },
    Some(s07Oracle),
    bench = true)

  // ---------------- round-4 additions ----------------

  /** Gopher-style repetition signals (Rae et al. 2021 quality filters):
    * duplicate-token ratio, top-token fraction, duplicate-3-gram ratio.
    * All expression-only (no shuffle); the oracle replays the identical
    * double-op order. */
  val t06_repetition = QueryDef(
    "t06_repetition",
    (s, dir) =>
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          tokenCount(col("text")).as("n_tokens"),
          round(dupTokenRatio(col("text")), 6).as("dup_token_ratio"),
          round(topTokenRatio(col("text")), 6).as("top_token_ratio"),
          round(dupShingleRatio(col("text"), 3), 6).as("dup_3gram_ratio"))
        .orderBy(col("doc_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id,
               length(text) - length(replace(text, ' ', '')) + 1 AS nt,
               list_filter(string_split(lower(text), ' '), __t -> __t <> '') AS ts
        FROM documents),
      sh AS (
        SELECT doc_id, nt, ts,
               list_distinct(CASE WHEN len(ts) <= 3 THEN [array_to_string(ts, ' ')]
                 ELSE list_transform(range(len(ts) - 2),
                        __i -> ts[__i+1] || ' ' || ts[__i+2] || ' ' || ts[__i+3]) END) AS sset
        FROM toks)
      SELECT doc_id, nt AS n_tokens,
        round(CASE WHEN len(ts) = 0 THEN 0.0
              ELSE 1.0 - len(list_distinct(ts)) * 1.0 / len(ts) END, 6) AS dup_token_ratio,
        round(CASE WHEN len(ts) = 0 THEN 0.0
              ELSE list_max(list_transform(list_distinct(ts),
                     __t -> len(list_filter(ts, __x -> __x = __t)))) * 1.0 / len(ts) END,
              6) AS top_token_ratio,
        round(CASE WHEN len(ts) = 0 THEN 0.0
              ELSE 1.0 - len(sset) * 1.0 / greatest(len(ts) - 2, 1) END, 6) AS dup_3gram_ratio
      FROM sh ORDER BY doc_id"""),
    bench = true)

  /** PII scan + redaction. The corpus carries no PII, so deterministic
    * synthetic PII is injected per doc_id (email on even ids, an IPv4
    * always, a phone on ids % 3 = 0) and then scanned/redacted — proving
    * the patterns match AND the negatives stay untouched. Patterns are
    * Java-regex/RE2-portable (classes + bounded repetition + \b only). */
  val t07_pii_redact = QueryDef(
    "t07_pii_redact",
    (s, dir) => {
      import graft.functions.TextFunctions._
      val aug = concat(
        col("text"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com"))).otherwise(lit("")),
        lit(" host 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit("."), pmod(col("doc_id") * 7, lit(256)).cast("string"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" tel 555-"),
            lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
            lit("-"),
            lpad(pmod(col("doc_id") * 31, lit(10000)).cast("string"), 4, "0")))
          .otherwise(lit("")))
      Tables(s, dir).documents
        .select(col("doc_id"), aug.as("__aug"))
        .select(
          col("doc_id"),
          piiEmailCount(col("__aug")).as("n_emails"),
          piiIpCount(col("__aug")).as("n_ips"),
          piiPhoneCount(col("__aug")).as("n_phones"),
          redactPii(col("__aug")).as("redacted"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH aug AS (
        SELECT doc_id,
          text ||
          CASE WHEN doc_id % 2 = 0
               THEN ' contact user' || doc_id::VARCHAR || '@mail.example.com'
               ELSE '' END ||
          ' host 10.0.' || (doc_id % 256)::VARCHAR || '.' || ((doc_id * 7) % 256)::VARCHAR ||
          CASE WHEN doc_id % 3 = 0
               THEN ' tel 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-'
                    || lpad(((doc_id * 31) % 10000)::VARCHAR, 4, '0')
               ELSE '' END AS t
        FROM documents)
      SELECT doc_id,
        len(regexp_extract_all(t, '${graft.functions.TextFunctions.emailPattern}')) AS n_emails,
        len(regexp_extract_all(t, '${graft.functions.TextFunctions.ipv4Pattern}')) AS n_ips,
        len(regexp_extract_all(t, '${graft.functions.TextFunctions.phonePattern}')) AS n_phones,
        regexp_replace(regexp_replace(regexp_replace(t,
          '${graft.functions.TextFunctions.emailPattern}', '<EMAIL>', 'g'),
          '${graft.functions.TextFunctions.ipv4Pattern}', '<IP>', 'g'),
          '${graft.functions.TextFunctions.phonePattern}', '<PHONE>', 'g') AS redacted
      FROM aug ORDER BY doc_id"""))

  /** Deterministic train/val/test split: bucket = pmod(xxhash64(id), 100),
    * train < 80 <= val < 90 <= test — stable under reshuffling, reruns and
    * corpus growth (a doc's split never changes), the standard way to cut
    * a 100 TB corpus without a sort. Oracle recomputes the hash via
    * [[OracleSql]]'s bit-exact emulation. */
  val p03_split = QueryDef(
    "p03_split",
    (s, dir) =>
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          tokenCount(col("text")).as("nt"),
          pmod(xxhash64(col("doc_id")), lit(100)).as("bucket"))
        .withColumn(
          "split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("nt")).as("sum_tokens"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("split")),
    Some(s"""
      WITH b AS (
        SELECT doc_id,
               length(text) - length(replace(text, ' ', '')) + 1 AS nt,
               ((${OracleSql.u2s(OracleSql.xxh64Long(OracleSql.s2u("doc_id")))} % 100) + 100) % 100 AS bucket
        FROM documents),
      sp AS (
        SELECT doc_id, nt,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM b)
      SELECT split, cast(count(*) as bigint) AS n_docs,
             cast(sum(nt) as bigint) AS sum_tokens,
             min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM sp GROUP BY split ORDER BY split"""))

  /** Temperature-weighted language mixture (alpha = 0.5, the multilingual
    * sampling rule): weight_l proportional to sqrt(tokens_l), plus the
    * oversample factor vs natural frequency. Sqrt is correctly rounded
    * IEEE and the weight total is summed in decimal, so the oracle is
    * bit-exact. */
  val p04_mixture = QueryDef(
    "p04_mixture",
    (s, dir) => {
      val w = Tables(s, dir).documents
        .groupBy(col("lang"))
        .agg(sum(tokenCount(col("text"))).as("sum_tokens"))
        .withColumn("w_raw", round(sqrt(col("sum_tokens").cast("double")), 6))
      val tot = w.agg(
        sum(col("w_raw").cast("decimal(18,6)")).cast("double").as("__wt"),
        sum(col("sum_tokens")).cast("double").as("__tt"))
      w.crossJoin(broadcast(tot))
        .select(
          col("lang"), col("sum_tokens"),
          round(col("w_raw") / col("__wt"), 6).as("weight"),
          round(col("w_raw") / col("__wt") * col("__tt")
            / col("sum_tokens").cast("double"), 6).as("oversample"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH lt AS (
        SELECT lang,
               cast(sum(length(text) - length(replace(text, ' ', '')) + 1) as bigint) AS sum_tokens
        FROM documents GROUP BY lang),
      w AS (SELECT lang, sum_tokens, round(sqrt(sum_tokens::DOUBLE), 6) AS w_raw FROM lt),
      t AS (SELECT cast(sum(cast(w_raw AS decimal(18,6))) as double) AS wt,
                   cast(sum(sum_tokens) as double) AS tt FROM w)
      SELECT lang, sum_tokens,
             round(w_raw / wt, 6) AS weight,
             round(w_raw / wt * tt / sum_tokens::DOUBLE, 6) AS oversample
      FROM w CROSS JOIN t ORDER BY lang"""))

  /** Corpus-wide chunk-level exact dedup (Lee et al. 2022 exact-substring
    * dedup at chunk granularity / C4 repeated-paragraph removal): only the
    * globally first occurrence of every 10-token chunk survives; documents
    * are reassembled from surviving chunks. */
  val d08_chunk_dedup = QueryDef(
    "d08_chunk_dedup",
    (s, dir) =>
      Dedup
        .chunkExactDedup(Tables(s, dir).documents, "doc_id", "text", chunkTokens = 10)
        .orderBy(col("doc_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), __t -> __t <> '') AS ts
        FROM documents),
      base AS (
        SELECT doc_id, cast(ceil(len(ts) / 10.0) AS BIGINT) AS n_chunks, ts
        FROM toks),
      ch AS (
        SELECT doc_id,
               unnest(list_transform(range(n_chunks),
                 __i -> struct_pack(pos := __i,
                   chunk := array_to_string(list_slice(ts, __i*10 + 1, __i*10 + 10), ' ')))) AS c
        FROM base),
      flat AS (SELECT doc_id, c.pos AS pos, c.chunk AS chunk FROM ch),
      -- first global occurrence = lexicographic min (doc_id, pos) per
      -- chunk, as two grouped mins (DuckDB rejects window functions over
      -- the lateral unnest above)
      w1 AS (SELECT chunk, min(doc_id) AS doc_id FROM flat GROUP BY chunk),
      kept AS (
        SELECT f.doc_id, min(f.pos) AS pos, f.chunk
        FROM flat f JOIN w1 ON f.chunk = w1.chunk AND f.doc_id = w1.doc_id
        GROUP BY f.doc_id, f.chunk),
      agg AS (
        SELECT doc_id, cast(count(*) as bigint) AS n_kept,
               string_agg(chunk, ' ' ORDER BY pos) AS text_dedup
        FROM kept GROUP BY doc_id)
      SELECT b.doc_id, b.n_chunks,
             coalesce(a.n_kept, 0) AS n_kept,
             coalesce(a.text_dedup, '') AS text_dedup
      FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
      ORDER BY b.doc_id"""),
    bench = true)

  /** Benchmark decontamination: distinct 3-gram shingle overlap between
    * the training split (doc_id % 10 != 0) and the held-out split
    * (doc_id % 10 = 0). The engine joins on xxhash64(shingle) — 16-byte
    * shuffle rows — and the oracle replays the identical hash via
    * [[OracleSql]], so even hash collisions would agree. */
  private val d09Oracle: String =
    s"""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), __t -> __t <> '') AS ts
        FROM documents WHERE trim(text) <> ''),
      sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(ts) <= 3 THEN [array_to_string(ts, ' ')]
                 ELSE list_transform(range(len(ts) - 2),
                        __i -> ts[__i+1] || ' ' || ts[__i+2] || ' ' || ts[__i+3]) END) AS sset
        FROM toks),
      g AS (SELECT doc_id, unnest(sset) AS s FROM sh),
      hb AS (SELECT s, ${OracleSql.u2s(OracleSql.xxh64Ascii("s"))} AS h
             FROM (SELECT DISTINCT s FROM g)),
      gh AS (SELECT doc_id, h FROM g JOIN hb USING (s)),
      tr AS (SELECT doc_id AS train_id, h FROM gh WHERE doc_id % 10 <> 0),
      ev AS (SELECT doc_id AS eval_id, h FROM gh WHERE doc_id % 10 = 0)
      SELECT train_id, eval_id, cast(count(*) as bigint) AS n_shared
      FROM tr JOIN ev USING (h)
      GROUP BY train_id, eval_id
      ORDER BY train_id, eval_id"""

  val d09_decontaminate = QueryDef(
    "d09_decontaminate",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      Dedup
        .crossCorpusOverlap(
          train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          eval = docs.filter(pmod(col("doc_id"), lit(10)) === 0),
          idCol = "doc_id", textCol = "text", shingleSize = 3)
        .orderBy(col("train_id"), col("eval_id"))
    },
    Some(d09Oracle),
    bench = true)

  /** Quality-weighted deterministic subsampling: each doc survives with
    * probability quality * 0.5 — soft filtering, the standard way to
    * downsample low-quality strata without a hard cutoff. The decision is
    * pmod(xxhash64(id), 1e6) < (q * 0.5) * 1e6: reproducible across
    * reruns/partitionings, no RNG, no sampling pass; oracle replays the
    * exact hash and IEEE multiply order. */
  val p05_weighted_sample = QueryDef(
    "p05_weighted_sample",
    (s, dir) => {
      val scored = Tables(s, dir).documents
        .select(
          col("doc_id"), col("lang"),
          qualityScore(col("text")).as("q"),
          tokenCount(col("text")).as("nt"))
        .withColumn(
          "keep",
          graft.operators.Sampling
            .weightedKeep(col("doc_id"), col("q") * lit(0.5)))
      scored
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), col("nt").cast("long")).otherwise(0L))
            .as("sum_tokens_kept"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH scored AS (
        SELECT doc_id, lang, $qualitySql AS q,
               length(text) - length(replace(text, ' ', '')) + 1 AS nt,
               ((${OracleSql.u2s(OracleSql.xxh64Long(OracleSql.s2u("doc_id")))} % 1000000) + 1000000) % 1000000 AS h
        FROM documents),
      k AS (
        SELECT lang, nt,
               CASE WHEN h::DOUBLE < (q * 0.5) * 1000000.0 THEN 1 ELSE 0 END AS keep
        FROM scored)
      SELECT lang, cast(count(*) as bigint) AS n_docs,
             cast(sum(keep) as bigint) AS n_kept,
             cast(sum(CASE WHEN keep = 1 THEN nt ELSE 0 END) as bigint) AS sum_tokens_kept
      FROM k GROUP BY lang ORDER BY lang"""))

  /** Corpus-wide TF-IDF signature terms ([[graft.operators.TfIdf]]):
    * top-5 terms per document (smooth idf, sklearn form), output
    * restricted to doc_id < 50 while scores stay corpus-wide. The oracle
    * replays the identical float op order — tf * (ln((N+1)/(df+1)) + 1) —
    * division and product are correctly-rounded IEEE ops, ln agrees
    * across engines at the 6-dp rint rounding (same technique as the HLL
    * oracle); rank ties (equal tf, df) break on the term string. */
  val t08_tfidf = QueryDef(
    "t08_tfidf",
    (s, dir) => {
      graft.operators.TfIdf
        .topTerms(Tables(s, dir).documents, "doc_id", "text", 5,
          docFilter = Some(col("doc_id") < 50))
        .select(
          col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
          (rint(col("tfidf") * lit(1e6)) / lit(1e6)).as("tfidf"))
        .orderBy(col("doc_id"), col("rank"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents),
      tf AS (
        SELECT doc_id, term, count(*)::BIGINT AS tf
        FROM toks WHERE term <> '' GROUP BY 1, 2),
      dfr AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfr.df,
               tf.tf::DOUBLE * (ln((n.n_docs::DOUBLE + 1.0) / (dfr.df::DOUBLE + 1.0)) + 1.0) AS tfidf
        FROM tf JOIN dfr USING (term) CROSS JOIN n),
      ranked AS (
        SELECT doc_id, term, tf, df, tfidf,
               row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        FROM scored WHERE doc_id < 50)
      SELECT doc_id, rank, term, tf, df,
             round_even(tfidf * 1000000.0, 0) / 1000000.0 AS tfidf
      FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank"""),
    bench = true)

  /** Vocabulary coverage — the tokenizer-design question "what fraction
    * of corpus tokens does a top-V vocabulary cover?". Token counts
    * aggregate with map-side partials; the frequency rank comes from the
    * partition-parallel [[graft.plans.RowIndexExec]] (range-partitioned
    * sort + offsets), NOT a single-task global window — this query is the
    * operator's production face beyond zip/chunks. (cnt DESC, term) is a
    * total order, so ranks are deterministic; coverage is one correctly-
    * rounded division, identical cross-engine. */
  val t09_vocab_coverage = QueryDef(
    "t09_vocab_coverage",
    (s, dir) => {
      import graft.functions.TextFunctions.tokens
      val counts = Tables(s, dir).documents
        .select(explode(tokens(lower(col("text")))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val indexed = graft.Frame.withRowIndex(
        counts, Seq(col("cnt").desc, col("term").asc), "idx")
      val tot = counts.agg(sum(col("cnt")).as("total"))
      val sizes = Seq(100, 1000)
      indexed
        .crossJoin(broadcast(tot))
        .select(
          explode(array(sizes.map(lit): _*)).as("v"),
          col("idx"), col("cnt"), col("total"))
        .filter(col("idx") < col("v"))
        .groupBy(col("v"))
        .agg(
          count(lit(1)).as("vocab_terms"),
          sum(col("cnt")).as("covered"),
          (rint((sum(col("cnt")).cast("double") / first(col("total")).cast("double")) * lit(1e6))
            / lit(1e6)).as("coverage"))
        .orderBy(col("v"))
    },
    Some("""
      WITH toks AS (
        SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents),
      c AS (
        SELECT term, count(*)::BIGINT AS cnt
        FROM toks WHERE term <> '' GROUP BY 1),
      r AS (
        SELECT term, cnt,
               row_number() OVER (ORDER BY cnt DESC, term) - 1 AS idx
        FROM c),
      tot AS (SELECT sum(cnt)::BIGINT AS total FROM c)
      SELECT v, count(*)::BIGINT AS vocab_terms, sum(cnt)::BIGINT AS covered,
             round_even((sum(cnt)::DOUBLE / any_value(total)::DOUBLE) * 1000000.0, 0)
               / 1000000.0 AS coverage
      FROM r CROSS JOIN (VALUES (100), (1000)) s(v) CROSS JOIN tot
      WHERE idx < v GROUP BY v ORDER BY v"""))

  /** Sequence packing ([[graft.operators.Packing]]): concatenate docs in
    * doc_id order, cut into 2048-token context windows. The cumulative
    * offset comes from the distributed prefix-sum operator
    * (PrefixSumExec — range-partitioned sort + O(#partitions) offsets),
    * never a single-task window; the oracle replays it with a running
    * window in DuckDB. Token counts use the t01-established formula
    * (single-space corpus: spaces + 1). */
  val p06_sequence_pack = QueryDef(
    "p06_sequence_pack",
    (s, dir) => {
      import graft.functions.TextFunctions.tokenCount
      // fan = false: the doc_id hash exchange cannot serve the global
      // range-sort prefix sum, and tokenCount is cheap (round 16)
      val docs = Tables(s, dir).documents(fan = false)
        .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Packing
        .packSequences(docs, "n_tokens", seqLen = 2048, order = Seq(col("doc_id")))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT AS n_tokens
        FROM documents),
      p AS (
        SELECT doc_id, n_tokens,
               coalesce(sum(n_tokens) OVER
                 (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0)::BIGINT AS off
        FROM d)
      SELECT doc_id, n_tokens,
             off // 2048 AS pack_id,
             off % 2048 AS pack_offset,
             (off + n_tokens - 1) // 2048 AS end_pack
      FROM p ORDER BY doc_id"""),
    bench = true)

  /** MATERIALIZED sequence packing ([[graft.operators.Packing
    * .packTokens]]): p06 assigns windows, p12 emits the actual packed
    * token stream — one row per token with (seq_id, seq_pos) and doc
    * provenance, documents tokenized by the reference merge table and
    * concatenated in doc_id order into 64-token windows. The oracle
    * replays the per-pretoken encoding with t17's recursive CTE, zips
    * positions with aligned unnests, and reconstructs the global
    * offsets with a running window over per-doc token counts — pinning
    * prefix sum, tokenization, and window arithmetic in one hash. */
  val p12_pack_tokens = QueryDef(
    "p12_pack_tokens",
    (s, dir) =>
      graft.operators.Packing
        .packTokens(Tables(s, dir).documents, "doc_id", "text",
          graft.operators.Bpe.referenceMerges, seqLen = 64)
        .orderBy(col("seq_id"), col("seq_pos")),
    Some(s"""
      WITH RECURSIVE
      ${graft.operators.Bpe.countsSqlCtes()},
      p12_doc_pts AS (
        SELECT doc_id,
               regexp_extract_all(text, $$$$${bpePattern}$$$$) AS pts
        FROM documents),
      p12_doc_pt AS (
        SELECT doc_id,
               cast(unnest(range(len(pts))) AS int) AS pt_pos,
               unnest(pts) AS pt
        FROM p12_doc_pts),
      p12_enc AS (
        SELECT pt, syms FROM bpe_enc
        WHERE r = ${graft.operators.Bpe.referenceMerges.length}),
      p12_tok AS (
        SELECT doc_id, pt_pos,
               cast(unnest(range(len(syms))) AS int) AS tok_pos,
               unnest(syms) AS token
        FROM p12_doc_pt JOIN p12_enc USING (pt)),
      p12_stream AS (
        SELECT doc_id, token,
               row_number() OVER (PARTITION BY doc_id ORDER BY pt_pos, tok_pos) - 1
                 AS doc_pos
        FROM p12_tok),
      p12_len AS (SELECT doc_id, count(*) AS n FROM p12_tok GROUP BY doc_id),
      p12_offs AS (
        SELECT doc_id,
               coalesce(sum(n) OVER
                 (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0)::BIGINT AS off
        FROM p12_len)
      SELECT (off + doc_pos) // 64 AS seq_id,
             (off + doc_pos) % 64 AS seq_pos,
             token, s.doc_id
      FROM p12_stream s JOIN p12_offs o USING (doc_id)
      ORDER BY seq_id, seq_pos"""),
    bench = true)

  /** Per-language consistent sample ([[graft.functions.expressions.BottomK]]):
    * the 16 doc_ids with smallest xxhash64 per stratum — a deterministic
    * uniform sample drawn in ONE mergeable pass, identical on any
    * cluster, maximally overlapping across corpus snapshots. The oracle
    * replays it as an unsigned-hash rank per language. */
  val p07_consistent_sample = QueryDef(
    "p07_consistent_sample",
    (s, dir) => {
      import graft.functions.expressions.BottomK
      Tables(s, dir).documents
        .groupBy(col("lang"))
        .agg(BottomK(col("doc_id"), 16).as("sample"))
        .select(col("lang"), posexplode(col("sample")).as(Seq("pos", "doc_id")))
        .orderBy(col("lang"), col("pos"))
    },
    Some(s"""
      WITH h AS (
        SELECT lang, doc_id,
               ${OracleSql.xxh64Long(OracleSql.s2u("doc_id"))} AS hu
        FROM documents),
      r AS (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang ORDER BY hu) - 1 AS pos
        FROM h)
      SELECT lang, pos, doc_id FROM r WHERE pos < 16 ORDER BY lang, pos"""))

  /** Overlapping context-window chunking
    * ([[graft.operators.Chunking.overlappingChunks]]): 40-token windows
    * at stride 30 (10-token overlap) — the retrieval-index / training-
    * example preparation step. Scan-local generator, no shuffle; the
    * oracle replays the same slicing with DuckDB list functions. */
  val t10_chunk_overlap = QueryDef(
    "t10_chunk_overlap",
    (s, dir) =>
      graft.operators.Chunking
        .overlappingChunks(Tables(s, dir).documents, "doc_id", "text",
          window = 40, stride = 30)
        .orderBy(col("doc_id"), col("chunk_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents),
      starts AS (
        SELECT doc_id, ts, unnest(range(0, greatest(len(ts), 1), 30)) AS st
        FROM toks),
      w AS (
        SELECT doc_id, cast(st // 30 AS int) AS chunk_id,
               list_slice(ts, st + 1, st + 40) AS wt
        FROM starts)
      SELECT doc_id, chunk_id, cast(len(wt) AS int) AS n_tokens,
             array_to_string(wt, ' ') AS chunk_text
      FROM w WHERE len(wt) > 0
      ORDER BY doc_id, chunk_id"""),
    bench = true)

  /** BM25 retrieval ([[graft.operators.Retrieval.bm25TopK]]): top 25
    * documents for a 4-term query, rational-idf BM25 (k1=1.2, b=0.75).
    * The oracle replays the identical double arithmetic — same
    * association order, fixed-order term summation — so raw scores
    * hash-match without rounding. */
  val t11_bm25 = QueryDef(
    "t11_bm25",
    (s, dir) =>
      graft.operators.Retrieval.bm25TopK(
        Tables(s, dir).documents, "doc_id", "text",
        queryTerms = Seq("join", "hash", "scan", "filter"), k = 25),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents),
      dls AS (SELECT doc_id, cast(len(ts) AS bigint) AS dl, ts FROM toks),
      stats AS (
        SELECT cast(count(*) AS bigint) AS n_docs, cast(sum(dl) AS bigint) AS sum_dl
        FROM dls),
      tf AS (
        SELECT doc_id, dl, term, cast(count(*) AS bigint) AS tf
        FROM (SELECT doc_id, dl, unnest(ts) AS term FROM dls)
        WHERE term IN ('join', 'hash', 'scan', 'filter')
        GROUP BY 1, 2, 3),
      dfr AS (SELECT term, cast(count(*) AS bigint) AS df FROM tf GROUP BY 1),
      scored AS (
        SELECT tf.doc_id, tf.term,
               ((n_docs - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0)) /
                 (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl /
                   (cast(sum_dl AS double) / cast(n_docs AS double)))) AS s
        FROM tf JOIN dfr USING (term) CROSS JOIN stats)
      SELECT doc_id,
             (sum(CASE WHEN term = 'join' THEN s ELSE 0.0 END)
              + sum(CASE WHEN term = 'hash' THEN s ELSE 0.0 END)
              + sum(CASE WHEN term = 'scan' THEN s ELSE 0.0 END)
              + sum(CASE WHEN term = 'filter' THEN s ELSE 0.0 END)) AS score
      FROM scored GROUP BY doc_id
      ORDER BY score DESC, doc_id LIMIT 25"""),
    bench = true)

  /** Unigram LM quality scoring ([[graft.operators.TfIdf.unigramLmScore]]):
    * mean ln p(token) per document under the corpus's own unigram model —
    * the CCNet-style perplexity filter. Exact-count probabilities, sorted
    * fixed-order per-doc folds, round(6) over the libm ulp — hash-matches
    * DuckDB replaying the identical arithmetic. */
  val t12_lm_quality = QueryDef(
    "t12_lm_quality",
    (s, dir) =>
      graft.operators.TfIdf
        .unigramLmScore(Tables(s, dir).documents, "doc_id", "text")
        .orderBy(col("doc_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents),
      tf AS (
        SELECT doc_id, dl, term, cast(count(*) AS BIGINT) AS m
        FROM (SELECT doc_id, cast(len(ts) AS BIGINT) AS dl, unnest(ts) AS term
              FROM toks)
        GROUP BY 1, 2, 3),
      cts AS (SELECT term, cast(sum(m) AS BIGINT) AS c FROM tf GROUP BY 1),
      tot AS (SELECT cast(sum(c) AS BIGINT) AS n FROM cts),
      contrib AS (
        SELECT tf.doc_id, tf.dl, tf.term,
               cast(tf.m AS DOUBLE) * ln(cast(c AS DOUBLE) / cast(n AS DOUBLE)) AS v
        FROM tf JOIN cts USING (term) CROSS JOIN tot),
      folded AS (
        SELECT doc_id, dl, list(v ORDER BY term) AS vs FROM contrib GROUP BY 1, 2)
      SELECT doc_id, dl,
             round(list_reduce(list_prepend(0.0, vs), (s, t) -> s + t)
                   / cast(dl AS DOUBLE), 6) AS lm_score
      FROM folded ORDER BY doc_id"""),
    bench = true)

  /** Bigram LM quality scoring ([[graft.operators.TfIdf.bigramLmScore]]):
    * mean ln p(w_i | w_{i-1}) per document under the corpus's own
    * exact-count bigram model — the KenLM-shaped CCNet filter t12's
    * unigram model approximates. Same sorted fixed-order fold contract
    * as t12; the oracle replays bigram counts, the prefix marginal, and
    * the identical arithmetic. */
  val t21_bigram_lm = QueryDef(
    "t21_bigram_lm",
    (s, dir) =>
      graft.operators.TfIdf
        .bigramLmScore(Tables(s, dir).documents, "doc_id", "text")
        .orderBy(col("doc_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents),
      dls AS (
        SELECT doc_id, cast(len(ts) - 1 AS BIGINT) AS nb, ts
        FROM toks WHERE len(ts) >= 2),
      bg AS (
        SELECT doc_id, nb, g, cast(count(*) AS BIGINT) AS m
        FROM (SELECT doc_id, nb,
                     unnest(list_transform(range(len(ts) - 1),
                            __i -> ts[__i+1] || ' ' || ts[__i+2])) AS g
              FROM dls)
        GROUP BY 1, 2, 3),
      cb AS (SELECT g, cast(sum(m) AS BIGINT) AS c FROM bg GROUP BY 1),
      cp AS (
        SELECT string_split(g, ' ')[1] AS w, cast(sum(c) AS BIGINT) AS cw
        FROM cb GROUP BY 1),
      contrib AS (
        SELECT bg.doc_id, bg.nb, bg.g,
               cast(m AS DOUBLE) * ln(cast(c AS DOUBLE) / cast(cw AS DOUBLE)) AS v
        FROM bg JOIN cb USING (g)
        JOIN cp ON string_split(bg.g, ' ')[1] = cp.w),
      folded AS (SELECT doc_id, nb, list(v ORDER BY g) AS vs FROM contrib GROUP BY 1, 2)
      SELECT doc_id, nb AS n_bigrams,
             round(list_reduce(list_prepend(0.0, vs), (s, t) -> s + t)
                   / cast(nb AS DOUBLE), 6) AS lm2_score
      FROM folded ORDER BY doc_id"""))

  /** Stupid-backoff trigram HELD-OUT scoring ([[graft.operators.TfIdf
    * .stupidBackoffScore]], Brants et al. EMNLP 2007): the train split
    * (p03's xxhash64 doc buckets < 80) provides the count tables, the
    * held-out 20% is scored — so unseen trigrams genuinely occur and
    * every arm of the backoff chain fires. Oracle replays the split,
    * the three count relations, and the identical double arithmetic
    * (all literals cast to DOUBLE — bare decimals are DECIMAL in
    * DuckDB; the t22 lesson). */
  /** The t23/p23 oracle: one replay of the 80/20 split model + backoff
    * arithmetic — p23 reuses it VERBATIM, which is what makes the
    * incremental-index face's gate meaningful (the replay is blind to
    * write/append/probe vs inline). */
  private val t23Oracle: String = s"""
      WITH b AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), __t -> __t <> '') AS ts,
               ((${OracleSql.u2s(OracleSql.xxh64Long(OracleSql.s2u("doc_id")))} % 100) + 100) % 100 AS bucket
        FROM documents),
      tr AS (SELECT ts FROM b WHERE bucket < 80),
      ev AS (SELECT doc_id, ts FROM b WHERE bucket >= 80 AND len(ts) >= 3),
      uni AS (SELECT w, cast(count(*) AS BIGINT) AS u
              FROM (SELECT unnest(ts) AS w FROM tr) GROUP BY 1),
      tot AS (SELECT cast(sum(u) AS BIGINT) AS n FROM uni),
      big AS (SELECT g, cast(count(*) AS BIGINT) AS bc
              FROM (SELECT unnest(list_transform(range(len(ts) - 1),
                             __i -> ts[__i+1] || ' ' || ts[__i+2])) AS g
                    FROM tr WHERE len(ts) >= 2) GROUP BY 1),
      tri AS (SELECT g, cast(count(*) AS BIGINT) AS tc
              FROM (SELECT unnest(list_transform(range(len(ts) - 2),
                             __i -> ts[__i+1] || ' ' || ts[__i+2] || ' ' || ts[__i+3])) AS g
                    FROM tr WHERE len(ts) >= 3) GROUP BY 1),
      eg AS (SELECT doc_id, cast(len(ts) - 2 AS BIGINT) AS ntri,
                    unnest(list_transform(range(len(ts) - 2),
                      __i -> ts[__i+1] || ' ' || ts[__i+2] || ' ' || ts[__i+3])) AS g3
             FROM ev),
      egc AS (SELECT doc_id, ntri, g3, cast(count(*) AS BIGINT) AS m
              FROM eg GROUP BY 1, 2, 3),
      egk AS (SELECT doc_id, ntri, g3, m,
                     string_split(g3, ' ')[1] || ' ' || string_split(g3, ' ')[2] AS g12,
                     string_split(g3, ' ')[2] || ' ' || string_split(g3, ' ')[3] AS g23,
                     string_split(g3, ' ')[2] AS w2,
                     string_split(g3, ' ')[3] AS w3
              FROM egc),
      sc AS (
        SELECT egk.doc_id, egk.ntri, egk.g3,
               cast(m AS DOUBLE) * ln(
                 CASE WHEN t.tc IS NOT NULL
                        THEN cast(t.tc AS DOUBLE) / cast(b12.bc AS DOUBLE)
                      WHEN b23.bc IS NOT NULL
                        THEN cast(0.4 AS DOUBLE) *
                             (cast(b23.bc AS DOUBLE) / cast(u2.u AS DOUBLE))
                      ELSE cast(0.4 AS DOUBLE) * (cast(0.4 AS DOUBLE) *
                             (cast(coalesce(u3.u, 1) AS DOUBLE) / cast(tot.n AS DOUBLE)))
                 END) AS v
        FROM egk
        LEFT JOIN tri t ON egk.g3 = t.g
        LEFT JOIN big b12 ON egk.g12 = b12.g
        LEFT JOIN big b23 ON egk.g23 = b23.g
        LEFT JOIN uni u2 ON egk.w2 = u2.w
        LEFT JOIN uni u3 ON egk.w3 = u3.w
        CROSS JOIN tot),
      folded AS (SELECT doc_id, ntri, list(v ORDER BY g3) AS vs
                 FROM sc GROUP BY 1, 2)
      SELECT doc_id, ntri AS n_trigrams,
             round(list_reduce(list_prepend(0.0, vs), (__s, __t) -> __s + __t)
                   / cast(ntri AS DOUBLE), 6) AS sb_score
      FROM folded ORDER BY doc_id"""

  val t23_stupid_backoff = QueryDef(
    "t23_stupid_backoff",
    (s, dir) => {
      val docs = Tables(s, dir).documents
        .withColumn("__bucket", pmod(xxhash64(col("doc_id")), lit(100)))
      graft.operators.TfIdf
        .stupidBackoffScore(
          docs.filter(col("__bucket") < 80),
          docs.filter(col("__bucket") >= 80),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some(t23Oracle),
    bench = true)

  /** Exact oracle for t24: the t11 BM25 replay per term set (shared
    * tokenize/stats CTEs), the s01 dense-kNN replay for the two query
    * vectors, then quantized reciprocal-rank contributions summed as
    * exact longs — bit-for-bit, like every quantized-integer family. */
  private def t24Oracle: String = {
    def bmCte(qid: Int, terms: Seq[String]): String = {
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val caseSum = terms
        .map(t => s"sum(CASE WHEN term = '$t' THEN s ELSE 0.0 END)")
        .mkString("\n               + ")
      s"""
      tf$qid AS (
        SELECT doc_id, dl, term, cast(count(*) AS bigint) AS tf
        FROM (SELECT doc_id, dl, unnest(ts) AS term FROM dls)
        WHERE term IN ($inList)
        GROUP BY 1, 2, 3),
      dfr$qid AS (SELECT term, cast(count(*) AS bigint) AS df FROM tf$qid GROUP BY 1),
      sc$qid AS (
        SELECT tf$qid.doc_id, tf$qid.term,
               ((n_docs - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0)) /
                 (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl /
                   (cast(sum_dl AS double) / cast(n_docs AS double)))) AS s
        FROM tf$qid JOIN dfr$qid USING (term) CROSS JOIN stats),
      bm$qid AS (
        SELECT doc_id, ($caseSum) AS score
        FROM sc$qid GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT 50),
      lex$qid AS (
        SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS r
        FROM bm$qid)"""
    }
    s"""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents),
      dls AS (SELECT doc_id, cast(len(ts) AS bigint) AS dl, ts FROM toks),
      stats AS (
        SELECT cast(count(*) AS bigint) AS n_docs, cast(sum(dl) AS bigint) AS sum_dl
        FROM dls),
      ${bmCte(0, t24TermsA)},
      ${bmCte(1, t24TermsB)},
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      dense AS (
        SELECT query_id, doc_id, r FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC,
                            c.vec_id ASC) AS r
          FROM v q JOIN v c ON q.vec_id <> c.vec_id
          WHERE q.vec_id IN (0, 1))
        WHERE r <= 50),
      unioned AS (
        SELECT query_id, doc_id, r FROM lex0
        UNION ALL SELECT query_id, doc_id, r FROM lex1
        UNION ALL SELECT query_id, doc_id, r FROM dense),
      fused AS (
        SELECT query_id, doc_id,
               cast(sum(CAST(round(1000000000000.0 / (60 + r), 0) AS BIGINT))
                 AS BIGINT) AS rrf,
               cast(count(*) AS BIGINT) AS n_lists
        FROM unioned GROUP BY 1, 2),
      ranked AS (
        SELECT query_id, doc_id, rrf, n_lists,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rank
        FROM fused)
      SELECT query_id, rank, doc_id, rrf, n_lists
      FROM ranked WHERE rank <= 20
      ORDER BY query_id, rank"""
  }

  private val t24TermsA = Seq("join", "hash", "scan", "filter")
  private val t24TermsB = Seq("sort", "merge", "window", "stream")

  /** HYBRID retrieval ([[graft.operators.Retrieval.rrfFusion]]): two
    * queries, each a lexical BM25 top-50 (t11's retriever) fused with a
    * dense embedding-kNN top-50 (s01's retriever, query vectors 0/1) by
    * reciprocal-rank fusion — the production hybrid-search shape, where
    * rank-based fusion sidesteps score calibration between the two
    * retrievers entirely. Contributions are 1e12-quantized longs, so
    * the fused scores replay bit-for-bit; `n_lists` = 2 marks docs both
    * retrievers agree on. Fusion cost is |queries| x k x 2 rows —
    * corpus-size-independent once the retriever lists exist. */
  val t24_rrf_hybrid = QueryDef(
    "t24_rrf_hybrid",
    (s, dir) => {
      val t = Tables(s, dir)
      val lex = Seq(0L -> t24TermsA, 1L -> t24TermsB)
        .map { case (qid, terms) =>
          graft.operators.Retrieval
            .bm25TopK(t.documents, "doc_id", "text", terms, k = 50)
            .withColumn("query_id", lit(qid))
        }
        .reduce(_ unionByName _)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("score").desc, col("doc_id").asc)))
      val dense = Similarity
        .bruteForceKnn(
          corpus = t.embeddings,
          queries = t.embeddings.filter(col("vec_id").isin(0L, 1L)),
          idCol = "vec_id", vecCol = "embedding", k = 50)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      graft.operators.Retrieval
        .rrfFusion(Seq(lex, dense), idCol = "doc_id", rankCol = "rank",
          k = 20, keyCols = Seq("query_id"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(t24Oracle))

  // ---- unigram tokenizer (t25/t26): distributed Viterbi-EM learner
  // gated against the independent sequential twin, t19-style ----

  private val t25Params = graft.functions.expressions.UnigramOps.Params(
    maxPieceLen = 5, minCount = 5L, seedSize = 120, emIters = 2,
    vocabSize = 144)

  @volatile private var uniCtx: Option[(org.apache.spark.sql.SparkSession, String)] =
    None

  /** Twin-side artifacts per dir: the sequentially-learned vocabulary
    * and the twin's OWN Viterbi piece SEQUENCE for every distinct
    * corpus pretoken — both independent of the distributed
    * learner/encoder, so any divergence breaks the hash compare. Empty
    * when no run stashed a context (yields an empty VALUES relation:
    * zero counts — a LOUD mismatch, never a silently-absent oracle). */
  private val uniTwinCache = scala.collection.concurrent.TrieMap[
    String, (Seq[(String, Long)], Seq[(String, List[String])])]()
  private def uniTwin(): (Seq[(String, Long)], Seq[(String, List[String])]) =
    uniCtx match {
      case Some((s, dir)) =>
        uniTwinCache.getOrElseUpdate(dir, {
          import graft.functions.expressions.{BpeOps, UnigramOps}
          val counts = Tables(s, dir).documents
            .select(explode(
              graft.functions.TextFunctions.bpeTokens(col("text"))).as("pt"))
            .groupBy(col("pt")).agg(count(lit(1)).as("n"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val vocab = UnigramOps.trainLocal(counts, t25Params)
          val vocabMap = vocab.toMap
          val segs = counts.keysIterator.toSeq
            .sorted(BpeOps.codePointOrdering)
            .map(w => w -> UnigramOps.segmentLocal(w, vocabMap))
          (vocab, segs)
        })
      case None => (Seq.empty, Seq.empty)
    }

  /** Distributed learning cached per dir — the learn-once production
    * shape for non-benched consumers (t26). t25 bypasses it: learning
    * is the thing it benches (the t19 discipline). */
  private val learnedUniCache =
    scala.collection.concurrent.TrieMap[String, Seq[(String, Long)]]()
  private def corpusLearnedUni(
      s: org.apache.spark.sql.SparkSession, dir: String): Seq[(String, Long)] =
    learnedUniCache.getOrElseUpdate(dir,
      graft.operators.Unigram.learnVocab(
        Tables(s, dir).documents, "doc_id", "text", t25Params))

  private def uniSqlQuote(s: String): String = "'" + s.replace("'", "''") + "'"

  /** UNIGRAM tokenizer training AT CORPUS SCALE (Kudo 2018 /
    * SentencePiece, deterministic Viterbi-EM — [[graft.operators
    * .Unigram.learnVocab]]): the second learned subword family next to
    * t19's BPE, trained on the ACTUAL documents table and fed straight
    * to [[graft.operators.Unigram.tokenCounts]]. Unlike BPE there is no
    * jobs-per-merge wall at all — training is emIters+1 vocabulary-
    * relation aggregations regardless of vocabulary size. The oracle is
    * derived lazily after the run: the EXPECTED per-pretoken Viterbi
    * piece counts come from the independent sequential twin
    * ([[graft.functions.expressions.UnigramOps.trainLocal]] +
    * `segmentLocal`, its own DP), embedded as a VALUES relation that
    * DuckDB joins against its own pretokenization replay — any
    * divergence in seeding, EM usage counts, tie-breaking, pruning, or
    * the distributed encode breaks the hash. */
  val t25_unigram_learned = QueryDef(
    "t25_unigram_learned",
    (s, dir) => {
      uniCtx = Some((s, dir))
      val docs = Tables(s, dir).documents
      val vocab = graft.operators.Unigram
        .learnVocab(docs, "doc_id", "text", t25Params)
      graft.operators.Unigram
        .tokenCounts(docs, "doc_id", "text", vocab)
        .orderBy(col("doc_id"))
    },
    None,
    bench = true,
    oracleFn = Some { () =>
      val (_, segs) = uniTwin()
      val valsRel =
        if (segs.isEmpty) "SELECT '' AS pt, 0 AS n_tok WHERE FALSE"
        else "VALUES " + segs
          .map { case (w, ps) => s"(${uniSqlQuote(w)}, ${ps.length})" }
          .mkString(", ")
      val pat = "$$" + graft.functions.TextFunctions.bpePattern + "$$"
      s"""
      WITH uni_vocab(pt, n_tok) AS ($valsRel),
      uni_doc_pt AS (
        SELECT doc_id, unnest(regexp_extract_all(text, $pat)) AS pt
        FROM documents),
      uni_pt_counts AS (
        SELECT doc_id, pt, count(*) AS n FROM uni_doc_pt GROUP BY doc_id, pt)
      SELECT d.doc_id, cast(coalesce(s.nt, 0) AS BIGINT) AS n_unigram_tokens
      FROM documents d
      LEFT JOIN (
        SELECT c.doc_id, sum(c.n * v.n_tok) AS nt
        FROM uni_pt_counts c JOIN uni_vocab v USING (pt)
        GROUP BY c.doc_id) s ON d.doc_id = s.doc_id
      ORDER BY d.doc_id"""
    })

  /** The learned unigram VOCABULARY itself as the gated artifact:
    * (piece, quantized log-prob) from the distributed learner (cached
    * per dir — the learn-once shape) against the twin's VALUES. t25's
    * count gate only sees score divergences that flip a Viterbi argmax;
    * this pins the scores themselves. */
  val t26_unigram_vocab = QueryDef(
    "t26_unigram_vocab",
    (s, dir) => {
      uniCtx = Some((s, dir))
      import s.implicits._
      corpusLearnedUni(s, dir).toDF("piece", "logp_q").orderBy(col("piece"))
    },
    None,
    oracleFn = Some { () =>
      val (vocab, _) = uniTwin()
      val rel =
        if (vocab.isEmpty) "SELECT '' AS piece, 0 AS logp_q WHERE FALSE"
        else "VALUES " + vocab
          .map { case (p, sc) => s"(${uniSqlQuote(p)}, CAST($sc AS BIGINT))" }
          .mkString(", ")
      s"""
      SELECT piece, logp_q FROM (SELECT * FROM ($rel) AS t(piece, logp_q))
      ORDER BY piece"""
    })

  /** MATERIALIZED unigram tokenization (the t20 shape on the LEARNED
    * vocabulary): every document expanded to its full Viterbi piece
    * stream — the packing/shard-writing input. Scan-and-expand, no
    * shuffle beyond the output sort; the oracle joins DuckDB's
    * pretokenization replay against the twin's OWN per-pretoken piece
    * sequences, so a single divergent Viterbi choice anywhere in the
    * corpus breaks the compare. */
  val t27_unigram_encode = QueryDef(
    "t27_unigram_encode",
    (s, dir) => {
      uniCtx = Some((s, dir))
      val vocab = corpusLearnedUni(s, dir)
      Tables(s, dir).documents
        .select(col("doc_id"),
          posexplode(graft.functions.TextFunctions.bpeTokens(col("text")))
            .as(Seq("pt_pos", "__pt")))
        .select(col("doc_id"), col("pt_pos"),
          posexplode(graft.functions.expressions.UnigramOps
            .unigramPieces(col("__pt"), vocab)).as(Seq("tok_pos", "token")))
        .orderBy(col("doc_id"), col("pt_pos"), col("tok_pos"))
    },
    None,
    oracleFn = Some { () =>
      val (_, segs) = uniTwin()
      val triples = segs.flatMap { case (w, ps) =>
        ps.zipWithIndex.map { case (piece, i) =>
          s"(${uniSqlQuote(w)}, $i, ${uniSqlQuote(piece)})"
        }
      }
      val rel =
        if (triples.isEmpty)
          "SELECT '' AS pt, 0 AS tok_pos, '' AS token WHERE FALSE"
        else "VALUES " + triples.mkString(", ")
      val pat = "$$" + graft.functions.TextFunctions.bpePattern + "$$"
      s"""
      WITH uni_pieces(pt, tok_pos, token) AS ($rel),
      t27_doc_pts AS (
        SELECT doc_id, regexp_extract_all(text, $pat) AS pts
        FROM documents),
      t27_doc_pt AS (
        SELECT doc_id,
               cast(unnest(range(len(pts))) AS int) AS pt_pos,
               unnest(pts) AS pt
        FROM t27_doc_pts)
      SELECT doc_id, pt_pos, cast(tok_pos AS int) AS tok_pos, token
      FROM t27_doc_pt JOIN uni_pieces USING (pt)
      ORDER BY doc_id, pt_pos, tok_pos"""
    })

  /** Retrieval-quality metrics ([[graft.operators.Retrieval
    * .rankingMetrics]]) for the s01 dense retriever: relevance = the
    * neighbor shares the query's label, scored per query as MRR,
    * precision@10 and nDCG@10 — the offline eval loop every retrieval
    * configuration (lexical, dense, fused, index-served) runs before
    * shipping. The discount weights are double LITERALS shared
    * verbatim with the oracle (same formula, same JVM fold order), so
    * the replay is bit-for-bit at 6dp. */
  val t28_retrieval_metrics = QueryDef(
    "t28_retrieval_metrics",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val lab = emb.select(col("vec_id"), col("label"))
      val ranked = Similarity
        .bruteForceKnn(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 10)
        .join(lab.select(col("vec_id").as("query_id"),
          col("label").as("__ql")), Seq("query_id"))
        .join(lab.select(col("vec_id").as("neighbor_id"),
          col("label").as("__nl")), Seq("neighbor_id"))
        .withColumn("rel", (col("__ql") === col("__nl")).cast("long"))
      graft.operators.Retrieval
        .rankingMetrics(ranked, "query_id", "rank", "rel", k = 10)
        .orderBy(col("query_id"))
    },
    Some {
      val w = (1 to 10).map(r => math.log(2.0) / math.log(r + 1.0))
      val prefix = w.scanLeft(0.0)(_ + _).tail
      val wLit = w.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      val pLit = prefix.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      s"""
      WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings),
      knn AS (
        SELECT query_id, neighbor_id, r FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC,
                            c.vec_id ASC) AS r
          FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
        WHERE r <= 10),
      rl AS (
        SELECT k.query_id, k.r,
               CASE WHEN q.label = c.label THEN 1 ELSE 0 END AS rel
        FROM knn k JOIN v q ON k.query_id = q.vec_id
                   JOIN v c ON k.neighbor_id = c.vec_id),
      ag AS (
        SELECT query_id,
               cast(sum(rel) AS BIGINT) AS n_rel,
               min(CASE WHEN rel = 1 THEN r END) AS first_rel,
               list(rel * ($wLit)[r] ORDER BY r) AS vs
        FROM rl GROUP BY query_id)
      SELECT query_id, n_rel,
             round(coalesce(1.0 / cast(first_rel AS DOUBLE), 0.0), 6) AS mrr,
             round(cast(n_rel AS DOUBLE) / 10.0, 6) AS precision_at_10,
             round(CASE WHEN n_rel = 0 THEN 0.0 ELSE
                     list_reduce(list_prepend(0.0, vs), (__a, __b) -> __a + __b)
                       / ($pLit)[cast(n_rel AS INT)] END, 6) AS ndcg_at_10
      FROM ag ORDER BY query_id"""
    })

  /** Tokenizer FERTILITY comparison — the tokenizer-selection study a
    * training pipeline runs before committing 100 TB to one encoding:
    * per language, total whitespace words vs BPE tokens (the fixed
    * reference table) vs LEARNED unigram tokens, with tokens-per-word
    * fertility ratios. Three independent oracle-gated counting paths
    * (p03's formula, t17's recursive-CTE replay, t25's twin VALUES)
    * joined doc-wise and rolled up by language — each path already
    * exact on its own, the composition pins the JOIN arithmetic. */
  val t29_tokenizer_fertility = QueryDef(
    "t29_tokenizer_fertility",
    (s, dir) => {
      uniCtx = Some((s, dir))
      val docs = Tables(s, dir).documents
      val base = docs.select(col("doc_id"), col("lang"),
        tokenCount(col("text")).cast("long").as("__ws"))
      val bpe = graft.operators.Bpe.tokenCounts(docs, "doc_id", "text")
      val uni = graft.operators.Unigram
        .tokenCounts(docs, "doc_id", "text", corpusLearnedUni(s, dir))
      base.join(bpe, Seq("doc_id")).join(uni, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(
          sum(col("__ws")).as("ws_tokens"),
          sum(col("n_bpe_tokens")).as("bpe_tokens"),
          sum(col("n_unigram_tokens")).as("unigram_tokens"))
        .select(col("lang"), col("ws_tokens"), col("bpe_tokens"),
          col("unigram_tokens"),
          round(col("bpe_tokens").cast("double") /
            col("ws_tokens").cast("double"), 6).as("bpe_fertility"),
          round(col("unigram_tokens").cast("double") /
            col("ws_tokens").cast("double"), 6).as("unigram_fertility"))
        .orderBy(col("lang"))
    },
    None,
    oracleFn = Some { () =>
      val (_, segs) = uniTwin()
      val valsRel =
        if (segs.isEmpty) "SELECT '' AS pt, 0 AS n_tok WHERE FALSE"
        else "VALUES " + segs
          .map { case (w, ps) => s"(${uniSqlQuote(w)}, ${ps.length})" }
          .mkString(", ")
      val pat = "$$" + graft.functions.TextFunctions.bpePattern + "$$"
      s"""
      WITH RECURSIVE
      ${graft.operators.Bpe.countsSqlCtes()},
      t29_uni_vocab(pt, n_tok) AS ($valsRel),
      t29_doc_pt AS (
        SELECT doc_id, unnest(regexp_extract_all(text, $pat)) AS pt
        FROM documents),
      t29_ptc AS (
        SELECT doc_id, pt, count(*) AS n FROM t29_doc_pt GROUP BY doc_id, pt),
      t29_uni AS (
        SELECT d.doc_id, cast(coalesce(u.nt, 0) AS BIGINT) AS n_uni
        FROM documents d
        LEFT JOIN (
          SELECT c.doc_id, sum(c.n * v.n_tok) AS nt
          FROM t29_ptc c JOIN t29_uni_vocab v USING (pt)
          GROUP BY c.doc_id) u ON d.doc_id = u.doc_id),
      t29_base AS (
        SELECT doc_id, lang,
               (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT AS ws
        FROM documents)
      SELECT b.lang,
             cast(sum(b.ws) AS BIGINT) AS ws_tokens,
             cast(sum(c.n_bpe_tokens) AS BIGINT) AS bpe_tokens,
             cast(sum(u.n_uni) AS BIGINT) AS unigram_tokens,
             round(cast(sum(c.n_bpe_tokens) AS DOUBLE)
                   / cast(sum(b.ws) AS DOUBLE), 6) AS bpe_fertility,
             round(cast(sum(u.n_uni) AS DOUBLE)
                   / cast(sum(b.ws) AS DOUBLE), 6) AS unigram_fertility
      FROM t29_base b
      JOIN bpe_counts c USING (doc_id)
      JOIN t29_uni u USING (doc_id)
      GROUP BY b.lang ORDER BY b.lang"""
    })

  /** T5-style span corruption ([[graft.operators.Chunking
    * .spanCorrupt]]): the denoising-objective example prep —
    * hash-deterministic span starts, trailing-window masking, island
    * merge, sentinel input + span target — all ONE in-scan fold, zero
    * shuffle. The oracle replays the chained two-arg xxhash64 start
    * decisions bit-for-bit and rebuilds both strings with windowed SQL
    * (lag masking, gaps-and-islands numbering, ordered string_agg). */
  val t30_span_corruption = QueryDef(
    "t30_span_corruption",
    (s, dir) =>
      graft.operators.Chunking
        .spanCorrupt(Tables(s, dir).documents, "doc_id", "text")
        .orderBy(col("doc_id")),
    Some {
      val inner = OracleSql.xxh64Long(OracleSql.s2u("doc_id"))
      val outer = OracleSql.u2s(OracleSql.xxh64Long(OracleSql.s2u("p"), seed = inner))
      s"""
      WITH t30_toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), __t -> __t <> '') AS ts
        FROM documents),
      t30_pos AS (
        SELECT doc_id, cast(unnest(range(len(ts))) AS BIGINT) AS p, unnest(ts) AS tok
        FROM t30_toks),
      t30_st AS (
        SELECT doc_id, p, tok,
               ((($outer) % 20) + 20) % 20 = 0 AS st
        FROM t30_pos),
      t30_m AS (
        SELECT doc_id, p, tok, st,
               (st OR coalesce(lag(st, 1) OVER w, false)
                   OR coalesce(lag(st, 2) OVER w, false)) AS m
        FROM t30_st
        WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
      t30_isl AS (
        SELECT doc_id, p, tok, m,
               m AND NOT coalesce(
                 lag(m, 1) OVER (PARTITION BY doc_id ORDER BY p), false) AS opens
        FROM t30_m),
      t30_k AS (
        SELECT doc_id, p, tok, m, opens,
               cast(sum(CASE WHEN opens THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY p) AS BIGINT) - 1 AS k
        FROM t30_isl),
      t30_pieces AS (
        SELECT doc_id, p, m, opens,
               CASE WHEN NOT m THEN tok
                    WHEN opens THEN '<extra_id_' || k || '>'
                    ELSE NULL END AS ip,
               CASE WHEN opens THEN '<extra_id_' || k || '>' || ' ' || tok
                    WHEN m THEN tok
                    ELSE NULL END AS tp
        FROM t30_k),
      t30_agg AS (
        SELECT doc_id,
               string_agg(ip, ' ' ORDER BY p) AS input_text,
               string_agg(tp, ' ' ORDER BY p) AS target_text,
               sum(CASE WHEN opens THEN 1 ELSE 0 END) AS n_spans,
               sum(CASE WHEN m THEN 1 ELSE 0 END) AS n_masked
        FROM t30_pieces GROUP BY doc_id)
      SELECT d.doc_id,
             coalesce(a.input_text, '') AS input_text,
             coalesce(a.target_text, '') AS target_text,
             cast(coalesce(a.n_spans, 0) AS INT) AS n_spans,
             cast(coalesce(a.n_masked, 0) AS INT) AS n_masked_tokens
      FROM documents d LEFT JOIN t30_agg a USING (doc_id)
      ORDER BY d.doc_id"""
    },
    bench = true)

  /** GRADED n-gram overlap ([[graft.operators.Scoring.ngramOverlap]]):
    * BLEU-style clipped precision per order between adjacent-document
    * pairs — the eval-integrity measurement that grades HOW MUCH of a
    * candidate a reference covers, where d09/d14 only gate on binary
    * shingle presence. Entirely scan-local (both texts ride the same
    * row); the oracle replays tokenization, full-window k-grams, the
    * clipped min-count sum, and the single rounded division per order.
    * exp/ln deliberately absent (libm is not bit-portable). */
  val t31_ngram_overlap = QueryDef(
    "t31_ngram_overlap",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val pairs = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text").as("cand"))
        .join(
          docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("ref")),
          Seq("doc_id"))
      graft.operators.Scoring
        .ngramOverlap(pairs, "doc_id", "cand", "ref", maxOrder = 3)
        .orderBy(col("doc_id"))
    },
    Some {
      def gramsSql(src: String, k: Int): String =
        if (k == 1) src
        else {
          val parts = (1 to k).map(j => s"$src[__i+$j]").mkString(" || ' ' || ")
          s"list_transform(range(len($src) - ${k - 1}), __i -> $parts)"
        }
      val kCols = (1 to 3).map { k =>
        val cg = gramsSql("cts", k)
        val rg = gramsSql("rts", k)
        s"""coalesce(list_sum(list_transform(list_distinct($cg),
              __g -> least(len(list_filter($cg, __x -> __x = __g)),
                           len(list_filter($rg, __x -> __x = __g))))), 0)::BIGINT AS clip_$k,
            len($cg)::BIGINT AS tot_$k,
            len($rg)::BIGINT AS rtot_$k"""
      }.mkString(",\n            ")
      val precCols = (1 to 3).map { k =>
        s"""clip_$k, tot_$k, rtot_$k,
            CASE WHEN tot_$k = 0 THEN NULL
                 ELSE round(clip_$k * 1.0 / tot_$k, 6) END AS prec_$k,
            CASE WHEN rtot_$k = 0 THEN NULL
                 ELSE round(clip_$k * 1.0 / rtot_$k, 6) END AS rec_$k"""
      }.mkString(",\n             ")
      s"""
      WITH t31_t AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), __t -> __t <> '') AS ts
        FROM documents),
      t31_p AS (
        SELECT a.doc_id, a.ts AS cts, b.ts AS rts
        FROM t31_t a JOIN t31_t b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 5 = 0),
      t31_c AS (
        SELECT doc_id,
            $kCols
        FROM t31_p)
      SELECT doc_id,
             $precCols
      FROM t31_c ORDER BY doc_id"""
    })

  /** PERSISTED incremental LM index ([[graft.operators.TfIdf
    * .writeLmIndex]]/`appendLmIndex`/`scoreWithLmIndex`): the t23 model
    * built from HALF the train split, the other half APPENDED as a
    * later batch (additive partial-count rows), then the held-out 20%
    * scored from the tables. The oracle is t23's one-shot replay —
    * blind to the build/append/probe path, so any divergence in the
    * maintenance story breaks the hash. */
  val p23_incremental_lm = QueryDef(
    "p23_incremental_lm",
    (s, dir) => {
      val docs = Tables(s, dir).documents
        .withColumn("__bucket", pmod(xxhash64(col("doc_id")), lit(100)))
      val train = docs.filter(col("__bucket") < 80)
      val table = s"graft_lm_${Integer.toHexString(dir.hashCode)}" +
        s"_p${ProcessHandle.current().pid()}"
      graft.operators.TfIdf
        .writeLmIndex(train.filter(col("doc_id") % 2 === 0), "text", table)
      graft.operators.TfIdf
        .appendLmIndex(s, table, train.filter(col("doc_id") % 2 =!= 0), "text")
      graft.operators.TfIdf
        .scoreWithLmIndex(s, table, docs.filter(col("__bucket") >= 80),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some(t23Oracle))

  /** Corpus-wide top-k word bigrams ([[graft.functions.TextFunctions
    * .ngrams]]): the n-gram census behind contamination screens, boilerplate
    * detection, and LM vocabulary studies. n-gram generation is scan-local
    * (indexed transform inside codegen); the only shuffle is the
    * high-cardinality (ngram) count, and the top-k plans as
    * TakeOrderedAndProject — per-partition heaps, no global sort. */
  val t13_ngram_topk = QueryDef(
    "t13_ngram_topk",
    (s, dir) =>
      Tables(s, dir).documents
        .select(explode(graft.functions.TextFunctions.ngrams(
          graft.functions.TextFunctions.tokens(lower(col("text"))), 2)).as("ngram"))
        .groupBy(col("ngram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram"))
        .limit(50),
    Some("""
      WITH toks AS (
        SELECT list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents),
      bg AS (
        SELECT ts[i] || ' ' || ts[i + 1] AS ngram
        FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM toks))
      SELECT ngram, count(*) AS n FROM bg
      GROUP BY ngram ORDER BY n DESC, ngram LIMIT 50"""))

  /** Pairwise source-overlap matrix
    * ([[graft.operators.TfIdf.vocabOverlapMatrix]]): unigram-vocabulary
    * Jaccard + containment for every source pair — the corpus grid
    * readout (t31 grades one doc pair). Exact set counts via one
    * vocab relation self-join; zero-overlap pairs kept. */
  val t44_vocab_overlap = QueryDef(
    "t44_vocab_overlap",
    (s, dir) =>
      graft.operators.TfIdf
        .vocabOverlapMatrix(Tables(s, dir).documents, "source", "text")
        .orderBy(col("source_a"), col("source_b")),
    Some("""
      WITH t44_v AS (
        SELECT DISTINCT source AS g, t
        FROM (SELECT source,
                     unnest(list_filter(string_split(lower(text), ' '),
                            x -> x <> '')) AS t
              FROM documents)),
      t44_n AS (SELECT g, cast(count(*) AS BIGINT) AS n FROM t44_v GROUP BY 1),
      t44_i AS (
        SELECT a.g AS ga, b.g AS gb, cast(count(*) AS BIGINT) AS i
        FROM t44_v a JOIN t44_v b ON a.t = b.t AND a.g < b.g
        GROUP BY 1, 2)
      SELECT na.g AS source_a, nb.g AS source_b,
             na.n AS n_a, nb.n AS n_b,
             coalesce(i.i, 0) AS intersection,
             round(coalesce(i.i, 0)::DOUBLE
               / (na.n + nb.n - coalesce(i.i, 0))::DOUBLE, 6) AS jaccard,
             round(coalesce(i.i, 0)::DOUBLE
               / least(na.n, nb.n)::DOUBLE, 6) AS containment
      FROM t44_n na JOIN t44_n nb ON na.g < nb.g
      LEFT JOIN t44_i i ON i.ga = na.g AND i.gb = nb.g
      ORDER BY source_a, source_b"""))

  /** Exact oracle for t45: the quantized TextRank loop replayed with
    * `iters` unrolled CTE rounds over the word-adjacency graph (the
    * symmetric graph has no dangling mass, so a round is one join-tally
    * plus the teleport update). Shared relations MATERIALIZED or DuckDB
    * re-inlines them per round (the d07 lesson). */
  private def textrankOracle(
      iters: Int, scale: Long, num: Long, den: Long, topK: Int): String = {
    val teleport = (den - num) * scale / den
    val rounds = (1 to iters).map { i =>
      s"""
      t45_c$i AS (
        SELECT b AS node, cast(sum(pr // odeg) AS BIGINT) AS c
        FROM t45_ew JOIN t45_r${i - 1} ON t45_ew.a = t45_r${i - 1}.node
        GROUP BY 1),
      t45_r$i AS (
        SELECT t45_n.node,
               cast($teleport + ($num * coalesce(c, 0)) // $den AS BIGINT)
                 AS pr
        FROM t45_n LEFT JOIN t45_c$i USING (node))"""
    }.mkString(",")
    s"""
      WITH t45_tok AS (
        SELECT list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents),
      t45_pair AS (
        SELECT ts[i] AS a, ts[i + 1] AS b
        FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i
              FROM t45_tok WHERE len(ts) >= 2)),
      t45_e AS MATERIALIZED (
        SELECT DISTINCT a, b FROM (
          SELECT a, b FROM t45_pair UNION ALL SELECT b, a FROM t45_pair)
        WHERE a <> b),
      t45_n AS MATERIALIZED (SELECT DISTINCT a AS node FROM t45_e),
      t45_od AS (
        SELECT a, cast(count(*) AS BIGINT) AS odeg FROM t45_e GROUP BY 1),
      t45_ew AS MATERIALIZED (
        SELECT t45_e.a, t45_e.b, odeg FROM t45_e JOIN t45_od USING (a)),
      t45_r0 AS (SELECT node, cast($scale AS BIGINT) AS pr FROM t45_n),
      $rounds
      SELECT node AS word, pr FROM t45_r$iters
      ORDER BY pr DESC, word LIMIT $topK"""
  }

  /** TextRank keyword extraction ([[graft.operators.TfIdf
    * .textRankKeywords]]): damped quantized PageRank over the corpus
    * word-adjacency graph, top-30 words — the unsupervised
    * graph-centrality keyword pass next to t08's frequency-based
    * TF-IDF. Integer-exact rounds; the oracle unrolls them. */
  val t45_textrank = QueryDef(
    "t45_textrank",
    (s, dir) =>
      graft.operators.TfIdf
        .textRankKeywords(Tables(s, dir).documents, "text",
          iters = 5, topK = 30),
    Some(textrankOracle(
      iters = 5, scale = 1000000L, num = 85, den = 100, topK = 30)),
    bench = true)

  /** PMI collocations ([[graft.operators.TfIdf.pmiCollocations]]):
    * top adjacent-pair pointwise mutual information with a min-count
    * floor — the word2phrase phrase-mining readout. Exact integer
    * counts; fixed-shape log-sum score, round(6). */
  val t46_pmi_collocations = QueryDef(
    "t46_pmi_collocations",
    (s, dir) =>
      graft.operators.TfIdf
        .pmiCollocations(Tables(s, dir).documents, "text",
          minCount = 5L, topK = 40),
    Some("""
      WITH t46_tok AS (
        SELECT list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents),
      t46_uni AS (
        SELECT w, cast(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(ts) AS w FROM t46_tok) GROUP BY 1),
      t46_pair AS (
        SELECT ts[i] AS a, ts[i + 1] AS b
        FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i
              FROM t46_tok WHERE len(ts) >= 2)),
      t46_pc AS (
        SELECT a, b, cast(count(*) AS BIGINT) AS pair_n
        FROM t46_pair GROUP BY 1, 2 HAVING count(*) >= 5),
      t46_nn AS (SELECT cast(sum(c) AS BIGINT) AS nn FROM t46_uni),
      t46_m AS (SELECT cast(count(*) AS BIGINT) AS m FROM t46_pair)
      SELECT a AS word_a, b AS word_b, pair_n,
             round(ln(pair_n::DOUBLE) + 2.0 * ln(nn::DOUBLE)
               - ln(m::DOUBLE) - ln(ca.c::DOUBLE) - ln(cb.c::DOUBLE), 6)
               AS pmi
      FROM t46_pc
      JOIN t46_uni ca ON ca.w = t46_pc.a
      JOIN t46_uni cb ON cb.w = t46_pc.b
      CROSS JOIN t46_nn CROSS JOIN t46_m
      ORDER BY pmi DESC, word_a, word_b LIMIT 40"""))

  /** Term burstiness ([[graft.operators.TfIdf.termBurstiness]]):
    * cf/df and the per-containing-doc index of dispersion — the
    * clumpedness spam tell raw frequency misses. Exact integer
    * moments, two fixed-shape ratios, round(6). */
  val t48_burstiness = QueryDef(
    "t48_burstiness",
    (s, dir) =>
      graft.operators.TfIdf
        .termBurstiness(Tables(s, dir).documents, "doc_id", "text",
          minDf = 10L, topK = 40),
    Some("""
      WITH t48_tf AS (
        SELECT doc_id, term, cast(count(*) AS BIGINT) AS m
        FROM (SELECT doc_id,
                     unnest(list_filter(string_split(lower(text), ' '),
                            t -> t <> '')) AS term
              FROM documents)
        GROUP BY 1, 2),
      t48_s AS (
        SELECT term,
               cast(count(*) AS BIGINT) AS df,
               cast(sum(m) AS BIGINT) AS cf,
               cast(sum(m * m) AS BIGINT) AS m2
        FROM t48_tf GROUP BY 1 HAVING count(*) >= 10)
      SELECT term, df, cf,
             round(cf::DOUBLE / df::DOUBLE, 6) AS burstiness,
             round(((m2::DOUBLE - cf::DOUBLE * cf::DOUBLE / df::DOUBLE)
               / df::DOUBLE) / (cf::DOUBLE / df::DOUBLE), 6) AS dispersion
      FROM t48_s
      ORDER BY dispersion DESC, term LIMIT 40"""))

  /** Vocabulary growth curve ([[graft.operators.TfIdf
    * .vocabGrowthCurve]]): cumulative types vs tokens over ten
    * id-ordered corpus prefixes with the Heaps exponent per point —
    * the sublinearity health check before sizing a tokenizer. First
    * occurrences decide everything; no per-prefix distinct. */
  val t47_vocab_growth = QueryDef(
    "t47_vocab_growth",
    (s, dir) =>
      graft.operators.TfIdf
        .vocabGrowthCurve(Tables(s, dir).documents, "doc_id", "text",
          buckets = 10)
        .orderBy(col("bucket")),
    Some("""
      WITH t47_ts AS (
        SELECT doc_id AS id,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents),
      t47_bd AS (SELECT min(id) AS lo, max(id) AS hi FROM t47_ts),
      t47_b AS (
        SELECT CAST((id - lo) * 10 // (hi - lo + 1) + 1 AS INT) AS b, ts
        FROM t47_ts CROSS JOIN t47_bd),
      t47_doc AS (
        SELECT b, cast(count(*) AS BIGINT) AS docs,
               cast(sum(len(ts)) AS BIGINT) AS toks
        FROM t47_b GROUP BY 1),
      t47_fs AS (
        SELECT fb, cast(count(*) AS BIGINT) AS types FROM (
          SELECT w, min(b) AS fb
          FROM (SELECT b, unnest(ts) AS w FROM t47_b) GROUP BY 1)
        GROUP BY 1),
      t47_dim AS (SELECT unnest(generate_series(1, 10))::INT AS bucket),
      t47_pb AS (
        SELECT bucket,
               coalesce(docs, 0) AS docs, coalesce(toks, 0) AS toks,
               coalesce(types, 0) AS types
        FROM t47_dim
        LEFT JOIN t47_doc ON t47_doc.b = bucket
        LEFT JOIN t47_fs ON t47_fs.fb = bucket),
      t47_cum AS (
        SELECT c.bucket,
               cast(sum(p.docs) AS BIGINT) AS cum_docs,
               cast(sum(p.toks) AS BIGINT) AS cum_tokens,
               cast(sum(p.types) AS BIGINT) AS cum_types
        FROM t47_dim c JOIN t47_pb p ON p.bucket <= c.bucket
        GROUP BY 1)
      SELECT bucket, cum_docs, cum_tokens, cum_types,
             CASE WHEN cum_tokens > 1 AND cum_types >= 1
               THEN round(ln(cum_types::DOUBLE) / ln(cum_tokens::DOUBLE), 6)
             END AS heaps_beta
      FROM t47_cum ORDER BY bucket"""))

  /** Distinct-n corpus diversity ([[graft.operators.TfIdf.distinctN]]):
    * per-source type/token ratios for n = 1..3 — the corpus-level
    * repetitiveness readout complementing t06's within-document
    * signals. Exact integer counts; one division + round(6). */
  val t43_distinct_n = QueryDef(
    "t43_distinct_n",
    (s, dir) =>
      graft.operators.TfIdf
        .distinctN(Tables(s, dir).documents, "source", "text", maxN = 3)
        .orderBy(col("source"), col("n")),
    Some("""
      WITH t43_toks AS (
        SELECT source,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents),
      t43_g AS (
        SELECT source, 1 AS n, unnest(ts) AS g FROM t43_toks
        UNION ALL
        SELECT source, 2 AS n, ts[i] || ' ' || ts[i + 1] AS g
        FROM (SELECT source, ts,
                     unnest(generate_series(1, len(ts) - 1)) AS i
              FROM t43_toks)
        UNION ALL
        SELECT source, 3 AS n, ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS g
        FROM (SELECT source, ts,
                     unnest(generate_series(1, len(ts) - 2)) AS i
              FROM t43_toks)),
      t43_c AS (
        SELECT source, n, g, count(*) AS m FROM t43_g GROUP BY 1, 2, 3)
      SELECT source, n, cast(count(*) AS BIGINT) AS types,
             cast(sum(m) AS BIGINT) AS tokens,
             round(count(*)::DOUBLE / sum(m)::DOUBLE, 6) AS distinct_ratio
      FROM t43_c GROUP BY 1, 2 ORDER BY source, n"""))

  /** Per-source distribution drift ([[graft.operators.TfIdf.klDrift]]):
    * KL(P_source || P_corpus) over unigram token distributions — the
    * mixture-diagnostics health check that catches a drifting scraper or
    * domain shift per shard. Exact counts, sorted fixed-order folds,
    * round(6) over the libm ulp. */
  val p08_kl_drift = QueryDef(
    "p08_kl_drift",
    (s, dir) =>
      graft.operators.TfIdf
        .klDrift(Tables(s, dir).documents, "source", "text")
        .orderBy(col("source")),
    Some("""
      WITH tf AS (
        SELECT source, term, cast(count(*) AS BIGINT) AS m
        FROM (SELECT source,
                     unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS term
              FROM documents)
        GROUP BY 1, 2),
      cts AS (SELECT term, cast(sum(m) AS BIGINT) AS c FROM tf GROUP BY 1),
      tot AS (SELECT cast(sum(c) AS BIGINT) AS n FROM cts),
      gt AS (SELECT source, cast(sum(m) AS BIGINT) AS gn FROM tf GROUP BY 1),
      contrib AS (
        SELECT tf.source, gt.gn, tf.term,
               (cast(m AS DOUBLE) / cast(gn AS DOUBLE))
                 * ln((cast(m AS DOUBLE) / cast(gn AS DOUBLE))
                      / (cast(c AS DOUBLE) / cast(n AS DOUBLE))) AS v
        FROM tf JOIN cts USING (term) JOIN gt USING (source) CROSS JOIN tot),
      folded AS (
        SELECT source, gn AS n_tokens, list(v ORDER BY term) AS vs
        FROM contrib GROUP BY 1, 2)
      SELECT source, n_tokens,
             round(list_reduce(list_prepend(0.0, vs), (s, t) -> s + t), 6) AS kl
      FROM folded ORDER BY source"""))

  /** Gopher/C4-style rule filter ([[graft.operators.Curation
    * .ruleFilter]]): per-rule verdicts + keep, all from one in-scan
    * kernel sweep. The oracle reuses the exact t01/t02/t06 signal
    * formulas, so threshold comparisons replay bit-for-bit. */
  val t15_rule_filter = QueryDef(
    "t15_rule_filter",
    (s, dir) =>
      graft.operators.Curation
        .ruleFilter(Tables(s, dir).documents, "doc_id", "text")
        .orderBy(col("doc_id")),
    Some("""
      WITH sig AS (
        SELECT doc_id,
          cast(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS nw,
          length(replace(text, ' ', '')) * 1.0
            / (length(text) - length(replace(text, ' ', '')) + 1) AS mwl,
          (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) * 1.0
            / length(text) AS alpha,
          (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
            / length(text) AS digit,
          list_filter(string_split(lower(text), ' '), __t -> __t <> '') AS ts
        FROM documents),
      sig2 AS (
        SELECT doc_id, nw, mwl, alpha, digit,
          CASE WHEN len(ts) = 0 THEN 0.0
               ELSE list_max(list_transform(list_distinct(ts),
                      __t -> len(list_filter(ts, __x -> __x = __t)))) * 1.0 / len(ts)
          END AS toprat,
          len(list_filter(['the','a','and','of','to','in','is'],
                          __w -> list_contains(ts, __w))) AS nstop
        FROM sig)
      SELECT doc_id, nw AS n_words,
             nw >= 3 AND nw <= 100000 AS r_word_count,
             mwl >= 1.0 AND mwl <= 10.0 AS r_word_len,
             alpha >= 0.5 AS r_alpha,
             digit <= 0.2 AS r_digit,
             toprat <= 0.3 AS r_repetition,
             nstop >= 2 AS r_stopwords,
             (nw >= 3 AND nw <= 100000) AND (mwl >= 1.0 AND mwl <= 10.0)
               AND alpha >= 0.5 AND digit <= 0.2 AND toprat <= 0.3
               AND nstop >= 2 AS keep
      FROM sig2 ORDER BY doc_id"""))

  /** Incremental shard-vs-corpus dedup ([[Dedup.incrementalDedup]]):
    * the continual-ingest classifier — every "new crawl" row (doc_id
    * divisible by 5 simulates the daily batch) is marked exact_dup /
    * near_dup / novel against the remaining corpus. The oracle reuses
    * the full minhash pair replay (uncapped — the operator has no
    * bucket cap) and keeps only cross-split pairs, plus the normalized
    * exact layer. */
  /** The p09 classification replay, with the corpus side restricted to
    * `surviving` (a predicate over the given id column name) — "TRUE"
    * reproduces the full-corpus oracle for p09/p10/p11; p15 passes the
    * post-purge survivor predicate, because purging ids from the index
    * must classify exactly like a corpus that never held them. */
  private def p09OracleSurviving(surviving: String => String): String = s"""
      WITH pairs AS (SELECT * FROM (${minhashPairsOracle(1000000000L)}) __mh),
      cn AS (
        SELECT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS n,
               min(doc_id) AS cid
        FROM documents
        WHERE doc_id % 5 <> 0 AND (${surviving("doc_id")}) GROUP BY 1),
      ex AS (
        SELECT b.doc_id, cn.cid AS exact_of
        FROM documents b LEFT JOIN cn
          ON regexp_replace(lower(trim(b.text)), '\\s+', ' ', 'g') = cn.n
        WHERE b.doc_id % 5 = 0),
      nr AS (
        SELECT bid, min(cid) AS near_of FROM (
          SELECT CASE WHEN id_a % 5 = 0 THEN id_a ELSE id_b END AS bid,
                 CASE WHEN id_a % 5 = 0 THEN id_b ELSE id_a END AS cid
          FROM pairs WHERE (id_a % 5 = 0) <> (id_b % 5 = 0)) __sides
        WHERE (${surviving("cid")})
        GROUP BY 1)
      SELECT ex.doc_id,
             CASE WHEN exact_of IS NOT NULL THEN 'exact_dup'
                  WHEN near_of IS NOT NULL THEN 'near_dup'
                  ELSE 'novel' END AS status,
             coalesce(exact_of, near_of) AS dup_of
      FROM ex LEFT JOIN nr ON ex.doc_id = nr.bid
      ORDER BY ex.doc_id"""

  private val p09Oracle: String = p09OracleSurviving(_ => "TRUE")

  val p09_incremental_dedup = QueryDef(
    "p09_incremental_dedup",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      Dedup
        .incrementalDedup(
          corpus = docs.filter(col("doc_id") % 5 =!= 0),
          batch = docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some(p09Oracle))

  /** p09 served from PERSISTED indexes ([[Dedup.writeDedupIndex]] /
    * [[Dedup.incrementalDedupIndexed]]): the corpus's exact-hash map,
    * LSH band rows, and verify texts live in bucketed tables built
    * once; the daily batch probes them with every join broadcast on
    * the batch side — the corpus is never shuffled or re-scanned
    * (index-side shuffle-freedom pinned in BucketingSpec). Same
    * parameters as p09, therefore the same oracle: the hash compare
    * proves the persisted path classifies identically. */
  val p10_incremental_dedup_indexed = QueryDef(
    "p10_incremental_dedup_indexed",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      // pid-suffixed for the same concurrent-runs reason as the IVF index.
      val table = s"graft_dedup_idx_${Integer.toHexString(dir.hashCode)}" +
        s"_p${ProcessHandle.current().pid()}"
      Dedup.writeDedupIndex(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", table)
      Dedup
        .incrementalDedupIndexed(s, table,
          batch = docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some(p09Oracle))

  /** p10's index arriving in TWO ingest drops — [[Dedup.writeDedupIndex]]
    * on the lower half of the corpus ids, [[Dedup.appendDedupIndex]] of
    * the upper half. Ids grow with ingest time, so every normalized text
    * shared across the drops has its minimum id in the FIRST one —
    * first-owner-wins equals the global minimum and append ≡ rebuild
    * exactly (the divergent later-smaller-id case is pinned separately
    * in BucketingSpec). Same parameters and oracle as p09/p10: the hash
    * compare proves index MAINTENANCE preserves classification. */
  val p11_incremental_dedup_append = QueryDef(
    "p11_incremental_dedup_append",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val mid = corpus
        .agg(((min(col("doc_id")) + max(col("doc_id"))) / 2).cast("long"))
        .head.getLong(0)
      val table = s"graft_dedup_app_${Integer.toHexString(dir.hashCode)}" +
        s"_p${ProcessHandle.current().pid()}"
      Dedup.writeDedupIndex(
        corpus.filter(col("doc_id") <= mid), "doc_id", "text", table)
      Dedup.appendDedupIndex(s, table,
        corpus.filter(col("doc_id") > mid), "doc_id", "text")
      Dedup
        .incrementalDedupIndexed(s, table,
          batch = docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some(p09Oracle))

  /** p10's index with a TAKEDOWN in its history — [[Dedup
    * .writeDedupIndex]] over the full corpus side, then [[Dedup
    * .purgeDedupIndex]] of every corpus `doc_id % 3 = 0`, then the
    * standard shard probe. The purge repairs exact-map ownership (a
    * purged first owner's text is re-owned by the minimum surviving
    * copy), so the oracle is the p09 replay over the surviving corpus
    * only: the hash compare proves the index classifies exactly like a
    * corpus that never held the purged documents. */
  val p15_incremental_dedup_purge = QueryDef(
    "p15_incremental_dedup_purge",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val table = s"graft_dedup_pur_${Integer.toHexString(dir.hashCode)}" +
        s"_p${ProcessHandle.current().pid()}"
      Dedup.writeDedupIndex(corpus, "doc_id", "text", table)
      Dedup.purgeDedupIndex(s, table,
        corpus.filter(col("doc_id") % 3 === 0).select("doc_id"))
      Dedup
        .incrementalDedupIndexed(s, table,
          batch = docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some(p09OracleSurviving(id => s"$id % 3 <> 0")))

  /** Leakage-free train/val/test split ([[graft.operators.Sampling
    * .clusterAwareSplit]]): p03's deterministic hash split, made safe
    * against near-duplicate leakage — every document hashes its d07
    * cluster representative (own id when unclustered), so a near-dup
    * cluster can never straddle a split boundary and the test set never
    * scores documents the model effectively trained on. Oracle
    * recomputes the exact connected components (d07's recursive CTE)
    * and replays the representative hash; SamplingSpec additionally
    * pins the leakage-freedom property itself against the verified
    * pair graph. */
  val p16_cluster_split = QueryDef(
    "p16_cluster_split",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val pairs = Dedup
        .minhashPairs(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16)
        .filter(col("jaccard") >= 0.4)
      val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
      graft.operators.Sampling
        .clusterAwareSplit(docs, comps, "doc_id",
          Seq(("train", 80), ("val", 90), ("test", 100)))
        .select(col("doc_id"), col("split_key"), col("split"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH cc AS MATERIALIZED (SELECT * FROM ($d07Oracle) __cc),
      p16_sk AS (
        SELECT d.doc_id, coalesce(cc.comp, d.doc_id) AS split_key
        FROM documents d LEFT JOIN cc ON d.doc_id = cc.id),
      p16_bk AS (
        SELECT doc_id, split_key,
               ((${OracleSql.u2s(OracleSql.xxh64Long(OracleSql.s2u("split_key")))} % 100) + 100) % 100 AS bucket
        FROM p16_sk)
      SELECT doc_id, split_key,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM p16_bk ORDER BY doc_id"""))

  /** Exact oracle for the PERSISTED-sketch pipeline: the register algebra
    * (update = per-index max of rho, union = elementwise max) is
    * associative/commutative/idempotent, so sketch-per-batch + union ==
    * one direct aggregate over all values — the oracle replays exactly
    * q51's register pipeline (same XXH64 emulation, integer harmonic
    * numerator, 6-dp round) over xxhash64(text), knowing nothing about
    * the batch split. Any incremental-path divergence (a dropped batch,
    * a double-count that register max should absorb, byte-order damage
    * in the persisted state) breaks the hash compare. */
  /** The HLL register-replay CTE chain (q51's pipeline, parameterized):
    * per `source`, the exact estimate Spark's register algebra yields
    * over xxhash64(text) — shared by p17 and p18. Emits a CTE named
    * `<tag>_fin(source, approx)`. */
  private def hllReplayCtes(tag: String): String = {
    import graft.functions.expressions.HllDistinct
    import graft.functions.expressions.HllDistinct.{AlphaMM, M, RhoCap}
    val pw = (0 to RhoCap).map(k => (BigInt(1) << k).toString)
      .mkString("[", ",", "]::HUGEINT[]")
    val rhoCase = ((64 - HllDistinct.P - 1) to 0 by -1)
      .map(k => s"WHEN w >= ${(BigInt(1) << k).toString} THEN ${64 - HllDistinct.P - k}")
      .mkString("CASE ", " ", s" ELSE $RhoCap END")
    val pow2Cap = s"${(BigInt(1) << RhoCap).toString}"
    s"""${tag}_h AS (
        SELECT DISTINCT source, ${OracleSql.xxh64Ascii("text")} AS ht FROM documents),
      ${tag}_hh AS (
        SELECT source, ${OracleSql.xxh64Long("ht")} AS hu FROM ${tag}_h),
      ${tag}_r0 AS (
        SELECT source, (hu % $M)::INT AS idx, (hu // $M) AS w FROM ${tag}_hh),
      ${tag}_rr AS (
        SELECT source, idx, $rhoCase AS rho FROM ${tag}_r0),
      ${tag}_regs AS (
        SELECT source, idx, max(rho) AS reg FROM ${tag}_rr GROUP BY 1, 2),
      ${tag}_est AS (
        SELECT source,
               (sum(($pw)[${RhoCap + 1} - reg]) + ($M - count(*)) * $pow2Cap::HUGEINT) AS num,
               ($M - count(*)) AS zeros
        FROM ${tag}_regs GROUP BY source),
      ${tag}_fin AS (
        SELECT source,
               round_even((CASE WHEN $AlphaMM * $pow2Cap.0 / num::DOUBLE <= ${2.5 * M} AND zeros > 0
                 THEN $M * ln($M.0 / zeros)
                 ELSE $AlphaMM * $pow2Cap.0 / num::DOUBLE END) * 1000000.0, 0) / 1000000.0
                 AS approx
        FROM ${tag}_est)"""
  }

  private val p17Oracle: String =
    s"""
      WITH ${hllReplayCtes("p17")}
      SELECT f.source, f.approx AS approx_texts, x.n_docs, x.exact_texts
      FROM p17_fin f JOIN (
        SELECT source, cast(count(*) AS BIGINT) AS n_docs,
               cast(count(DISTINCT text) AS BIGINT) AS exact_texts
        FROM documents GROUP BY 1) x USING (source)
      ORDER BY f.source"""

  /** Incremental corpus statistics via PERSISTED mergeable sketches —
    * the 100 TB dashboard shape: each ingest batch writes one tiny
    * (source, hll_sketch bytes, count) row; distinct-count questions
    * over any batch subset are then answered from the sketch table
    * alone, never rescanning raw text. Here three simulated ingest
    * batches build per-source sketches of xxhash64(text); hll_union +
    * hll_estimate fold them and land EXACTLY on the direct aggregate
    * (register max is associative/commutative/idempotent — HllSpec
    * pins sketch∘union ≡ direct including a parquet round-trip, plus
    * replay-idempotence). Estimate shown next to the exact count. */
  val p17_incremental_stats = QueryDef(
    "p17_incremental_stats",
    (s, dir) => {
      import graft.functions.expressions.{HllEstimate, HllSketch, HllUnion}
      val docs = Tables(s, dir).documents
      val batchSketches = (0 until 3)
        .map { b =>
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .groupBy(col("source"))
            .agg(
              HllSketch(xxhash64(col("text"))).as("sk"),
              count(lit(1)).as("bn"))
        }
        .reduce(_.unionByName(_))
      val exact = docs.groupBy(col("source"))
        .agg(countDistinct(col("text")).as("exact_texts"))
      batchSketches
        .groupBy(col("source"))
        .agg(
          HllEstimate(HllUnion(col("sk"))).as("approx_texts"),
          sum(col("bn")).as("n_docs"))
        .join(exact, Seq("source"))
        .orderBy(col("source"))
    },
    Some(p17Oracle))

  /** Exact oracle for p19: union == direct (histogram counters are
    * sums), so the replay is blind to the batch split — recompute each
    * document's bucket with the same truncating-integer formula,
    * cumulative-walk each source's counters, and read the lower bin
    * edge at each rank. */
  private def p19Oracle(lo: Long, hi: Long, bins: Int): String = {
    s"""
      WITH p19_t AS (
        SELECT source,
               cast(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS nt
        FROM documents),
      p19_b AS (
        SELECT source,
               CASE WHEN nt < $lo THEN 0
                    WHEN nt >= $hi THEN ${bins + 1}
                    ELSE 1 + cast((nt - $lo) * $bins // ($hi - $lo) AS INT) END AS b
        FROM p19_t),
      p19_c AS (
        SELECT source, b, cast(count(*) AS BIGINT) AS c FROM p19_b GROUP BY 1, 2),
      p19_n AS (
        SELECT source, cast(sum(c) AS BIGINT) AS n FROM p19_c GROUP BY 1),
      p19_cum AS (
        SELECT source, b, sum(c) OVER (PARTITION BY source ORDER BY b) AS cum
        FROM p19_c),
      p19_q AS (
        SELECT n.source, n.n, q.q,
               (SELECT min(b) FROM p19_cum c
                WHERE c.source = n.source
                  AND c.cum > (q.q * (n.n - 1) // 1000000)) AS bq
        FROM p19_n n CROSS JOIN (VALUES (500000), (900000), (990000)) q(q)),
      p19_v AS (
        SELECT source, n, q,
               cast(CASE WHEN bq = 0 THEN $lo
                         WHEN bq = ${bins + 1} THEN $hi
                         ELSE $lo + (bq - 1) * ($hi - $lo) // $bins
                    END AS BIGINT) AS v
        FROM p19_q)
      SELECT source,
             max(CASE WHEN q = 500000 THEN v END) AS p50,
             max(CASE WHEN q = 900000 THEN v END) AS p90,
             max(CASE WHEN q = 990000 THEN v END) AS p99,
             max(n) AS n_docs
      FROM p19_v GROUP BY source ORDER BY source"""
  }

  /** Incremental QUANTILES from persisted histogram sketches
    * ([[graft.functions.expressions.Hist]]) — the fourth member of the
    * checkpointable-sketch family (distinct/frequency/membership/
    * quantiles): each simulated ingest batch writes bins+2 long
    * counters per source; medians and tails over any batch subset then
    * come from the sketch table alone, never re-reading a document.
    * Counter addition is associative/commutative, so batch-sketch +
    * union is EXACTLY the direct histogram (the oracle is blind to the
    * split); the readout is a deterministic integer cumulative walk
    * (lower bin edge at rank — conservative, bin-width-exact, no float
    * interpolation to drift cross-engine). */
  val p19_incremental_quantiles = QueryDef(
    "p19_incremental_quantiles",
    (s, dir) => {
      import graft.functions.expressions.Hist
      val (qlo, qhi, qbins) = (0L, 512L, 64)
      val docs = Tables(s, dir).documents
      val batchSketches = (0 until 3)
        .map { b =>
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .groupBy(col("source"))
            .agg(Hist.sketch(
              tokenCount(col("text")).cast("long"), qlo, qhi, qbins).as("hk"))
        }
        .reduce(_.unionByName(_))
      batchSketches
        .groupBy(col("source"))
        .agg(Hist.union(col("hk")).as("hk"))
        .select(
          col("source"),
          Hist.quantileOf(col("hk"), lit(500000L), qlo, qhi).as("p50"),
          Hist.quantileOf(col("hk"), lit(900000L), qlo, qhi).as("p90"),
          Hist.quantileOf(col("hk"), lit(990000L), qlo, qhi).as("p99"),
          aggregate(col("hk"), lit(0L), (a, x) => a + x).as("n_docs"))
        .orderBy(col("source"))
    },
    Some(p19Oracle(0L, 512L, 64)))

  /** Exact oracle for p21: recompute each language's full bins+2
    * counter vector (all bins materialized, zeros included), replay
    * the smoothed PSI terms per bin and the LEFT FOLD in bin order
    * (list_reduce with a prepended 0.0 — the t14 pattern), 6 dp. */
  private def p21Oracle(lo: Long, hi: Long, bins: Int): String = {
    val k = bins + 2
    s"""
      WITH p21_t AS (
        SELECT lang,
               cast(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS nt
        FROM documents),
      p21_bv AS (
        SELECT lang,
               CASE WHEN nt < $lo THEN 0
                    WHEN nt >= $hi THEN ${bins + 1}
                    ELSE 1 + cast((nt - $lo) * $bins // ($hi - $lo) AS INT) END AS b
        FROM p21_t),
      p21_cnt AS (
        SELECT lang, b, cast(count(*) AS BIGINT) AS c FROM p21_bv GROUP BY 1, 2),
      p21_langs AS (
        SELECT lang, cast(count(*) AS BIGINT) AS n_docs FROM p21_t GROUP BY 1),
      p21_bins AS (SELECT unnest(range($k)) AS b),
      p21_full AS (
        SELECT l.lang, bb.b, coalesce(c.c, 0) AS c
        FROM p21_langs l CROSS JOIN p21_bins bb
        LEFT JOIN p21_cnt c ON c.lang = l.lang AND c.b = bb.b),
      p21_vec AS (
        SELECT lang, list(c ORDER BY b) AS v, cast(sum(c) AS DOUBLE) AS n
        FROM p21_full GROUP BY lang),
      p21_en AS (SELECT v AS ev, n AS en FROM p21_vec WHERE lang = 'en'),
      p21_terms AS (
        SELECT lang, p21_vec.n,
               list_transform(range($k), __i ->
                 ((v[__i + 1] + 0.5) / (p21_vec.n + 0.5 * $k)
                   - (ev[__i + 1] + 0.5) / (en + 0.5 * $k))
                 * ln(((v[__i + 1] + 0.5) / (p21_vec.n + 0.5 * $k))
                      / ((ev[__i + 1] + 0.5) / (en + 0.5 * $k)))) AS ts
        FROM p21_vec CROSS JOIN p21_en)
      SELECT t.lang, l.n_docs,
             round(list_reduce(list_prepend(0.0, ts), (__s, __x) -> __s + __x), 6)
               AS psi
      FROM p21_terms t JOIN p21_langs l USING (lang)
      ORDER BY t.lang"""
  }

  /** Distribution DRIFT between corpus slices from sketch tables alone
    * ([[graft.functions.expressions.Hist.psi]]): the Population
    * Stability Index of each language's token-count histogram against
    * the English baseline — the monitoring metric a production
    * pipeline computes between days/sources/snapshots WITHOUT
    * re-reading documents (union each side's persisted sketches first,
    * then one pure expression over two counter arrays; here the
    * sketches are built in-query). Smoothed, left-fold-deterministic,
    * 6 dp — replayed exactly by DuckDB. */
  val p21_drift_psi = QueryDef(
    "p21_drift_psi",
    (s, dir) => {
      import graft.functions.expressions.Hist
      val (qlo, qhi, qbins) = (0L, 512L, 64)
      val docs = Tables(s, dir).documents
      val sk = docs.groupBy(col("lang"))
        .agg(
          Hist.sketch(tokenCount(col("text")).cast("long"), qlo, qhi, qbins)
            .as("hk"),
          count(lit(1)).as("n_docs"))
      val en = sk.filter(col("lang") === "en").select(col("hk").as("__ehk"))
      sk.crossJoin(broadcast(en))
        .select(
          col("lang"), col("n_docs"),
          round(Hist.psi(col("hk"), col("__ehk")), 6).as("psi"))
        .orderBy(col("lang"))
    },
    Some(p21Oracle(0L, 512L, 64)))

  private val p18Oracle: String =
    s"""
      WITH ${hllReplayCtes("p18")}
      SELECT x.source, x.n_docs, x.n_tokens, x.n_langs, x.exact_texts,
             f.approx AS approx_norm_texts, x.min_chars, x.max_chars
      FROM p18_fin f JOIN (
        SELECT source,
               cast(count(*) AS BIGINT) AS n_docs,
               cast(sum(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS n_tokens,
               cast(count(DISTINCT lang) AS BIGINT) AS n_langs,
               cast(count(DISTINCT text) AS BIGINT) AS exact_texts,
               cast(min(length(text)) AS BIGINT) AS min_chars,
               cast(max(length(text)) AS BIGINT) AS max_chars
        FROM documents GROUP BY 1) x USING (source)
      ORDER BY x.source"""

  /** The one-pass "data card": per-source volume, token mass, language
    * spread, duplication (exact + sketch) and length envelope — the
    * summary table a corpus release ships, produced by ONE aggregation
    * over the corpus (every signal is a scan-local kernel or a
    * constant-state sketch; the only exchange is the per-source
    * partial-aggregate shuffle of ~8 groups). The approximate distinct
    * runs over [[graft.functions.expressions.Normalize normalize_text]]
    * — the production shape (canonicalize before counting) — and the
    * oracle hashes the RAW text: their agreement proves the kernel is
    * an exact identity on this clean ASCII corpus end-to-end through
    * the distributed path (the messy-input behavior is NormalizeSpec's
    * fixture suite). */
  val p18_corpus_report = QueryDef(
    "p18_corpus_report",
    (s, dir) => {
      import graft.functions.expressions.{HllEstimate, HllSketch}
      val docs = Tables(s, dir).documents
      docs
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text")).cast("long")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("text")).as("exact_texts"),
          HllEstimate(HllSketch(xxhash64(
            graft.functions.expressions.Normalize.normalizeText(col("text")))))
            .as("approx_norm_texts"),
          min(length(col("text"))).cast("long").as("min_chars"),
          max(length(col("text"))).cast("long").as("max_chars"))
        .orderBy(col("source"))
    },
    Some(p18Oracle),
    bench = true)

  /** Hashed linear quality model ([[graft.operators.Scoring
    * .hashedLinearScore]]): the fastText/CCNet-style model-scored
    * quality filter — hashing-trick buckets, closed-form weights,
    * sorted-bucket fixed-order logit fold, sigmoid; a pure projection,
    * zero shuffle. The oracle replays the bucket hash through the
    * xxhash64 emulation (dim = 64 is a power of two, so HUGEINT-mod
    * equals Spark's signed pmod) and folds the same sorted order. */
  val t14_quality_model = QueryDef(
    "t14_quality_model",
    (s, dir) =>
      graft.operators.Scoring
        .hashedLinearScore(Tables(s, dir).documents, "doc_id", "text")
        .orderBy(col("doc_id")),
    Some(s"""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents),
      bs AS (
        SELECT doc_id, cast(len(ts) AS BIGINT) AS dl,
               list_sort(list_transform(ts,
                 tok -> cast((${OracleSql.xxh64Ascii("tok")}) % 64 AS BIGINT))) AS b
        FROM toks),
      z AS (
        SELECT doc_id, dl,
               list_reduce(list_prepend(0.0,
                 list_transform(b,
                   __b -> cast((__b * 37 + 11) % 101 - 50 AS DOUBLE) / 100.0)),
                 (s, t) -> s + t) AS zz
        FROM bs)
      SELECT doc_id, dl,
             round(1.0 / (1.0 + exp(-(CASE WHEN dl = 0 THEN 0.0
                                           ELSE zz / cast(dl AS DOUBLE) END))), 6)
               AS quality_prob
      FROM z ORDER BY doc_id"""))

  /** Calibration report ([[graft.operators.Scoring.calibrationReport]]):
    * the reliability diagram + ECE contributions for t14's hashed
    * linear quality probability, evaluated against the English label —
    * the "is 0.9 really 90%?" check t33's AUC cannot answer. One
    * bins-bounded aggregation; the oracle replays t14's sigmoid CTEs
    * (xxh64 bucket emulation) and the same integer bin/quantized-sum
    * arithmetic. The label binding is a demonstration harness — any
    * deterministic boolean column composes. */
  val t35_calibration = QueryDef(
    "t35_calibration",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val scored = graft.operators.Scoring
        .hashedLinearScore(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), (col("lang") === "en").as("is_pos")),
          Seq("doc_id"))
      graft.operators.Scoring
        .calibrationReport(scored, "quality_prob", "is_pos", bins = 10)
        .orderBy(col("bin"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, lang = 'en' AS is_pos,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents),
      bs AS (
        SELECT doc_id, is_pos, cast(len(ts) AS BIGINT) AS dl,
               list_sort(list_transform(ts,
                 tok -> cast((${OracleSql.xxh64Ascii("tok")}) % 64 AS BIGINT))) AS b
        FROM toks),
      z AS (
        SELECT doc_id, is_pos, dl,
               list_reduce(list_prepend(0.0,
                 list_transform(b,
                   __b -> cast((__b * 37 + 11) % 101 - 50 AS DOUBLE) / 100.0)),
                 (s, t) -> s + t) AS zz
        FROM bs),
      t35_p AS (
        SELECT is_pos,
               CAST(round(round(1.0 / (1.0 + exp(-(CASE WHEN dl = 0 THEN 0.0
                      ELSE zz / cast(dl AS DOUBLE) END))), 6)
                    * 1000000.0, 0) AS BIGINT) AS qp
        FROM z),
      t35_b AS (
        SELECT greatest(0, least((qp * 10) // 1000000, 9)) AS bin, qp, is_pos
        FROM t35_p),
      t35_h AS (
        SELECT bin, cast(count(*) AS BIGINT) AS n,
               cast(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
               cast(sum(qp) AS BIGINT) AS sqp
        FROM t35_b GROUP BY 1),
      t35_t AS (SELECT cast(sum(n) AS BIGINT) AS nt FROM t35_h),
      t35_r AS (
        SELECT bin, n, n_pos,
               round(CAST(sqp AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 6) AS conf,
               round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS acc,
               nt
        FROM t35_h CROSS JOIN t35_t)
      SELECT cast(bin AS BIGINT) AS bin, n, n_pos, conf, acc,
             round(abs(conf - acc), 6) AS gap,
             round(round(abs(conf - acc), 6) * CAST(n AS DOUBLE)
                   / CAST(nt AS DOUBLE), 6) AS contrib
      FROM t35_r ORDER BY bin"""))

  /** Unbiased pass@k ([[graft.operators.Scoring.passAtK]]): the
    * code-eval headline estimator (Chen et al. 2021, eq. 1) per task —
    * 1 − C(n−c,k)/C(n,k) via the unrolled fixed-shape ratio product,
    * never the biased (c/n)^k plug-in. Fixture: documents as an
    * evaluation log with 32 tasks and a deterministic ~25%
    * per-sample pass bit from xxhash64(doc_id); the oracle replays the
    * hash and the same left-associated double product. */
  val t36_pass_at_k = QueryDef(
    "t36_pass_at_k",
    (s, dir) =>
      graft.operators.Scoring
        .passAtK(
          Tables(s, dir).documents.select(
            pmod(col("doc_id"), lit(32L)).as("task_id"),
            (pmod(xxhash64(col("doc_id")), lit(4L)) === 0L).as("correct")),
          "task_id", "correct", ks = Seq(1, 5, 10))
        .orderBy(col("task_id")),
    Some {
      val h = OracleSql.u2s(OracleSql.xxh64Long(OracleSql.s2u("doc_id")))
      def prod(k: Int) = (0 until k)
        .map(i => s"(CAST(n - n_correct - $i AS DOUBLE) / CAST(n - $i AS DOUBLE))")
        .mkString(" * ")
      def passK(k: Int) =
        s"""CASE WHEN n < $k THEN NULL
               WHEN n - n_correct < $k THEN CAST(1.0 AS DOUBLE)
               ELSE round(1.0 - ${prod(k)}, 6) END AS pass_at_$k"""
      s"""
      WITH t36_s AS (
        SELECT doc_id % 32 AS task_id,
               ((($h) % 4) + 4) % 4 = 0 AS correct
        FROM documents),
      t36_c AS (
        SELECT task_id, cast(count(*) AS BIGINT) AS n,
               cast(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_correct
        FROM t36_s GROUP BY 1)
      SELECT task_id, n, n_correct,
             ${passK(1)}, ${passK(5)}, ${passK(10)}
      FROM t36_c ORDER BY task_id"""
    })

  /** Lexical corpus diagnostics ([[graft.operators.Profile
    * .zipfDiagnostics]]): per-source token/type counts, type–token
    * ratio, and the Zipf slope — ln(freq)-on-ln(rank) least squares
    * over the top-50 tokens with both logs quantized to 1e6 longs
    * before exact-integer regression sums (the g07 determinism trick).
    * The model-free corpus-health gate: template floods and
    * vocabulary-starved spam bend the slope away from Zipf's −1. */
  val t37_zipf = QueryDef(
    "t37_zipf",
    (s, dir) =>
      graft.operators.Profile
        .zipfDiagnostics(Tables(s, dir).documents, "source", "text", topK = 50)
        .orderBy(col("source")),
    Some("""
      WITH t37_tok AS (
        SELECT source AS g,
               unnest(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) AS t
        FROM documents),
      t37_c AS (
        SELECT g, t, cast(count(*) AS BIGINT) AS c
        FROM t37_tok GROUP BY 1, 2),
      t37_s AS (
        SELECT g, cast(sum(c) AS BIGINT) AS n_tokens,
               cast(count(*) AS BIGINT) AS n_types
        FROM t37_c GROUP BY 1),
      t37_r AS (
        SELECT g,
               CAST(round(ln(r) * 1000000.0, 0) AS BIGINT) AS x,
               CAST(round(ln(c) * 1000000.0, 0) AS BIGINT) AS y
        FROM (SELECT g, c,
                     row_number() OVER (PARTITION BY g
                       ORDER BY c DESC, t ASC) AS r
              FROM t37_c)
        WHERE r <= 50),
      t37_reg AS (
        SELECT g, cast(count(*) AS BIGINT) AS k,
               cast(sum(x) AS BIGINT) AS sx, cast(sum(y) AS BIGINT) AS sy,
               cast(sum(x * y) AS BIGINT) AS sxy,
               cast(sum(x * x) AS BIGINT) AS sxx
        FROM t37_r GROUP BY 1)
      SELECT s.g AS source, s.n_tokens, s.n_types,
             round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
               AS ttr,
             CASE WHEN k * sxx - sx * sx = 0 THEN NULL
                  ELSE round(CAST(k * sxy - sx * sy AS DOUBLE)
                             / CAST(k * sxx - sx * sx AS DOUBLE), 6)
             END AS zipf_slope
      FROM t37_s s JOIN t37_reg r2 ON s.g = r2.g
      ORDER BY source"""))

  /** Exact oracle for t38: the quantized Bradley–Terry MM unrolled —
    * per round, one MATERIALIZED pair-contribution CTE (integer
    * truncating divisions, `//` = `div` on these non-negative longs),
    * a per-player denominator sum, the clamped rating update, and the
    * broadcast renormalization. */
  private def bradleyTerryOracle(iters: Int, scale: Long): String = {
    val S = scale.toString
    val rounds = (1 to iters).map { i =>
      s"""
      j$i AS MATERIALIZED (
        SELECT a, b, (n * $S * $S) // (ra.r + rb.r) AS c
        FROM t38_pr JOIN r${i - 1} ra ON ra.p = t38_pr.a
                    JOIN r${i - 1} rb ON rb.p = t38_pr.b),
      c$i AS (
        SELECT p, cast(sum(c) AS BIGINT) AS d FROM (
          SELECT a AS p, c FROM j$i UNION ALL SELECT b, c FROM j$i)
        GROUP BY 1),
      x$i AS (
        SELECT s.p, greatest(1, (s.wins * $S * $S) // c.d) AS rn
        FROM t38_st s JOIN c$i c ON s.p = c.p),
      t$i AS (SELECT cast(sum(rn) AS BIGINT) AS tt,
                     cast(count(*) AS BIGINT) AS np FROM x$i),
      r$i AS MATERIALIZED (
        SELECT p, cast(greatest(1, (rn * (np * $S)) // tt) AS BIGINT) AS r
        FROM x$i CROSS JOIN t$i)"""
    }.mkString(",")
    s"""
      WITH t38_e AS (
        SELECT CAST(round(value * 100, 0) AS BIGINT) AS qv,
               user_id % 8 AS p1,
               (user_id + 1 +
                (CAST(json_extract_string(props, '$$.k') AS BIGINT) % 7)) % 8
                 AS p2
        FROM events),
      t38_m AS (
        SELECT CASE WHEN qv % 2 = 0 THEN p1 ELSE p2 END AS w,
               CASE WHEN qv % 2 = 0 THEN p2 ELSE p1 END AS l
        FROM t38_e WHERE p1 IS NOT NULL AND p2 IS NOT NULL),
      t38_pr AS MATERIALIZED (
        SELECT least(w, l) AS a, greatest(w, l) AS b,
               cast(count(*) AS BIGINT) AS n,
               cast(sum(CASE WHEN w < l THEN 1 ELSE 0 END) AS BIGINT) AS wa
        FROM t38_m WHERE w <> l GROUP BY 1, 2),
      t38_st AS MATERIALIZED (
        SELECT p, cast(sum(wp) AS BIGINT) AS wins, cast(sum(n) AS BIGINT) AS nm
        FROM (SELECT a AS p, wa AS wp, n FROM t38_pr
              UNION ALL SELECT b, n - wa, n FROM t38_pr)
        GROUP BY 1),
      r0 AS (SELECT p, CAST($S AS BIGINT) AS r FROM t38_st),$rounds
      SELECT s.p AS player, s.nm AS n_matches, s.wins,
             r.r AS rating_q,
             round(CAST(r.r AS DOUBLE) / $S.0, 6) AS rating
      FROM t38_st s JOIN r$iters r ON s.p = r.p
      ORDER BY player"""
  }

  /** Bradley–Terry arena ratings ([[graft.operators.Scoring
    * .bradleyTerryQuantized]]): pairwise preference aggregation with
    * opponent-strength correction — the Chatbot-Arena evaluation
    * shape. Fixture: events as an 8-player match log (players and
    * winners derived from user/prop/value residues); 4 quantized MM
    * rounds replay bit-for-bit through the unrolled oracle. */
  val t38_bradley_terry = QueryDef(
    "t38_bradley_terry",
    (s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      val qv = round(col("value") * 100, 0).cast("long")
      val p1 = pmod(col("user_id"), lit(8L))
      val p2 = pmod(col("user_id") + 1L + pmod(k, lit(7L)), lit(8L))
      val m = Tables(s, dir).events.select(
        when(qv % 2 === 0, p1).otherwise(p2).as("winner"),
        when(qv % 2 === 0, p2).otherwise(p1).as("loser"))
      graft.operators.Scoring
        .bradleyTerryQuantized(m, "winner", "loser", iters = 4)
        .orderBy(col("player"))
    },
    Some(bradleyTerryOracle(iters = 4, scale = 1000000L)),
    bench = true)

  /** Blocklist safety filter ([[graft.operators.Curation
    * .blocklistFilter]]): the C4-style bad-phrase gate as one
    * longest-first alternation regex (the ordering that makes Java's
    * leftmost-first agree with RE2's leftmost-longest), word-bounded
    * and case-insensitive, counted per document. The oracle counts the
    * same pattern with `regexp_extract_all`. */
  val t39_blocklist = QueryDef(
    "t39_blocklist",
    (s, dir) =>
      graft.operators.Curation
        .blocklistFilter(
          Tables(s, dir).documents, "doc_id", "text",
          phrases = Seq("slow fast", "data window", "the part", "spark"),
          maxHits = 1L)
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             cast(len(regexp_extract_all(lower(text),
               '\b(?:data window|slow fast|the part|spark)\b')) AS BIGINT)
               AS n_hits,
             cast(len(regexp_extract_all(lower(text),
               '\b(?:data window|slow fast|the part|spark)\b')) AS BIGINT) > 1
               AS blocked
      FROM documents ORDER BY doc_id"""))

  private val t42Phrases: Seq[String] = Seq(
    "slow fast", "slow", "fast key order", "fast key", "data window",
    "window row", "the part", "part merge", "spark window", "spark",
    "batch batch", "stream", "join order", "join", "sort agg", "agg line",
    "merge data", "key data", "small hash scan", "hash scan", "big",
    "customer line", "value merge", "row data", "a")

  /** Blocklist at dictionary scale ([[graft.operators.Curation
    * .blocklistFilterTrie]]): the same C4-style gate as t39 but through
    * the native phrase-TRIE kernel t39's docstring names as the
    * >10³-phrase upgrade — per-character cost independent of phrase
    * count. The 25-phrase fixture is deliberately adversarial
    * (phrases that are prefixes of other phrases, shared first words,
    * single-character words) and the oracle replays the REGEX
    * formulation — RE2's native leftmost-longest — so kernel ≡ regex
    * is proven by an independent engine, not by the kernel's twin. */
  val t42_blocklist_trie = QueryDef(
    "t42_blocklist_trie",
    (s, dir) =>
      graft.operators.Curation
        .blocklistFilterTrie(
          Tables(s, dir).documents, "doc_id", "text", t42Phrases,
          maxHits = 3L)
        .orderBy(col("doc_id")),
    Some {
      val pat = "\\b(?:" +
        t42Phrases.sortBy(p => (-p.length, p)).mkString("|") + ")\\b"
      s"""
      SELECT doc_id,
             cast(len(regexp_extract_all(lower(text), '$pat')) AS BIGINT)
               AS n_hits,
             cast(len(regexp_extract_all(lower(text), '$pat')) AS BIGINT) > 3
               AS blocked
      FROM documents ORDER BY doc_id"""
    })

  /** Preference-pair assembly ([[graft.operators.Curation
    * .preferencePairs]]): the DPO/reward-model data step — per prompt
    * group, the (chosen, rejected) pair at maximal exact-score
    * separation, struct-lexicographic tie-breaks, zero-margin groups
    * dropped. Fixture: documents as scored candidates in 97 prompt
    * groups with n_chars as the (exact long) score; the oracle
    * replays the struct min/max total order with twin row_number
    * windows. */
  val p29_preference_pairs = QueryDef(
    "p29_preference_pairs",
    (s, dir) =>
      graft.operators.Curation
        .preferencePairs(
          Tables(s, dir).documents.select(
            pmod(col("doc_id"), lit(97L)).as("prompt_id"),
            col("doc_id"), col("n_chars")),
          "prompt_id", "doc_id", "n_chars")
        .orderBy(col("prompt_id")),
    Some("""
      WITH p29_r AS (
        SELECT doc_id % 97 AS prompt_id, doc_id, n_chars FROM documents),
      p29_w AS (
        SELECT prompt_id, doc_id, n_chars,
               row_number() OVER (PARTITION BY prompt_id
                 ORDER BY n_chars DESC, doc_id DESC) AS rc,
               row_number() OVER (PARTITION BY prompt_id
                 ORDER BY n_chars ASC, doc_id ASC) AS rr,
               cast(count(*) OVER (PARTITION BY prompt_id) AS BIGINT)
                 AS n_responses
        FROM p29_r)
      SELECT c.prompt_id, c.n_responses,
             c.doc_id AS chosen_id, c.n_chars AS chosen_score,
             j.doc_id AS rejected_id, j.n_chars AS rejected_score,
             c.n_chars - j.n_chars AS margin
      FROM (SELECT * FROM p29_w WHERE rc = 1) c
      JOIN (SELECT * FROM p29_w WHERE rr = 1) j USING (prompt_id)
      WHERE c.n_responses >= 2 AND c.n_chars > j.n_chars
      ORDER BY c.prompt_id"""))

  /** Exact oracle for g01: DuckDB replays quantized PageRank verbatim —
    * same integer teleport/damping/truncating-division formula per
    * round, one CTE pair (dangling scalar + contribution sums) per
    * iteration. `//` in DuckDB = `div` in Spark for these non-negative
    * longs. */
  private def pagerankOracle(iters: Int, scale: Long, num: Long, den: Long): String = {
    val teleport = (den - num) * scale / den
    val rounds = (1 to iters).map { i =>
      s"""
      d$i AS (
        SELECT cast(coalesce(sum(pr), 0) AS BIGINT) AS dang
        FROM r${i - 1} LEFT JOIN odeg ON node = src WHERE src IS NULL),
      c$i AS (
        SELECT dst AS node, cast(sum(pr // odeg) AS BIGINT) AS c
        FROM e JOIN odeg USING (src) JOIN r${i - 1} ON e.src = r${i - 1}.node
        GROUP BY 1),
      r$i AS (
        SELECT nodes.node,
               cast($teleport + ($num * (coalesce(c, 0)
                 + (SELECT dang FROM d$i) // (SELECT n FROM nn))) // $den
                 AS BIGINT) AS pr
        FROM nodes LEFT JOIN c$i USING (node))"""
    }.mkString(",")
    s"""
      WITH e AS (
        SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      nodes AS (
        SELECT node FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
      odeg AS (SELECT src, count(*) AS odeg FROM e GROUP BY 1),
      nn AS (SELECT count(*) AS n FROM nodes),
      r0 AS (SELECT node, cast($scale AS BIGINT) AS pr FROM nodes),
      $rounds
      SELECT node, pr FROM r$iters ORDER BY node"""
  }

  /** Quantized PageRank ([[graft.operators.Graph.pagerankQuantized]])
    * over the customer→supplier trade graph (keys tagged even/odd to
    * keep the two entity spaces disjoint): 3 damped rounds with uniform
    * dangling-mass redistribution, every step exact integer arithmetic
    * — link-centrality quality priors that reproduce bit-for-bit. */
  val g01_pagerank = QueryDef(
    "g01_pagerank",
    (s, dir) => {
      val t = Tables(s, dir)
      val orders = t.orders
      val li = t.lineitem
      val edges = orders
        .join(li, orders("o_orderkey") === li("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      graft.operators.Graph.pagerankQuantized(edges, "src", "dst", iters = 3)
        .orderBy(col("node"))
    },
    Some(pagerankOracle(iters = 3, scale = 1000000L, num = 85, den = 100)),
    bench = true)

  /** Exact oracle for g02: the g01 replay with teleport and dangling
    * mass confined to the seed flag (seeds = even-tagged customers
    * whose custkey is a multiple of 10 → src % 20 = 0). */
  private def pprOracle(iters: Int, scale: Long, num: Long, den: Long): String = {
    val teleport = (den - num) * scale / den
    val rounds = (1 to iters).map { i =>
      s"""
      d$i AS (
        SELECT cast(coalesce(sum(pr), 0) AS BIGINT) AS dang
        FROM r${i - 1} LEFT JOIN odeg ON node = src WHERE src IS NULL),
      c$i AS (
        SELECT dst AS node, cast(sum(pr // odeg) AS BIGINT) AS c
        FROM e JOIN odeg USING (src) JOIN r${i - 1} ON e.src = r${i - 1}.node
        GROUP BY 1),
      r$i AS (
        SELECT nodes.node,
               cast(nodes.s * $teleport + ($num * (coalesce(c, 0)
                 + nodes.s * ((SELECT dang FROM d$i) // (SELECT n FROM ns)))) // $den
                 AS BIGINT) AS pr
        FROM nodes LEFT JOIN c$i USING (node))"""
    }.mkString(",")
    s"""
      WITH e AS (
        SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      seeds AS (SELECT DISTINCT src AS node FROM e WHERE src % 20 = 0),
      nodes AS (
        SELECT node,
               CASE WHEN node IN (SELECT node FROM seeds) THEN 1 ELSE 0 END AS s
        FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
      odeg AS (SELECT src, count(*) AS odeg FROM e GROUP BY 1),
      ns AS (SELECT count(*) AS n FROM seeds),
      r0 AS (SELECT node, cast(s * $scale AS BIGINT) AS pr FROM nodes),
      $rounds
      SELECT node, pr FROM r$iters ORDER BY node"""
  }

  /** Personalized PageRank ([[graft.operators.Graph
    * .personalizedPagerankQuantized]]) over the same trade graph as
    * g01, seeded on every 10th customer: rank measures proximity to
    * the vetted seed set — the seed-expansion curation signal — with
    * unreachable nodes at exactly 0; every step integer-exact, so the
    * DuckDB replay is bit-for-bit. */
  val g02_ppr = QueryDef(
    "g02_ppr",
    (s, dir) => {
      val t = Tables(s, dir)
      val orders = t.orders
      val li = t.lineitem
      val edges = orders
        .join(li, orders("o_orderkey") === li("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      val seeds = edges.select(col("src").as("node"))
        .filter(col("node") % 20 === 0).distinct()
      graft.operators.Graph
        .personalizedPagerankQuantized(edges, "src", "dst", seeds, "node", iters = 3)
        .orderBy(col("node"))
    },
    Some(pprOracle(iters = 3, scale = 1000000L, num = 85, den = 100)))

  /** Exact oracle for g03: DuckDB replays quantized max-normalized HITS
    * verbatim — per round one dst-keyed hub sum, its max as a scalar,
    * truncating renormalization, then the same mirrored for hubs; `//`
    * equals Spark's `div` on these non-negative longs. */
  private def hitsOracle(iters: Int, scale: Long): String = {
    val rounds = (1 to iters).map { i =>
      s"""
      ar$i AS MATERIALIZED (
        SELECT dst AS node, cast(sum(h) AS BIGINT) AS a
        FROM e JOIN s${i - 1} ON e.src = s${i - 1}.node GROUP BY 1),
      am$i AS MATERIALIZED (SELECT coalesce(max(a), 0) AS m FROM ar$i),
      a$i AS MATERIALIZED (
        SELECT nodes.node,
               CASE WHEN (SELECT m FROM am$i) = 0 THEN cast(0 AS BIGINT)
                    ELSE cast(coalesce(ar$i.a, 0) * $scale // (SELECT m FROM am$i) AS BIGINT)
               END AS auth
        FROM nodes LEFT JOIN ar$i USING (node)),
      hr$i AS MATERIALIZED (
        SELECT e.src AS node, cast(sum(auth) AS BIGINT) AS hr
        FROM e JOIN a$i ON e.dst = a$i.node GROUP BY 1),
      hm$i AS MATERIALIZED (SELECT coalesce(max(hr), 0) AS m FROM hr$i),
      s$i AS MATERIALIZED (
        SELECT nodes.node,
               CASE WHEN (SELECT m FROM hm$i) = 0 THEN cast(0 AS BIGINT)
                    ELSE cast(coalesce(hr$i.hr, 0) * $scale // (SELECT m FROM hm$i) AS BIGINT)
               END AS h,
               a$i.auth AS a
        FROM nodes LEFT JOIN hr$i USING (node) JOIN a$i USING (node))"""
    }.mkString(",")
    s"""
      WITH e AS (
        SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      s0 AS (SELECT node, cast($scale AS BIGINT) AS h, cast(0 AS BIGINT) AS a
             FROM nodes),$rounds
      SELECT node, h AS hub, a AS auth FROM s$iters ORDER BY node"""
  }

  /** HITS hubs & authorities ([[graft.operators.Graph.hitsQuantized]])
    * over the same trade graph as g01: hub score separates good
    * CURATORS (customers, who only point) from good CONTENT (suppliers,
    * who are only pointed at — the graph is bipartite, so each side's
    * other score is exactly 0, which the oracle confirms row by row).
    * Quantized max-normalized rounds, bit-for-bit DuckDB replay. */
  val g03_hits = QueryDef(
    "g03_hits",
    (s, dir) => {
      val t = Tables(s, dir)
      val orders = t.orders
      val li = t.lineitem
      val edges = orders
        .join(li, orders("o_orderkey") === li("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      graft.operators.Graph.hitsQuantized(edges, "src", "dst", iters = 3)
        .orderBy(col("node"))
    },
    Some(hitsOracle(iters = 3, scale = 1000000L)))

  /** Exact oracle for g04: the s01 brute-force kNN replayed for EVERY
    * vector (k=10), weights quantized from the 6-rounded cosine, then
    * the synchronous vote rounds unrolled as (b_i, l_i) CTE pairs —
    * all vote tallies exact long sums, so the replay is bit-for-bit. */
  /** The exact-cosine k=10 kNN CTEs shared by the g04/g05 oracles (and
    * g06/g07/g08 since round 14 — their naive all-pairs windows hit the
    * same disk wall the moment the sf1 sweep reached them),
    * restated as EXACT two-phase top-k so DuckDB never window-sorts the
    * all-pairs relation (its full sort of |v|² rows spilled >79 GB and
    * filled the disk at sf1 — the same oracle-budget failure class the
    * ANF register oracles (r12) and d05's prefix candidates (r13) hit,
    * and the same cure: restate, don't weaken). Phase 1 ranks each
    * query against only its own vec_id%16 residue class (1/16 of the
    * corpus) — a window over |v|²/16 rows — and takes tau = that
    * subset's 10th-best cosine. Because adding candidates can only
    * RAISE a k-th best, the overall 10th-best >= tau whenever the
    * subset held >= 10 candidates, so filtering the full all-pairs
    * scan to cosine >= tau provably retains every true top-10 member;
    * queries whose residue class is thinner than 10 (tiny SFs) fall
    * back to tau = -2 (< any cosine), i.e. the unfiltered exact scan.
    * The 400M-cosine probe then STREAMS through the filter — only the
    * ~k/subset fraction materializes into the final exact ranking
    * window. The Spark side needs no such cap: WindowGroupLimit prunes
    * rank<=k per partition incrementally, which is exactly the
    * bounded-memory shape DuckDB's full window sort lacks. */
  private val knnChunkedCte: String = s"""
      knn_tau AS MATERIALIZED (
        SELECT query_id,
               CASE WHEN count(*) >= 10 THEN min(cosine)
                    ELSE CAST(-2.0 AS DOUBLE) END AS tau
        FROM (
          SELECT q.vec_id AS query_id,
                 round(list_cosine_similarity(q.e, n.e), 6) AS cosine,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(q.e, n.e), 6) DESC,
                            n.vec_id ASC) AS rn
          FROM v q JOIN v n
            ON n.vec_id <> q.vec_id AND n.vec_id % 16 = q.vec_id % 16)
        WHERE rn <= 10 GROUP BY query_id),
      knn AS MATERIALIZED (
        SELECT query_id, neighbor_id, cosine FROM (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   round(list_cosine_similarity(q.e, n.e), 6) AS cosine
            FROM v q
            JOIN v n ON n.vec_id <> q.vec_id
            LEFT JOIN knn_tau t ON t.query_id = q.vec_id
            WHERE round(list_cosine_similarity(q.e, n.e), 6)
                    >= coalesce(t.tau, CAST(-2.0 AS DOUBLE))))
        WHERE rank <= 10)"""

  /** The seeded synchronous vote rounds shared by the g04 and g18
    * oracles — expects CTEs `e` (src, dst, w) and `l0` (node, sd, lab)
    * in scope; yields b_i/l_i pairs up to l`iters`. */
  private def lpSeededRounds(iters: Int): String =
    (1 to iters).map { i =>
      s"""
      b$i AS (
        SELECT node, lab FROM (
          SELECT e.src AS node, l.lab, sum(e.w) AS sc,
                 row_number() OVER (
                   PARTITION BY e.src ORDER BY sum(e.w) DESC, l.lab ASC) AS rn
          FROM e JOIN l${i - 1} l ON e.dst = l.node
          WHERE l.lab IS NOT NULL
          GROUP BY e.src, l.lab)
        WHERE rn = 1),
      l$i AS (
        SELECT p.node, p.sd,
               CASE WHEN p.sd THEN p.lab ELSE coalesce(b.lab, p.lab) END AS lab
        FROM l${i - 1} p LEFT JOIN b$i b USING (node))"""
    }.mkString(",")

  private def labelPropOracle(iters: Int): String = {
    val rounds = lpSeededRounds(iters)
    s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      $knnChunkedCte,
      e AS MATERIALIZED (
        SELECT query_id AS src, neighbor_id AS dst,
               greatest(0, CAST(round(cosine * 1000000.0, 0) AS BIGINT)) AS w
        FROM knn),
      l0 AS (
        SELECT vec_id AS node, vec_id % 4 = 0 AS sd,
               CASE WHEN vec_id % 4 = 0 THEN CAST(label AS BIGINT) END AS lab
        FROM embeddings),
      $rounds
      SELECT node AS vec_id, lab AS label FROM l$iters ORDER BY vec_id"""
  }

  /** Semi-supervised label propagation ([[graft.operators.Graph
    * .labelPropagationQuantized]]) over the exact cosine kNN graph
    * (k=10) of the embeddings: every 4th vector keeps its true label as
    * a seed, three synchronous weighted-vote rounds spread labels to
    * the rest — the auto-labeling stage that scales a small human-rated
    * set (quality tiers, topics, licenses) across a corpus. Edge
    * weights are 1e6-quantized cosines, so every vote tally is an
    * exact long sum (bit-stable under any partitioning); nodes no round
    * reached stay NULL — a coverage signal. The edge build here is the
    * s01 brute-force face for oracle exactness; at 100 TB the same
    * operator takes IVF/PQ-built edges unchanged. */
  /** Exact oracle for g05: the g04 kNN/edge CTEs with every node
    * starting as its own community and NO seed guard in the rounds. */
  private def communityOracle(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""
      b$i AS (
        SELECT node, lab FROM (
          SELECT e.src AS node, l.lab, sum(e.w) AS sc,
                 row_number() OVER (
                   PARTITION BY e.src ORDER BY sum(e.w) DESC, l.lab ASC) AS rn
          FROM e JOIN l${i - 1} l ON e.dst = l.node
          GROUP BY e.src, l.lab)
        WHERE rn = 1),
      l$i AS (
        SELECT p.node, coalesce(b.lab, p.lab) AS lab
        FROM l${i - 1} p LEFT JOIN b$i b USING (node))"""
    }.mkString(",")
    s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      $knnChunkedCte,
      e AS MATERIALIZED (
        SELECT query_id AS src, neighbor_id AS dst,
               greatest(0, CAST(round(cosine * 1000000.0, 0) AS BIGINT)) AS w
        FROM knn),
      l0 AS (
        SELECT vec_id AS node, CAST(vec_id AS BIGINT) AS lab
        FROM embeddings),
      $rounds
      SELECT node AS vec_id, lab AS community FROM l$iters ORDER BY vec_id"""
  }

  /** Unsupervised community detection ([[graft.operators.Graph
    * .communityLabelsQuantized]], Raghavan et al. 2007 LPA) over the
    * same exact kNN graph as g04, NO seed set: every vector starts as
    * its own community and dense neighborhoods collapse onto shared
    * labels in 4 synchronous rounds — the clustering face of the graph
    * family (g01 centrality, g02 seed proximity, g03 hub/authority,
    * g04 seeded labels, g05 unsupervised structure). Quantized
    * tallies + fixed rounds make synchronous LPA deterministic, so the
    * unrolled-CTE oracle replays it bit-for-bit. */
  val g05_communities = QueryDef(
    "g05_communities",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val knn = Similarity.bruteForceKnn(
        corpus = emb.repartition(s.sparkContext.defaultParallelism),
        queries = emb, idCol = "vec_id", vecCol = "embedding",
        k = 10)
      val edges = knn.select(
        col("query_id").as("src"), col("neighbor_id").as("dst"),
        greatest(lit(0L),
          round(col("cosine") * 1000000.0, 0).cast("long")).as("w"))
      graft.operators.Graph
        .communityLabelsQuantized(edges, "src", "dst", "w", iters = 4)
        .select(col("node").as("vec_id"), col("label").as("community"))
        .orderBy(col("vec_id"))
    },
    Some(communityOracle(iters = 4)))

  /** Triangle census over the exact kNN graph
    * ([[graft.operators.Graph.triangleStats]]): per-node triangle
    * counts and local clustering coefficients — the density diagnostic
    * that surfaces near-duplicate pockets and clique-shaped link spam
    * in a similarity graph (g01–g05's sixth face: global structure
    * through closed wedges). Degree-ordered orientation counts each
    * triangle once with O(√m)-bounded out-degrees — hub-skew-proof;
    * exact integer counts replay verbatim in the oracle over the same
    * materialized kNN edge list. */
  val g06_triangles = QueryDef(
    "g06_triangles",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val knn = Similarity.bruteForceKnn(
        corpus = emb.repartition(s.sparkContext.defaultParallelism),
        queries = emb, idCol = "vec_id", vecCol = "embedding",
        k = 10)
      graft.operators.Graph
        .triangleStats(knn, "query_id", "neighbor_id")
        .select(col("node").as("vec_id"), col("degree"),
          col("triangles"), col("lcc"))
        .orderBy(col("vec_id"))
    },
    Some(s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      $knnChunkedCte,
      g06_knn AS MATERIALIZED (SELECT query_id, neighbor_id FROM knn),
      g06_und AS (
        SELECT DISTINCT least(query_id, neighbor_id) AS a,
                        greatest(query_id, neighbor_id) AS b
        FROM g06_knn WHERE query_id <> neighbor_id),
      g06_deg AS (
        SELECT node, cast(count(*) AS BIGINT) AS degree
        FROM (SELECT unnest([a, b]) AS node FROM g06_und) GROUP BY 1),
      g06_o AS MATERIALIZED (
        SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
               CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v,
               CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dv
        FROM (SELECT g06_und.a, g06_und.b, x.degree AS da, y.degree AS db
              FROM g06_und
              JOIN g06_deg x ON g06_und.a = x.node
              JOIN g06_deg y ON g06_und.b = y.node)),
      g06_w AS (
        SELECT e1.u, e1.v AS x, e2.v AS y
        FROM g06_o e1 JOIN g06_o e2 ON e1.u = e2.u
        WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)),
      g06_tri AS (
        SELECT w.u, w.x, w.y FROM g06_w w
        WHERE EXISTS (SELECT 1 FROM g06_o o WHERE o.u = w.x AND o.v = w.y)),
      g06_pn AS (
        SELECT node, cast(count(*) AS BIGINT) AS triangles
        FROM (SELECT unnest([u, x, y]) AS node FROM g06_tri) GROUP BY 1)
      SELECT d.node AS vec_id, d.degree,
             cast(coalesce(p.triangles, 0) AS BIGINT) AS triangles,
             CASE WHEN d.degree < 2 THEN 0.0
                  ELSE round(2.0 * coalesce(p.triangles, 0)
                             / (d.degree * (d.degree - 1)), 6) END AS lcc
      FROM g06_deg d LEFT JOIN g06_pn p USING (node)
      ORDER BY vec_id"""))

  /** Link prediction over the exact kNN graph
    * ([[graft.operators.Graph.linkPrediction]]): top-5 non-adjacent
    * distance-2 candidates per node by Adamic-Adar (quantized-long
    * neighbor weights), with common-neighbor count and neighborhood
    * Jaccard — the related-item/graph-completion face of the graph
    * family. One (z)-keyed wedge self-join + one (x, y) aggregation;
    * the oracle replays the same per-neighbor quantization and the
    * (aa, cn, id) total order. */
  val g07_link_prediction = QueryDef(
    "g07_link_prediction",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val knn = Similarity.bruteForceKnn(
        corpus = emb.repartition(s.sparkContext.defaultParallelism),
        queries = emb, idCol = "vec_id", vecCol = "embedding",
        k = 10)
      graft.operators.Graph
        .linkPrediction(knn, "query_id", "neighbor_id", k = 5)
        .orderBy(col("src_id"), col("rank"))
    },
    Some(s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      $knnChunkedCte,
      g07_knn AS MATERIALIZED (SELECT query_id, neighbor_id FROM knn),
      g07_und AS (
        SELECT DISTINCT least(query_id, neighbor_id) AS a,
                        greatest(query_id, neighbor_id) AS b
        FROM g07_knn WHERE query_id <> neighbor_id),
      g07_deg AS (
        SELECT node, cast(count(*) AS BIGINT) AS degree
        FROM (SELECT unnest([a, b]) AS node FROM g07_und) GROUP BY 1),
      g07_adj AS MATERIALIZED (
        SELECT j.z, j.x,
               CAST(round(1000000000.0 / ln(d.degree), 0) AS BIGINT) AS w
        FROM (SELECT a AS z, b AS x FROM g07_und
              UNION ALL
              SELECT b AS z, a AS x FROM g07_und) j
        JOIN g07_deg d ON j.z = d.node),
      g07_wg AS (
        SELECT e1.x AS x, e2.x AS y, e1.w
        FROM g07_adj e1 JOIN g07_adj e2 ON e1.z = e2.z AND e1.x < e2.x),
      g07_p AS (
        SELECT x, y, cast(count(*) AS BIGINT) AS cn,
               cast(sum(w) AS BIGINT) AS aaq
        FROM g07_wg GROUP BY 1, 2),
      g07_np AS (
        SELECT p.* FROM g07_p p
        WHERE NOT EXISTS (SELECT 1 FROM g07_und u
                          WHERE u.a = p.x AND u.b = p.y)),
      g07_j AS (
        SELECT np.x, np.y, np.cn, np.aaq,
               dx.degree AS dgx, dy.degree AS dgy
        FROM g07_np np
        JOIN g07_deg dx ON np.x = dx.node
        JOIN g07_deg dy ON np.y = dy.node)
      SELECT src_id, rank, cand_id, cn, aa, jaccard FROM (
        SELECT x AS src_id, y AS cand_id, cn,
               round(CAST(aaq AS DOUBLE) / 1000000000.0, 6) AS aa,
               round(CAST(cn AS DOUBLE) / CAST(dgx + dgy - cn AS DOUBLE), 6) AS jaccard,
               cast(row_number() OVER (
                 PARTITION BY x ORDER BY aaq DESC, cn DESC, y ASC) AS INT) AS rank
        FROM g07_j)
      WHERE rank <= 5
      ORDER BY src_id, rank"""))

  /** Unrolled-round DuckDB oracle for g08: per peel round one degree
    * CTE + one survivor CTE + one restricted (MATERIALIZED — each e_i
    * is read by three later CTEs) edge CTE; convergence = round
    * `iters` deleted no edges. */
  private def kCoreOracle(k: Int, iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""
      g08_d$i AS (
        SELECT node, cast(count(*) AS BIGINT) AS c
        FROM (SELECT unnest([a, b]) AS node FROM g08_e${i - 1}) GROUP BY 1),
      g08_k$i AS (SELECT node FROM g08_d$i WHERE c >= $k),
      g08_e$i AS MATERIALIZED (
        SELECT a, b FROM g08_e${i - 1}
        WHERE a IN (SELECT node FROM g08_k$i)
          AND b IN (SELECT node FROM g08_k$i))"""
    }.mkString(",")
    s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      $knnChunkedCte,
      g08_knn AS MATERIALIZED (SELECT query_id, neighbor_id FROM knn),
      g08_e0 AS MATERIALIZED (
        SELECT DISTINCT least(query_id, neighbor_id) AS a,
                        greatest(query_id, neighbor_id) AS b
        FROM g08_knn WHERE query_id <> neighbor_id),
      $rounds,
      g08_fd AS (
        SELECT node, cast(count(*) AS BIGINT) AS cd
        FROM (SELECT unnest([a, b]) AS node FROM g08_e$iters) GROUP BY 1),
      g08_conv AS (
        SELECT (SELECT count(*) FROM g08_e${iters - 1})
               = (SELECT count(*) FROM g08_e$iters) AS converged)
      SELECT d.node AS vec_id, d.c AS degree,
             coalesce(fd.cd, 0) >= $k AS in_core,
             cast(coalesce(fd.cd, 0) AS BIGINT) AS core_degree,
             conv.converged
      FROM g08_d1 d LEFT JOIN g08_fd fd USING (node) CROSS JOIN g08_conv conv
      ORDER BY vec_id"""
  }

  /** k-core membership over the exact kNN graph
    * ([[graft.operators.Graph.kCore]]): four synchronous peel rounds
    * at k = 12 — the structural density filter (dense near-dup pockets
    * survive, sparse periphery falls out round by round). Monotone +
    * confluent peeling makes the fixed round budget deterministic;
    * the oracle unrolls the identical rounds and the convergence
    * certificate. */
  val g08_kcore = QueryDef(
    "g08_kcore",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val knn = Similarity.bruteForceKnn(
        corpus = emb.repartition(s.sparkContext.defaultParallelism),
        queries = emb, idCol = "vec_id", vecCol = "embedding",
        k = 10)
      graft.operators.Graph
        .kCore(knn, "query_id", "neighbor_id", k = 12, iters = 4)
        .select(col("node").as("vec_id"), col("degree"), col("in_core"),
          col("core_degree"), col("converged"))
        .orderBy(col("vec_id"))
    },
    Some(kCoreOracle(k = 12, iters = 4)))

  /** Co-engagement graph build ([[graft.operators.Graph
    * .cooccurrenceEdges]]): project the (user, item) bipartite
    * interaction log onto item–item edges weighted by distinct shared
    * users — how pipelines MANUFACTURE the edge lists g01–g08 consume
    * when no explicit graph exists. Items are the JSON `k` prop; the
    * per-user degree cap (the bot/crawler wedge bound) and the
    * min-support noise prune both replay in the oracle. */
  val g09_cooccurrence = QueryDef(
    "g09_cooccurrence",
    (s, dir) =>
      graft.operators.Graph
        .cooccurrenceEdges(
          Tables(s, dir).events.select(
            col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item")),
          "user_id", "item", maxPerUser = 64, minSupport = 3L)
        .orderBy(col("item_a"), col("item_b")),
    Some("""
      WITH g09_ui AS (
        SELECT DISTINCT user_id AS u,
               cast(json_extract_string(props, '$.k') AS BIGINT) AS i
        FROM events),
      g09_nn AS (
        SELECT u, i FROM g09_ui WHERE u IS NOT NULL AND i IS NOT NULL),
      g09_c AS (
        SELECT u, i FROM (
          SELECT u, i, row_number() OVER (PARTITION BY u ORDER BY i) AS rn
          FROM g09_nn) WHERE rn <= 64)
      SELECT a.i AS item_a, b.i AS item_b,
             cast(count(*) AS BIGINT) AS weight
      FROM g09_c a JOIN g09_c b ON a.u = b.u AND a.i < b.i
      GROUP BY 1, 2 HAVING count(*) >= 3
      ORDER BY item_a, item_b"""))

  /** 2-hop neighborhood expansion ([[graft.operators.Graph
    * .neighborhoodProfile]]): per-node degree, exact distance-≤2
    * reach, and the expansion ratio — the radius-2 ANF health read
    * that separates organic connectivity from link-farm cliques.
    * Fixture: the user–item bipartite graph from events (items
    * offset past the user id range), where distance-2 IS
    * co-engagement. */
  /** Neighborhood profile (degree, distinct 2-reach, expansion) over a
    * user–item graph. SCALE NOTE (r14): this FIXTURE maps item ids
    * `% 50`, so the graph has 50 item hubs and every user's 2-hop
    * neighborhood is essentially the whole user set — the distinct
    * 2-reach relation is ~n² by fixture construction at sf1 (corpus
    * densification, not operator shape: the operator is one keyed
    * self-join + a distinct count). It is therefore gate-SF-verified
    * but deliberately not swept at sf1; on a real sparse graph the
    * 2-reach is Σ deg², the standard cost of the profile. */
  val g10_neighborhood = QueryDef(
    "g10_neighborhood",
    (s, dir) =>
      graft.operators.Graph
        .neighborhoodProfile(
          Tables(s, dir).events.select(
            col("user_id").as("src"),
            (get_json_object(col("props"), "$.k").cast("long") % 50 + 1000L)
              .as("dst")),
          "src", "dst")
        .orderBy(col("node")),
    Some("""
      WITH g10_e AS (
        SELECT user_id AS src,
               (cast(json_extract_string(props, '$.k') AS BIGINT) % 50) + 1000
                 AS dst
        FROM events),
      g10_u AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM g10_e
        WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
      g10_adj AS (
        SELECT a AS x, b AS y FROM g10_u
        UNION ALL SELECT b, a FROM g10_u),
      g10_deg AS (
        SELECT x, cast(count(*) AS BIGINT) AS degree FROM g10_adj GROUP BY 1),
      g10_p2 AS (
        SELECT l.x, r.y
        FROM g10_adj l JOIN g10_adj r ON l.y = r.x),
      g10_w2 AS (
        SELECT x, cast(count(*) AS BIGINT) AS reach2 FROM (
          SELECT DISTINCT x, y FROM (
            SELECT x, y FROM g10_adj UNION ALL SELECT x, y FROM g10_p2)
          WHERE x <> y)
        GROUP BY 1)
      SELECT d.x AS node, d.degree, w.reach2,
             round(CAST(w.reach2 AS DOUBLE) / CAST(d.degree AS DOUBLE), 6)
               AS expansion
      FROM g10_deg d JOIN g10_w2 w ON d.x = w.x
      ORDER BY node"""))

  /** [[g10_neighborhood]]'s SCALE face (round 15): the same
    * [[graft.operators.Graph.neighborhoodProfile]] operator over the
    * same user–item bipartite events graph, but with the raw `props.k`
    * item id — NO fold — so the item space inherits the corpus's own
    * growth. g10's fixed `% 50` makes every item a hub whose 2-hop
    * neighborhood is essentially the whole user set — the distinct
    * 2-reach relation is ~n² BY FIXTURE CONSTRUCTION, which is why g10
    * stays the documented hub-stress face and is not swept at sf1.
    * A count-derived modulus (the autoPlanes pattern, m = max(50,
    * n/200)) was tried first and REJECTED, measured not guessed: the
    * scale corpus grows the item space by striding k per copy with
    * cp·10^6, and 10^6 ≡ 0 (mod 5000 = m at sf1), so `% m` folded all
    * ten copies back onto the base 100 items — 100 hubs of ~7000
    * distinct users each, a ~5·10^9-row 2-path join, the exact disease
    * the variant exists to avoid. Any fold must stay coprime to an
    * offset it cannot know; the raw id needs no such luck — the
    * replication contract ("item space grows with the data instead of
    * saturating", the events block in ScaleProbe) is exactly the
    * growth shape the sweep should measure, and on this graph the
    * 2-path input Σ deg² and the distinct 2-reach grow linearly.
    * Item node ids offset by 10^7 — clear of every corpus' user-id
    * range (g10's +1000 overlaps user ids at sf0.1+, harmless there
    * but wrong to replicate in the face whose point is clean growth).
    * Oracle replays the same projection verbatim. */
  val g19_neighborhood_scaled = QueryDef(
    "g19_neighborhood_scaled",
    (s, dir) =>
      graft.operators.Graph
        .neighborhoodProfile(
          Tables(s, dir).events.select(
            col("user_id").as("src"),
            (get_json_object(col("props"), "$.k").cast("long")
              + 10000000L).as("dst")),
          "src", "dst")
        .orderBy(col("node")),
    Some("""
      WITH g19_e AS (
        SELECT user_id AS src,
               cast(json_extract_string(props, '$.k') AS BIGINT)
                 + 10000000 AS dst
        FROM events),
      g19_u AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM g19_e
        WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
      g19_adj AS (
        SELECT a AS x, b AS y FROM g19_u
        UNION ALL SELECT b, a FROM g19_u),
      g19_deg AS (
        SELECT x, cast(count(*) AS BIGINT) AS degree FROM g19_adj GROUP BY 1),
      g19_p2 AS (
        SELECT l.x, r.y
        FROM g19_adj l JOIN g19_adj r ON l.y = r.x),
      g19_w2 AS (
        SELECT x, cast(count(*) AS BIGINT) AS reach2 FROM (
          SELECT DISTINCT x, y FROM (
            SELECT x, y FROM g19_adj UNION ALL SELECT x, y FROM g19_p2)
          WHERE x <> y)
        GROUP BY 1)
      SELECT d.x AS node, d.degree, w.reach2,
             round(CAST(w.reach2 AS DOUBLE) / CAST(d.degree AS DOUBLE), 6)
               AS expansion
      FROM g19_deg d JOIN g19_w2 w ON d.x = w.x
      ORDER BY node"""))

  /** Persisted co-occurrence index with an APPEND in its history
    * ([[graft.operators.Graph.writeCooccurrenceIndex]] on the first
    * event half, [[graft.operators.Graph.appendCooccurrence]] of the
    * second, then the bucket-pruned top-5 probe): pair weights are
    * additive per-user-arrival deltas, so the split-build index must
    * serve EXACTLY the one-shot answer — the oracle computes plain
    * co-occurrence over ALL events and ranks the same probe items. */
  val g11_coocc_indexed = QueryDef(
    "g11_coocc_indexed",
    (s, dir) => {
      val ev = Tables(s, dir).events.select(
        col("event_id"), col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      val table = s"graft_coocc_${Integer.toHexString(dir.hashCode)}" +
        s"_p${ProcessHandle.current().pid()}"
      graft.operators.Graph.writeCooccurrenceIndex(
        s, table, ev.filter(col("event_id") % 2 === 0), "user_id", "item")
      graft.operators.Graph.appendCooccurrence(
        s, table, ev.filter(col("event_id") % 2 =!= 0), "user_id", "item")
      graft.operators.Graph
        .probeCoItems(s, table,
          ev.filter(col("item") < 10), "item", k = 5)
        .orderBy(col("item"), col("rank"))
    },
    Some("""
      WITH g11_ui AS (
        SELECT DISTINCT user_id AS u,
               cast(json_extract_string(props, '$.k') AS BIGINT) AS i
        FROM events
        WHERE user_id IS NOT NULL
          AND json_extract_string(props, '$.k') IS NOT NULL),
      g11_p AS (
        SELECT a.i AS item, b.i AS other, cast(count(*) AS BIGINT) AS weight
        FROM g11_ui a JOIN g11_ui b ON a.u = b.u AND a.i <> b.i
        GROUP BY 1, 2),
      g11_r AS (
        SELECT item, other, weight,
               cast(row_number() OVER (PARTITION BY item
                 ORDER BY weight DESC, other ASC) AS INT) AS rank
        FROM g11_p WHERE item < 10)
      SELECT item, other, weight, rank
      FROM g11_r WHERE rank <= 5
      ORDER BY item, rank"""))

  /** Exact oracle for g12: the HLL registers are a pure function of the
    * ball SET (per-index max of member rho values, order-free), so the
    * oracle computes the exact distance-≤r balls by unrolled relational
    * composition and derives the SAME registers + the q51 estimator —
    * bit-identical to the sketch-propagated Spark side. */
  private def g12Oracle(radius: Int): String =
    anfOracle(radius, s"""
      SELECT f.x AS node, cast(f.r AS INT) AS r, d.degree,
             round_even((CASE WHEN raw <= ${2.5 * graft.functions.expressions.HllDistinct.M} AND zeros > 0
               THEN ${graft.functions.expressions.HllDistinct.M} * ln(${graft.functions.expressions.HllDistinct.M}.0 / zeros) ELSE raw END) * 1000000.0, 0) / 1000000.0
               AS anf
      FROM g12_fin f JOIN g12_deg d USING (x)
      ORDER BY node, r""")

  /** Exact oracle for g13: the same exact-ball register derivation as
    * g12 (the hc sum is pure algebra over the 6-dp-quantized ball
    * estimates, replayed with the identical left-associated shape). */
  private def g13Oracle(radius: Int): String = {
    val M = graft.functions.expressions.HllDistinct.M
    val est =
      s"""round_even((CASE WHEN raw <= ${2.5 * M} AND zeros > 0
               THEN $M * ln($M.0 / zeros) ELSE raw END) * 1000000.0, 0) / 1000000.0"""
    def a(r: Int) = s"max(CASE WHEN r = $r THEN anf END)"
    val hc = (2 to radius).foldLeft(s"(${a(1)} - 1.0)") { (acc, r) =>
      s"$acc + (${a(r)} - ${a(r - 1)}) / $r.0"
    }
    anfOracle(radius, s"""
      , g13_anf AS (
        SELECT f.x AS node, f.r, d.degree, $est AS anf
        FROM g12_fin f JOIN g12_deg d USING (x))
      SELECT node, degree, ${a(radius)} AS reach, $hc AS hc
      FROM g13_anf GROUP BY 1, 2
      ORDER BY node""")
  }

  /** Shared CTE machinery for g12/g13: per-(node, radius) HLL registers
    * by PROPAGATION — regs_r(x, idx) = max(regs_{r-1}(y, idx)) over the
    * self-loop adjacency, exactly HyperBall's update — then the raw
    * estimator (ending at relations `g12_fin` (x, r, raw, zeros) and
    * `g12_deg`); `finalSelect` closes over them.
    *
    * Round 12: this replaced an exact-ball-materialization form (unroll
    * distance-≤r member sets, hash every member per (x, r)). The two
    * are BIT-IDENTICAL — a register is a per-index max of member rho
    * values, and max distributes over the ball union ball_r(x) =
    * ∪_{y∈b1(x)} ball_{r-1}(y) — but member-set row count is quadratic
    * in component size (the sf1 replay spilled >80 GB and died on
    * distance-3 balls of a densifying bipartite graph), while the
    * propagated form is O(radius · |edges| · M) like the Spark side. */
  private def anfOracle(radius: Int, finalSelect: String): String = {
    import graft.functions.expressions.HllDistinct
    import graft.functions.expressions.HllDistinct.{AlphaMM, M, RhoCap}
    val pw = (0 to RhoCap).map(k => (BigInt(1) << k).toString)
      .mkString("[", ",", "]::HUGEINT[]")
    val rhoCase = ((64 - HllDistinct.P - 1) to 0 by -1)
      .map(k => s"WHEN w >= ${(BigInt(1) << k).toString} THEN ${64 - HllDistinct.P - k}")
      .mkString("CASE ", " ", s" ELSE $RhoCap END")
    val pow2Cap = s"${(BigInt(1) << RhoCap).toString}"
    val props = (2 to radius).map(r =>
      s"""g12_p$r AS MATERIALIZED (
        SELECT b.x, p.idx, max(p.reg) AS reg
        FROM g12_b1 b JOIN g12_p${r - 1} p ON b.y = p.x
        GROUP BY 1, 2),""").mkString("\n")
    val regsUnion = (1 to radius).map(r =>
      s"SELECT $r AS r, x, idx, reg FROM g12_p$r").mkString(" UNION ALL ")
    s"""
      WITH g12_e AS (
        SELECT user_id AS src,
               (cast(json_extract_string(props, '$$.k') AS BIGINT) % 50) + 1000
                 AS dst
        FROM events),
      g12_u AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM g12_e
        WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
      g12_adj AS (
        SELECT a AS x, b AS y FROM g12_u
        UNION ALL SELECT b, a FROM g12_u),
      g12_deg AS (
        SELECT x, cast(count(*) AS BIGINT) AS degree FROM g12_adj GROUP BY 1),
      g12_b1 AS MATERIALIZED (
        SELECT DISTINCT x, y FROM (
          SELECT x, x AS y FROM g12_adj UNION ALL SELECT x, y FROM g12_adj)),
      g12_ny0 AS (
        SELECT y, (hu % $M)::INT AS idx, (hu // $M) AS w
        FROM (SELECT y, ${OracleSql.xxh64Long(OracleSql.s2u("y"))} AS hu
              FROM (SELECT DISTINCT y FROM g12_b1) t0) t1),
      g12_ny AS MATERIALIZED (
        SELECT y, idx, $rhoCase AS rho FROM g12_ny0),
      g12_p1 AS MATERIALIZED (
        SELECT b.x, n.idx, max(n.rho) AS reg
        FROM g12_b1 b JOIN g12_ny n USING (y) GROUP BY 1, 2),
      $props
      g12_regs AS ($regsUnion),
      g12_est AS (
        SELECT r, x,
               (sum(($pw)[${RhoCap + 1} - reg]) + ($M - count(*)) * $pow2Cap::HUGEINT) AS num,
               ($M - count(*)) AS zeros
        FROM g12_regs GROUP BY 1, 2),
      g12_fin AS (
        SELECT r, x, $AlphaMM * $pow2Cap.0 / num::DOUBLE AS raw, zeros
        FROM g12_est)
      $finalSelect"""
  }

  /** ANF / HyperBall neighborhood function
    * ([[graft.operators.Graph.anfProfile]]): per-node ball-size
    * estimates at radii 1..3 via propagated HLL register sketches —
    * the deeper-radius upgrade g10's exact reach documents (frontier
    * joins explode with r; register propagation is O(radius · E)
    * whatever the reach). Same bipartite fixture as g10, radius 3:
    * far enough that distance-3 balls span most of the component,
    * exactly where exact pair materialization stops scaling. */
  val g12_anf = QueryDef(
    "g12_anf",
    (s, dir) =>
      graft.operators.Graph
        .anfProfile(
          Tables(s, dir).events.select(
            col("user_id").as("src"),
            (get_json_object(col("props"), "$.k").cast("long") % 50 + 1000L)
              .as("dst")),
          "src", "dst", radius = 3)
        .orderBy(col("node"), col("r")),
    Some(g12Oracle(radius = 3)),
    bench = true)

  /** Harmonic centrality via HyperBall
    * ([[graft.operators.Graph.harmonicCentrality]]): the centrality
    * readout Boldi–Vigna built HyperBall FOR — each node scored by
    * Σ_r Δball_r / r over g12's propagated register sketches, radius 3
    * on the same bipartite fixture. Complements the spectral
    * centralities (g01 PageRank, g03 HITS) with the distance-based one
    * none of the frontier-exact operators can reach past radius 2. */
  val g13_harmonic = QueryDef(
    "g13_harmonic",
    (s, dir) =>
      graft.operators.Graph
        .harmonicCentrality(
          Tables(s, dir).events.select(
            col("user_id").as("src"),
            (get_json_object(col("props"), "$.k").cast("long") % 50 + 1000L)
              .as("dst")),
          "src", "dst", radius = 3)
        .orderBy(col("node")),
    Some(g13Oracle(radius = 3)))

  /** Exact oracle for g17: the g12 estimator per (node, r), quantized
    * to longs BEFORE summation (grid values sum associatively), then
    * the integer quantile rule over the ≤radius per-radius totals. */
  private def g17Oracle(radius: Int, qNum: Long, qDen: Long): String = {
    val M = graft.functions.expressions.HllDistinct.M
    val est =
      s"""round_even((CASE WHEN raw <= ${2.5 * M} AND zeros > 0
               THEN $M * ln($M.0 / zeros) ELSE raw END) * 1000000.0, 0) / 1000000.0"""
    anfOracle(radius, s"""
      , g17_anf AS (
        SELECT f.r, CAST(round(($est) * 1000000.0) AS BIGINT) AS aq
        FROM g12_fin f),
      g17_s AS (
        SELECT r, cast(sum(aq) AS BIGINT) AS s,
               cast(count(*) AS BIGINT) AS n
        FROM g17_anf GROUP BY 1),
      g17_f AS (SELECT s AS sr, n FROM g17_s WHERE r = $radius),
      g17_e AS (
        SELECT g17_s.r, g17_s.s FROM g17_s CROSS JOIN g17_f
        WHERE $qDen * g17_s.s >= $qNum * sr
        ORDER BY g17_s.r LIMIT 1)
      SELECT CAST(e.r AS INT) AS eff_radius,
             round(e.s::DOUBLE / nullif(f.sr::DOUBLE, 0.0), 6)
               AS reach_fraction,
             round(f.sr::DOUBLE / (f.n::DOUBLE * 1000000.0), 6) AS avg_ball
      FROM g17_e e CROSS JOIN g17_f f""")
  }

  /** Effective diameter ([[graft.operators.Graph.effectiveDiameter]]):
    * HyperBall's one-number connectivity summary over the same
    * bipartite fixture as g12/g13 — the smallest radius covering 90%
    * of the radius-3 ball mass. */
  val g17_effective_diameter = QueryDef(
    "g17_effective_diameter",
    (s, dir) =>
      graft.operators.Graph
        .effectiveDiameter(
          Tables(s, dir).events.select(
            col("user_id").as("src"),
            (get_json_object(col("props"), "$.k").cast("long") % 50 + 1000L)
              .as("dst")),
          "src", "dst", radius = 3),
    Some(g17Oracle(radius = 3, qNum = 90, qDen = 100)),
    bench = true)

  /** Degree assortativity ([[graft.operators.Graph
    * .degreeAssortativity]]) of the g09 co-engagement item graph: the
    * one-row hubs-link-to-hubs? readout (Newman 2002 r) that separates
    * organic social cores (r>0) from link-farm stars (r<0) before any
    * per-node centrality is spent. Exact decimal moments, one double
    * division, round(6). */
  val g14_assortativity = QueryDef(
    "g14_assortativity",
    (s, dir) =>
      graft.operators.Graph.degreeAssortativity(
        graft.operators.Graph.cooccurrenceEdges(
          Tables(s, dir).events.select(
            col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item")),
          "user_id", "item", maxPerUser = 64, minSupport = 3L),
        "item_a", "item_b"),
    Some("""
      WITH g14_ui AS (
        SELECT DISTINCT user_id AS u,
               cast(json_extract_string(props, '$.k') AS BIGINT) AS i
        FROM events),
      g14_nn AS (
        SELECT u, i FROM g14_ui WHERE u IS NOT NULL AND i IS NOT NULL),
      g14_cap AS (
        SELECT u, i FROM (
          SELECT u, i, row_number() OVER (PARTITION BY u ORDER BY i) AS rn
          FROM g14_nn) WHERE rn <= 64),
      g14_e AS (
        SELECT a.i AS ia, b.i AS ib
        FROM g14_cap a JOIN g14_cap b ON a.u = b.u AND a.i < b.i
        GROUP BY 1, 2 HAVING count(*) >= 3),
      g14_d AS (
        SELECT node, cast(count(*) AS HUGEINT) AS d
        FROM (SELECT ia AS node FROM g14_e
              UNION ALL SELECT ib FROM g14_e)
        GROUP BY 1),
      g14_ann AS (
        SELECT da.d AS da, db.d AS db
        FROM g14_e
        JOIN g14_d da ON da.node = g14_e.ia
        JOIN g14_d db ON db.node = g14_e.ib),
      g14_m AS (
        SELECT cast(count(*) AS BIGINT) AS m,
               sum(da * db) AS s1h,
               sum(da + db) AS s2,
               sum(da * da + db * db) AS s3
        FROM g14_ann),
      g14_n AS (SELECT cast(count(*) AS BIGINT) AS n FROM g14_d)
      SELECT n AS nodes, m AS edges,
             round(2.0 * m::DOUBLE / n::DOUBLE, 6) AS avg_degree,
             round((4 * m::HUGEINT * s1h - s2 * s2)::DOUBLE
               / nullif((2 * m::HUGEINT * s3 - s2 * s2)::DOUBLE, 0.0),
               6) AS assortativity
      FROM g14_n CROSS JOIN g14_m"""))

  /** Session co-occurrence ([[graft.operators.Graph
    * .sessionCooccurrenceEdges]]): item pairs engaged within one
    * 6-hour-gap session — the time-local co-browse graph g09's
    * lifetime window can't see. Lag-gap sessionization, per-session
    * cap 16, support ≥ 2; the oracle replays the identical windows. */
  val g15_session_coocc = QueryDef(
    "g15_session_coocc",
    (s, dir) =>
      graft.operators.Graph
        .sessionCooccurrenceEdges(
          Tables(s, dir).events.select(
            col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item"),
            col("ts")),
          "user_id", "item", "ts",
          gapMinutes = 360L, maxPerSession = 16, minSupport = 2L)
        .orderBy(col("item_a"), col("item_b")),
    Some("""
      WITH g15_e AS (
        SELECT user_id AS u,
               cast(json_extract_string(props, '$.k') AS BIGINT) AS i,
               epoch_us(ts) AS t
        FROM events
        WHERE user_id IS NOT NULL
          AND json_extract_string(props, '$.k') IS NOT NULL),
      g15_s AS (
        SELECT u, i, t,
               CASE WHEN lag(t) OVER (PARTITION BY u ORDER BY t, i) IS NULL
                      OR t - lag(t) OVER (PARTITION BY u ORDER BY t, i)
                         > 21600000000
                 THEN 1 ELSE 0 END AS nw
        FROM g15_e),
      g15_sid AS (
        SELECT u, i,
               cast(sum(nw) OVER (PARTITION BY u ORDER BY t, i
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        FROM g15_s),
      g15_d AS (SELECT DISTINCT u, sid, i FROM g15_sid),
      g15_c AS (
        SELECT u, sid, i FROM (
          SELECT u, sid, i, row_number() OVER (
            PARTITION BY u, sid ORDER BY i) AS rn
          FROM g15_d) WHERE rn <= 16)
      SELECT a.i AS item_a, b.i AS item_b,
             cast(count(*) AS BIGINT) AS weight
      FROM g15_c a JOIN g15_c b
        ON a.u = b.u AND a.sid = b.sid AND a.i < b.i
      GROUP BY 1, 2 HAVING count(*) >= 2
      ORDER BY item_a, item_b"""))

  /** Exact oracle for g16: the g09 co-engagement build, both
    * orientations with their counts, then the weighted quantized
    * PageRank rounds unrolled (symmetric graph ⇒ dangling mass is
    * identically zero, so a round is one weighted join-tally plus the
    * teleport update). */
  private def g16Oracle(
      iters: Int, scale: Long, num: Long, den: Long): String = {
    val teleport = (den - num) * scale / den
    val rounds = (1 to iters).map { i =>
      s"""
      g16_c$i AS (
        SELECT dst AS node, cast(sum(pr * w // sw) AS BIGINT) AS c
        FROM g16_ew JOIN g16_r${i - 1} ON g16_ew.src = g16_r${i - 1}.node
        GROUP BY 1),
      g16_r$i AS (
        SELECT g16_n.node,
               cast($teleport + ($num * coalesce(c, 0)) // $den AS BIGINT)
                 AS pr
        FROM g16_n LEFT JOIN g16_c$i USING (node))"""
    }.mkString(",")
    s"""
      WITH g16_ui AS (
        SELECT DISTINCT user_id AS u,
               cast(json_extract_string(props, '$$.k') AS BIGINT) AS i
        FROM events),
      g16_nn AS (
        SELECT u, i FROM g16_ui WHERE u IS NOT NULL AND i IS NOT NULL),
      g16_cap AS (
        SELECT u, i FROM (
          SELECT u, i, row_number() OVER (PARTITION BY u ORDER BY i) AS rn
          FROM g16_nn) WHERE rn <= 64),
      g16_und AS (
        SELECT a.i AS ia, b.i AS ib, cast(count(*) AS BIGINT) AS w
        FROM g16_cap a JOIN g16_cap b ON a.u = b.u AND a.i < b.i
        GROUP BY 1, 2 HAVING count(*) >= 3),
      g16_e AS MATERIALIZED (
        SELECT ia AS src, ib AS dst, w FROM g16_und
        UNION ALL SELECT ib, ia, w FROM g16_und),
      g16_n AS MATERIALIZED (SELECT DISTINCT src AS node FROM g16_e),
      g16_sw AS (
        SELECT src, cast(sum(w) AS BIGINT) AS sw FROM g16_e GROUP BY 1),
      g16_ew AS MATERIALIZED (
        SELECT g16_e.src, g16_e.dst, g16_e.w, sw
        FROM g16_e JOIN g16_sw USING (src)),
      g16_r0 AS (SELECT node, cast($scale AS BIGINT) AS pr FROM g16_n),
      $rounds
      SELECT node AS item, pr FROM g16_r$iters ORDER BY item"""
  }

  /** Weighted PageRank ([[graft.operators.Graph
    * .pagerankWeightedQuantized]]) over the co-engagement graph with
    * its co-occurrence counts as edge weights — item importance that
    * respects tie strength where g01's uniform split discards it.
    * Integer-exact rounds, unrolled oracle. */
  val g16_pagerank_weighted = QueryDef(
    "g16_pagerank_weighted",
    (s, dir) => {
      val und = graft.operators.Graph.cooccurrenceEdges(
        Tables(s, dir).events.select(
          col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item")),
        "user_id", "item", maxPerUser = 64, minSupport = 3L)
      val both = und
        .select(col("item_a").as("src"), col("item_b").as("dst"),
          col("weight"))
        .union(und.select(col("item_b").as("src"), col("item_a").as("dst"),
          col("weight")))
      graft.operators.Graph
        .pagerankWeightedQuantized(both, "src", "dst", "weight", iters = 3)
        .withColumnRenamed("node", "item")
        .orderBy(col("item"))
    },
    Some(g16Oracle(iters = 3, scale = 1000000L, num = 85, den = 100)),
    bench = true)

  /** ORACLE-TRUTH-ONLY face (bench = false since round 14): the edge
    * list is [[Similarity.bruteForceKnn]] — all-pairs, O(n^2) by
    * construction (the r13 sf1 envelope measured exponent 1.62). Kept
    * registered because the EXACT kNN graph is the ground truth the
    * approximate faces are judged against; the benched, scale-safe
    * face of the same [[graft.operators.Graph
    * .labelPropagationQuantized]] operator is [[g18_label_prop_lsh]],
    * whose edges come from constant-occupancy banded LSH. */
  val g04_label_propagation = QueryDef(
    "g04_label_propagation",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      // the all-pairs edge build is CPU-bound per corpus row; the test
      // parquet is one tiny file (one scan task), so spread it — a real
      // corpus arrives in thousands of splits and needs no repartition
      val knn = Similarity.bruteForceKnn(
        corpus = emb.repartition(s.sparkContext.defaultParallelism),
        queries = emb, idCol = "vec_id", vecCol = "embedding",
        k = 10)
      val edges = knn.select(
        col("query_id").as("src"), col("neighbor_id").as("dst"),
        greatest(lit(0L),
          round(col("cosine") * 1000000.0, 0).cast("long")).as("w"))
      graft.operators.Graph
        .labelPropagationQuantized(
          edges, "src", "dst", "w",
          seeds = emb.filter(col("vec_id") % 4 === 0),
          nodeCol = "vec_id", labelCol = "label", iters = 3)
        .withColumnRenamed("node", "vec_id")
        .orderBy(col("vec_id"))
    },
    Some(labelPropOracle(iters = 3)),
    bench = false)

  /** Exact oracle for g18: the auto-width LSH replay (d06's CTEs), the
    * verified pairs symmetrized into a weighted edge list, the node
    * universe = edge endpoints UNION seeds (exactly [[graft.operators
    * .Graph.labelPropagationQuantized]]'s contract — LSH-isolated
    * non-seed vectors are absent from the state), then the g04 vote
    * rounds unrolled. */
  private def g18Oracle(iters: Int): String = {
    val rounds = lpSeededRounds(iters)
    s"""
      WITH $lshAutoCtes,
      pr AS (
        SELECT id_a, id_b,
               round(list_cosine_similarity(va.e, vb.e), 6) AS cosine
        FROM cand JOIN v va ON cand.id_a = va.vec_id
                  JOIN v vb ON cand.id_b = vb.vec_id
        WHERE round(list_cosine_similarity(va.e, vb.e), 6) >= 0.35),
      e AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst,
               greatest(0, CAST(round(cosine * 1000000.0, 0) AS BIGINT)) AS w
        FROM pr
        UNION ALL
        SELECT id_b, id_a,
               greatest(0, CAST(round(cosine * 1000000.0, 0) AS BIGINT))
        FROM pr),
      nn AS (
        SELECT DISTINCT node FROM (
          SELECT src AS node FROM e
          UNION ALL SELECT dst FROM e
          UNION ALL SELECT vec_id FROM embeddings WHERE vec_id % 4 = 0)),
      l0 AS (
        SELECT nn.node, emb.vec_id % 4 = 0 AS sd,
               CASE WHEN emb.vec_id % 4 = 0
                    THEN CAST(emb.label AS BIGINT) END AS lab
        FROM nn JOIN embeddings emb ON nn.node = emb.vec_id),
      $rounds
      SELECT node AS vec_id, lab AS label FROM l$iters ORDER BY vec_id"""
  }

  /** The BENCHED, scale-safe face of auto-labeling (round 14, closing
    * the r13 g04 scale flag): [[graft.operators.Graph
    * .labelPropagationQuantized]] over a similarity graph built by
    * constant-occupancy banded LSH ([[Dedup.embeddingNearDupPairs]]
    * with [[Dedup.autoPlanes]]) instead of g04's O(n^2) exact kNN —
    * candidate pairs per row stay constant at every corpus size, so
    * the whole pipeline (signatures, bucket join, cosine verify, three
    * vote rounds) is linear in the corpus. Edges are the verified
    * pairs >= 0.35 cosine, symmetrized, weights 1e6-quantized; seeds =
    * every 4th vector's true label; the state universe is edge
    * endpoints + seeds (vectors the LSH isolates stay out — at 100 TB
    * you'd widen nTables, not densify buckets). Same operator,
    * different edge supplier — the composition contract g04's scaladoc
    * promises. */
  val g18_label_prop_lsh = QueryDef(
    "g18_label_prop_lsh",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val pairs = Dedup.embeddingNearDupPairs(
        emb, "vec_id", "embedding", dim = 64, threshold = 0.35,
        planesPerTable = Dedup.autoPlanes(emb.count()))
      def w(c: Column): Column =
        greatest(lit(0L), round(c * 1000000.0, 0).cast("long")).as("w")
      val edges = pairs
        .select(col("id_a").as("src"), col("id_b").as("dst"), w(col("cosine")))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"),
          w(col("cosine"))))
      graft.operators.Graph
        .labelPropagationQuantized(
          edges, "src", "dst", "w",
          seeds = emb.filter(col("vec_id") % 4 === 0),
          nodeCol = "vec_id", labelCol = "label", iters = 3)
        .withColumnRenamed("node", "vec_id")
        .orderBy(col("vec_id"))
    },
    Some(g18Oracle(iters = 3)),
    bench = true)

  /** Exact oracle for d10: DuckDB replays quantized k-means verbatim —
    * same 1e6 grid, integer distances via list_reduce, argmin with the
    * cluster-id tie-break, truncating-integer-mean update — with the
    * `iters` Lloyd iterations unrolled as CTE pairs (a_i, c_i). */
  private def kmeansCtes(k: Int, iters: Int, dims: Int): String = {
    def dist(q: String, c: String) =
      s"""list_reduce(list_transform(range($dims),
         __i -> ($q[__i + 1] - $c[__i + 1]) * ($q[__i + 1] - $c[__i + 1])),
         (__s, __t) -> __s + __t)"""
    def assignCte(name: String, cs: String) = s"""
      $name AS (
        SELECT vec_id, cluster, dist, q FROM (
          SELECT vec_id, cluster, dist, q, row_number() OVER (
                   PARTITION BY vec_id ORDER BY dist, cluster) AS rn
          FROM (SELECT qv.vec_id, $cs.cluster, ${dist("qv.q", s"$cs.c")} AS dist, qv.q
                FROM qv CROSS JOIN $cs))
        WHERE rn = 1)"""
    def updateCte(prevA: String, prevC: String, name: String) = s"""
      __u_$name AS (
        SELECT cluster, list(m ORDER BY pos) AS c FROM (
          SELECT cluster, pos,
                 CAST(trunc(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS m
          FROM (SELECT cluster, r.range + 1 AS pos, q[r.range + 1] AS v
                FROM $prevA CROSS JOIN range($dims) r)
          GROUP BY cluster, pos)
        GROUP BY cluster),
      $name AS (
        SELECT $prevC.cluster, coalesce(__u_$name.c, $prevC.c) AS c
        FROM $prevC LEFT JOIN __u_$name USING (cluster))"""
    val steps = (1 to iters).map { i =>
      assignCte(s"a$i", s"c${i - 1}") + "," + updateCte(s"a$i", s"c${i - 1}", s"c$i")
    }.mkString(",")
    s"""
      qv AS (
        SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
               __x -> CAST(round(__x * 1000000.0, 0) AS BIGINT)) AS q
        FROM embeddings),
      c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
               q AS c
        FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT $k)),
      $steps,
      ${assignCte("afinal", s"c$iters")}"""
  }

  private def d10Oracle(k: Int, iters: Int, dims: Int): String =
    s"""
      WITH ${kmeansCtes(k, iters, dims)}
      SELECT vec_id, cluster, dist FROM afinal ORDER BY vec_id"""

  /** Replays [[graft.operators.Clustering.semDedup]]: the d10 k-means CTE
    * chain, then within-cluster lower-id pairs cut at cosine >= tau with
    * the exact same arithmetic (integer dots, one double sqrt/divide). */
  private def d11Oracle(k: Int, iters: Int, dims: Int, tau: Double): String = {
    def dot(a: String, b: String) =
      s"""list_reduce(list_transform(range($dims),
         __i -> $a.q[__i + 1] * $b.q[__i + 1]), (__s, __t) -> __s + __t)"""
    s"""
      WITH ${kmeansCtes(k, iters, dims)},
      n AS (
        SELECT vec_id, cluster, q, ${dot("afinal", "afinal")} AS n2
        FROM afinal),
      pr AS (
        SELECT a.vec_id AS vid, min(b.vec_id) AS dup_of
        FROM n a JOIN n b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
        WHERE CAST(${dot("a", "b")} AS DOUBLE)
              / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) >= $tau
        GROUP BY a.vec_id)
      SELECT n.vec_id, n.cluster, pr.dup_of, pr.dup_of IS NOT NULL AS is_dup
      FROM n LEFT JOIN pr ON n.vec_id = pr.vid
      ORDER BY n.vec_id"""
  }

  /** Quantized k-means over the embedding table
    * ([[graft.operators.Clustering.kmeansQuantized]]): k=8, two Lloyd
    * iterations from the k-lowest-id seed. Every step is exact integer
    * arithmetic on the 1e-6 grid, so assignments are bit-identical
    * across engines, partitionings and runs — clustering as a
    * REPRODUCIBLE pipeline stage, not a best-effort estimate. */
  val d10_kmeans = QueryDef(
    "d10_kmeans",
    (s, dir) =>
      graft.operators.Clustering
        // fan = true (round 16): the per-round assignment pass re-reads
        // the vectors; widening measured −11/−24% paired in round 15
        .kmeansQuantized(Tables(s, dir).embeddings(fan = true),
          "vec_id", "embedding", k = 8, iters = 2)
        .orderBy(col("vec_id")),
    Some(d10Oracle(k = 8, iters = 2, dims = 64)),
    bench = true)

  /** SemDeDup ([[graft.operators.Clustering.semDedup]]): k-means buckets
    * then within-cluster cosine pruning at tau — the published
    * cluster-then-prune answer to quadratic semantic dedup. Lowest id of
    * each duplicate group survives; every arithmetic step is exact or
    * fixed-order IEEE, so the dup set is bit-identical cross-engine. */
  val d11_semdedup = QueryDef(
    "d11_semdedup",
    (s, dir) =>
      graft.operators.Clustering
        // fan = true (round 16): decided at sf1, where d11 was the
        // suite's 2nd-heaviest query and JobProfile showed its
        // quantize/assign and prune stages on TWO tasks. Paired sf1
        // reps=3: bare 11.21 s, fan 9.28, fan + the semDedup prune salt
        // 8.46 (−25%); costs ~+0.2 s at sf0.1 (extra exchanges at the
        // latency floor) — the r15 p26 trade, accepted for scale.
        .semDedup(Tables(s, dir).embeddings(fan = true),
          "vec_id", "embedding", k = 8, iters = 2, tau = 0.3)
        .orderBy(col("vec_id")),
    Some(d11Oracle(k = 8, iters = 2, dims = 64, tau = 0.3)),
    bench = true)

  /** Inverted-index build ([[graft.operators.Retrieval.invertedIndex]]):
    * per-term df/cf over the full corpus plus capped ascending-doc
    * postings — the retrieval-index construction step. The cap plans as
    * WindowGroupLimit (per-partition heaps keyed by term), so hot terms
    * never concentrate; full stats come from the uncapped keyed
    * aggregation. */
  val t16_inverted_index = QueryDef(
    "t16_inverted_index",
    (s, dir) =>
      graft.operators.Retrieval
        .invertedIndex(Tables(s, dir).documents, "doc_id", "text",
          minDf = 5L, maxPostings = 20)
        .orderBy(col("term")),
    Some("""
      WITH tf AS (
        SELECT term, doc_id, count(*) AS tf
        FROM (SELECT doc_id,
                     unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS term
              FROM documents)
        GROUP BY 1, 2),
      stats AS (
        SELECT term, count(*) AS df, cast(sum(tf) as bigint) AS cf
        FROM tf GROUP BY 1),
      capped AS (
        SELECT term, doc_id, tf,
               row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
        FROM tf),
      p AS (
        SELECT term,
               array_to_string(list(doc_id || ':' || tf ORDER BY doc_id), ',') AS postings
        FROM capped WHERE rn <= 20 GROUP BY term)
      SELECT term, df, cf, postings
      FROM stats JOIN p USING (term)
      WHERE df >= 5 ORDER BY term"""),
    bench = true)

  /** Vocabulary-driven BPE token counts — t05's missing half: pretokens
    * run through [[graft.operators.Bpe]]'s reference merge table, the
    * merge loop executing once per DISTINCT pretoken (vocabulary-sized)
    * with counts joined back. The oracle replays the identical merges
    * with a rank-stepping recursive CTE over the same distinct-pretoken
    * relation, so the hash compare pins the whole encoding. */
  val t17_bpe_merged = QueryDef(
    "t17_bpe_merged",
    (s, dir) =>
      graft.operators.Bpe
        .tokenCounts(Tables(s, dir).documents, "doc_id", "text")
        .orderBy(col("doc_id")),
    Some(s"""
      WITH RECURSIVE
      ${graft.operators.Bpe.countsSqlCtes()}
      SELECT doc_id, n_bpe_tokens FROM bpe_counts ORDER BY doc_id"""),
    bench = true)

  /** Fixed demonstration vocabulary for the WordPiece encoder (t32):
    * every lowercase letter in both word-initial and `##` continuation
    * form (full character coverage — no corpus token can go [UNK], so
    * the query exercises SEGMENTATION, while the spec exercises the
    * whole-word-[UNK] path with gap vocabularies) plus multi-character
    * pieces chosen to force longest-match decisions on the corpus's
    * vocabulary ("scan" beats "s|c|a|n"; "col ##umn" beats letters;
    * "que ##ry" vs the "q|u|e..." fallback). A production caller feeds
    * a learned/published vocabulary instead — the encoder is
    * vocabulary-agnostic. */
  private val wordpieceVocab: Seq[String] = {
    val letters = ('a' to 'z').map(_.toString)
    val multi = Seq(
      "scan", "col", "##umn", "win", "##dow", "ord", "##er", "so", "##rt",
      "pa", "##rt", "agg", "val", "##ue", "line", "key", "join", "mer",
      "##ge", "que", "##ry", "gro", "##up", "vec", "##tor", "hash",
      "slow", "str", "##eam", "fil", "##ter", "fast", "the", "spark",
      "bat", "##ch", "tab", "##le", "sma", "##ll", "data", "big", "cus",
      "##tom", "row")
    letters ++ letters.map("##" + _) ++ multi
  }

  /** WORDPIECE encoding census ([[graft.functions.expressions
    * .WordPieceOps]] — BERT's greedy longest-match per pretoken, the
    * third production tokenizer next to BPE's merge replay (t17/t20)
    * and unigram's Viterbi (t25–t27)): per document, pretoken count,
    * total piece count, [UNK] count, the first 12 pieces in order (the
    * segmentation hash-pin), and fertility. Scan-local: the encoder
    * runs inside whole-stage codegen per token; no shuffle beyond the
    * output ORDER BY. The oracle replays greedy longest-match as a
    * per-token fold over character positions with the same vocabulary
    * literal — every longest-match decision, continuation prefix, and
    * piece boundary must agree or the head/counts hash breaks. */
  val t32_wordpiece_encode = QueryDef(
    "t32_wordpiece_encode",
    (s, dir) => {
      import graft.functions.expressions.WordPieceOps
      val docs = Tables(s, dir).documents.filter(col("doc_id") % 7 === 0)
      docs
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(lower(col("text"))).as("__ts"))
        .filter(size(col("__ts")) > 0)
        .select(col("doc_id"), size(col("__ts")).cast("long").as("n_tokens"),
          flatten(transform(col("__ts"),
            t => WordPieceOps.wordpiecePieces(t, wordpieceVocab))).as("__ps"))
        .select(col("doc_id"), col("n_tokens"),
          size(col("__ps")).cast("long").as("n_pieces"),
          size(filter(col("__ps"), x => x === lit("[UNK]")))
            .cast("long").as("n_unk"),
          array_join(slice(col("__ps"), 1, 12), " ").as("head"),
          round(size(col("__ps")).cast("double") / col("n_tokens"), 6)
            .as("fertility"))
        .orderBy(col("doc_id"))
    },
    Some {
      val vocabLit = wordpieceVocab.map(p => s"'$p'").mkString("[", ",", "]")
      val maxLen = wordpieceVocab
        .map(p => if (p.startsWith("##")) p.length - 2 else p.length).max
      // Greedy longest-match replay as a RECURSIVE CTE stepping one
      // piece per iteration (the t17/t20 house style) — the natural
      // list_reduce fold is NOT usable: DuckDB 1.0.0 mis-binds
      // correlated outer columns inside list lambdas across rows of a
      // vector (verified: row N's fold reads row N-1's token), and
      // struct-typed accumulators collapse their list fields. Row-level
      // CASE/substr/list_contains in a recursive step have no lambdas
      // and evaluate correctly.
      def piece(l: Int): String =
        s"(CASE WHEN pos = 0 THEN '' ELSE '##' END || substr(tok, pos::INT + 1, $l))"
      val ml = "CASE " + (maxLen to 1 by -1).map { l =>
        s"WHEN pos + $l <= length(tok) AND list_contains($vocabLit::VARCHAR[], ${piece(l)}) THEN $l"
      }.mkString(" ") + " ELSE 0 END"
      s"""
      WITH RECURSIVE t32_b AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), __t -> __t <> '') AS ts
        FROM documents WHERE doc_id % 7 = 0),
      t32_tk AS (
        SELECT doc_id,
               cast(unnest(range(len(ts))) AS BIGINT) AS i,
               unnest(ts) AS tok
        FROM t32_b WHERE len(ts) > 0),
      t32_step AS (
        SELECT doc_id, i, tok,
               CASE WHEN length(tok) > 100 THEN length(tok)::BIGINT
                    ELSE 0::BIGINT END AS pos,
               CASE WHEN length(tok) > 100 THEN ['[UNK]']::VARCHAR[]
                    ELSE []::VARCHAR[] END AS ps,
               (length(tok) > 100) AS unk
        FROM t32_tk
        UNION ALL
        SELECT doc_id, i, tok,
               CASE WHEN ml = 0 THEN length(tok)::BIGINT ELSE pos + ml END AS pos,
               CASE WHEN ml = 0 THEN ['[UNK]']::VARCHAR[]
                    ELSE list_append(ps,
                      CASE WHEN pos = 0 THEN '' ELSE '##' END
                        || substr(tok, pos::INT + 1, ml::INT)) END AS ps,
               (ml = 0) AS unk
        FROM (SELECT doc_id, i, tok, pos, ps, $ml AS ml
              FROM t32_step WHERE pos < length(tok)) __s),
      t32_enc AS (
        SELECT doc_id, i, ps FROM t32_step WHERE pos >= length(tok)),
      t32_a AS (
        SELECT doc_id, cast(count(*) AS BIGINT) AS n_tokens,
               flatten(list(ps ORDER BY i)) AS allp
        FROM t32_enc GROUP BY doc_id)
      SELECT doc_id, n_tokens,
             len(allp)::BIGINT AS n_pieces,
             len(list_filter(allp, __x -> __x = '[UNK]'))::BIGINT AS n_unk,
             array_to_string(allp[1:12], ' ') AS head,
             round(len(allp) * 1.0 / n_tokens, 6) AS fertility
      FROM t32_a ORDER BY doc_id"""
    })

  /** Classifier evaluation at corpus scale ([[graft.operators.Scoring
    * .classifierMetrics]]): exact tie-aware ROC-AUC + thresholded
    * confusion metrics for a relevance scorer, in one histogram
    * aggregation. The scorer under test is a dual-encoder shape:
    * cosine against an anchor embedding (the lowest-id label-0
    * vector), positives = label 0 — "does embedding similarity to a
    * class exemplar retrieve that class?". The oracle replays the
    * quantized histogram and the Mann-Whitney numerator with window
    * prefix sums (integer arithmetic end-to-end; DuckDB's windows are
    * fine where its list-lambda folds are not — the t32 lesson). */
  val t33_eval_metrics = QueryDef(
    "t33_eval_metrics",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val anchor = emb.filter(col("label") === 0)
        .orderBy(col("vec_id")).limit(1)
        .select(col("embedding").as("__anchor"))
      val scored = emb
        .crossJoin(broadcast(anchor))
        .select(
          round(graft.functions.VectorFunctions
            .cosine(col("embedding"), col("__anchor")), 6).as("score"),
          (col("label") === 0).as("is_pos"))
      graft.operators.Scoring
        .classifierMetrics(scored, "score", "is_pos", threshold = 0.0)
    },
    Some("""
      WITH t33_a AS (
        SELECT CAST(embedding AS DOUBLE[]) AS av
        FROM embeddings WHERE label = 0 ORDER BY vec_id LIMIT 1),
      t33_sc AS (
        SELECT CAST(round(round(list_cosine_similarity(
                 CAST(embedding AS DOUBLE[]), av), 6) * 1000000.0, 0) AS BIGINT) AS qs,
               (label = 0) AS is_pos
        FROM embeddings CROSS JOIN t33_a),
      t33_h AS (
        SELECT qs,
               cast(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
               cast(sum(CASE WHEN is_pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
        FROM t33_sc GROUP BY qs),
      t33_w AS (
        SELECT qs, np, nn,
               cast(coalesce(sum(nn) OVER (ORDER BY qs
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS negbelow
        FROM t33_h),
      t33_t AS (
        SELECT cast(sum(np) AS BIGINT) AS p, cast(sum(nn) AS BIGINT) AS n,
               cast(sum(np * (2 * negbelow + nn)) AS BIGINT) AS numer2,
               cast(sum(CASE WHEN qs >= 0 THEN np ELSE 0 END) AS BIGINT) AS tp,
               cast(sum(CASE WHEN qs >= 0 THEN nn ELSE 0 END) AS BIGINT) AS fp
        FROM t33_w)
      SELECT p AS n_pos, n AS n_neg, tp, fp,
             p - tp AS fn, n - fp AS tn,
             CASE WHEN 2 * p * n = 0 THEN NULL
                  ELSE round(CAST(numer2 AS DOUBLE) / CAST(2 * p * n AS DOUBLE), 6)
             END AS auc,
             CASE WHEN tp + fp = 0 THEN NULL
                  ELSE round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
             END AS precision,
             CASE WHEN p = 0 THEN NULL
                  ELSE round(CAST(tp AS DOUBLE) / CAST(p AS DOUBLE), 6)
             END AS recall,
             CASE WHEN 2 * tp + fp + (p - tp) = 0 THEN NULL
                  ELSE round(CAST(2 * tp AS DOUBLE)
                             / CAST(2 * tp + fp + (p - tp) AS DOUBLE), 6)
             END AS f1,
             CASE WHEN p + n = 0 THEN NULL
                  ELSE round(CAST(tp + (n - fp) AS DOUBLE) / CAST(p + n AS DOUBLE), 6)
             END AS accuracy
      FROM t33_t"""))

  /** CCNet head/middle/tail buckets ([[graft.operators.TfIdf
    * .perplexityBuckets]], Wenzek et al. LREC 2020): per LANGUAGE,
    * split the corpus into quality terciles by the t12 unigram LM
    * score — the coarse label CCNet ships with every CommonCrawl
    * document and pretraining mixtures sample on. Value-threshold
    * cuts (ties share a bucket) on the 1e-6-quantized score; the
    * corpus pays one histogram aggregation and a broadcast join —
    * the tercile window runs over the (lang, score) histogram, never
    * the corpus. Oracle = t12's fixed-order fold CTEs + the same
    * integer threshold arithmetic. */
  val t34_ccnet_buckets = QueryDef(
    "t34_ccnet_buckets",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val scored = graft.operators.TfIdf
        .unigramLmScore(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      graft.operators.TfIdf
        .perplexityBuckets(scored, "doc_id", "lang", "lm_score")
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH t34_toks AS (
        SELECT doc_id, lang,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents),
      t34_tf AS (
        SELECT doc_id, lang, dl, term, cast(count(*) AS BIGINT) AS m
        FROM (SELECT doc_id, lang, cast(len(ts) AS BIGINT) AS dl,
                     unnest(ts) AS term
              FROM t34_toks)
        GROUP BY 1, 2, 3, 4),
      t34_cts AS (SELECT term, cast(sum(m) AS BIGINT) AS c FROM t34_tf GROUP BY 1),
      t34_tot AS (SELECT cast(sum(c) AS BIGINT) AS n FROM t34_cts),
      t34_contrib AS (
        SELECT tf.doc_id, tf.lang, tf.dl, tf.term,
               cast(tf.m AS DOUBLE) * ln(cast(c AS DOUBLE) / cast(n AS DOUBLE)) AS v
        FROM t34_tf tf JOIN t34_cts USING (term) CROSS JOIN t34_tot),
      t34_folded AS (
        SELECT doc_id, lang, dl, list(v ORDER BY term) AS vs
        FROM t34_contrib GROUP BY 1, 2, 3),
      t34_sc AS (
        SELECT doc_id, lang,
               round(list_reduce(list_prepend(0.0, vs), (s, t) -> s + t)
                     / cast(dl AS DOUBLE), 6) AS lm_score
        FROM t34_folded),
      t34_q AS (
        SELECT doc_id, lang, lm_score,
               CAST(round(lm_score * 1000000.0, 0) AS BIGINT) AS qs
        FROM t34_sc),
      t34_h AS (SELECT lang, qs, cast(count(*) AS BIGINT) AS c FROM t34_q GROUP BY 1, 2),
      t34_w AS (
        SELECT lang, qs, c,
               cast(sum(c) OVER (PARTITION BY lang ORDER BY qs DESC) AS BIGINT) AS cum
        FROM t34_h),
      t34_n AS (SELECT lang, cast(sum(c) AS BIGINT) AS nl FROM t34_h GROUP BY 1),
      t34_cuts AS (
        SELECT w.lang,
               max(CASE WHEN cum >= (nl + 2) // 3 THEN qs END) AS c1,
               max(CASE WHEN cum >= (2 * nl + 2) // 3 THEN qs END) AS c2
        FROM t34_w w JOIN t34_n USING (lang) GROUP BY 1)
      SELECT q.doc_id, q.lang, q.lm_score,
             CASE WHEN qs >= c1 THEN 'head'
                  WHEN qs >= c2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM t34_q q JOIN t34_cuts USING (lang)
      ORDER BY doc_id"""))

  /** MATERIALIZED tokenization — the token SEQUENCES t17 only counts:
    * one row per (doc, pretoken position, subword position), the
    * exploded form a shard writer or [[graft.operators.Packing]]
    * consumer ingests. Plan shape: ONE corpus scan, two generators
    * in-scan ([[graft.functions.expressions.BpeEncodeTokens]] runs the
    * validated merge loop per pretoken occurrence inside whole-stage
    * codegen), zero shuffles beyond the oracle-mandated ORDER BY — at
    * 100 TB this is a pure scan-and-expand pass. The oracle reuses
    * t17's rank-stepping recursive CTE for the per-pretoken encoding
    * and zips positions with DuckDB's aligned unnests. */
  val t20_bpe_encode = QueryDef(
    "t20_bpe_encode",
    (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"),
          posexplode(bpeTokens(col("text"))).as(Seq("pt_pos", "__pt")))
        .select(col("doc_id"), col("pt_pos"),
          posexplode(graft.functions.expressions.BpeOps
            .bpeEncode(col("__pt"), graft.operators.Bpe.referenceMerges))
            .as(Seq("tok_pos", "token")))
        .orderBy(col("doc_id"), col("pt_pos"), col("tok_pos")),
    Some(s"""
      WITH RECURSIVE
      ${graft.operators.Bpe.countsSqlCtes()},
      t20_doc_pts AS (
        SELECT doc_id,
               regexp_extract_all(text, $$$$${bpePattern}$$$$) AS pts
        FROM documents),
      t20_doc_pt AS (
        SELECT doc_id,
               cast(unnest(range(len(pts))) AS int) AS pt_pos,
               unnest(pts) AS pt
        FROM t20_doc_pts),
      t20_enc AS (
        SELECT pt, syms FROM bpe_enc
        WHERE r = ${graft.operators.Bpe.referenceMerges.length})
      SELECT doc_id, pt_pos,
             cast(unnest(range(len(syms))) AS int) AS tok_pos,
             unnest(syms) AS token
      FROM t20_doc_pt JOIN t20_enc USING (pt)
      ORDER BY doc_id, pt_pos, tok_pos"""),
    bench = true)

  /** Deterministic training corpus for t18 (small enough to embed as a
    * VALUES relation in the oracle, rich enough that 12 learned merges
    * are non-trivial). */
  private val bpeLearnFixture: Seq[(Long, String)] = Seq(
    1L -> "the cat sat on the mat and the cat ate",
    2L -> "that cat is the best cat in the land",
    3L -> "rats and cats chat in the shed",
    4L -> "the rat sat where the cat sat",
    5L -> "a hat and a mat and a bat",
    6L -> "the bat sat on that hat",
    7L -> "cats chase rats and rats chase cats",
    8L -> "the chat in the shed is the best chat")

  /** END-TO-END oracle for BPE TRAINING: the Spark side LEARNS 12
    * merges from the fixture corpus with the distributed trainer and
    * applies them; the oracle's expected merge table is derived at
    * oracle-build time by the pure-Scala sequential twin
    * ([[graft.functions.expressions.BpeOps.learnMergesLocal]], the
    * published algorithm) and replayed through the same rank-stepping
    * encode CTE over the fixture embedded as VALUES. Any regression in
    * the distributed learner — pair counting, argmax tie order,
    * merge-pass semantics, round sequencing — changes the learned
    * table, changes the applied counts, and breaks the hash. */
  val t18_bpe_learned = QueryDef(
    "t18_bpe_learned",
    (s, _) => {
      import s.implicits._
      val docs = bpeLearnFixture.toDF("doc_id", "text")
      val learned = graft.operators.Bpe
        .learnMerges(docs, "doc_id", "text", numMerges = 12)
      graft.operators.Bpe
        .tokenCounts(docs, "doc_id", "text", learned)
        .orderBy(col("doc_id"))
    },
    Some {
      val pat = java.util.regex.Pattern
        .compile(graft.functions.TextFunctions.bpePattern)
      val counts = scala.collection.mutable.Map[String, Long]()
      bpeLearnFixture.foreach { case (_, text) =>
        val m = pat.matcher(text)
        while (m.find())
          counts.updateWith(m.group())(c => Some(c.getOrElse(0L) + 1L))
      }
      val expected = graft.functions.expressions.BpeOps
        .learnMergesLocal(counts.toMap, numMerges = 12)
      val fixtureValues = bpeLearnFixture
        .map { case (id, t) => s"($id, '${t.replace("'", "''")}')" }
        .mkString(", ")
      s"""
      WITH RECURSIVE
      bpe_fixture(doc_id, text) AS (VALUES $fixtureValues),
      ${graft.operators.Bpe.countsSqlCtes(expected, docsRelation = "bpe_fixture")}
      SELECT doc_id, n_bpe_tokens FROM bpe_counts ORDER BY doc_id"""
    })

  /** Corpus-learned-vocabulary hyper-parameters (t19, p02): 48 merges
    * in batches of 8 from the top-64 candidates per round (6 counting
    * rounds). 48 stays safely below the ~130-merge exhaustion point of
    * the driver's ~40-word synthetic vocabulary at every sf. */
  private val t19NumMerges = 48
  private val t19BatchSize = 8
  private val t19CandidateLimit = 64

  /** Stashed by the runs that learn from the corpus (t19, p02); read by
    * their lazy oracles (Verify dumps oracle SQL after all runs, same
    * JVM, session still open). */
  @volatile private var bpeCtx
      : Option[(org.apache.spark.sql.SparkSession, String)] = None

  /** Fitted probe weights per sf dir, stashed for t22's lazy oracle.
    * The run REFITS every invocation (training is part of what t22
    * benches, like t19); weights are a pure function of the data, so
    * every refit stashes the identical artifact. */
  private val probeWeightsCache =
    scala.collection.concurrent.TrieMap[String, Array[String]]()
  @volatile private var probeDir: Option[String] = None
  private def probeWeights(
      s: org.apache.spark.sql.SparkSession, dir: String): Array[String] = {
    val w = graft.operators.Scoring.fitRidgeProbe(
      Tables(s, dir).documents, "text",
      label = tokenCount(col("text")), dim = 16, lambda = 1L)
    probeWeightsCache.update(dir, w)
    w
  }

  /** Distilled linear probe, trained and applied in-pipeline
    * ([[graft.operators.Scoring.fitRidgeProbe]]/[[graft.operators
    * .Scoring.probeScore]]): ONE exact-integer aggregation pass builds
    * the normal equations over 16 hashed bag-of-words count features,
    * the driver solves them in exact BigInt rationals (λ=1 ridge, no
    * float elimination — weights identical on every run and cluster),
    * and scoring is a zero-shuffle projection. Label here is the token
    * count (any long-quantized judge score slots in unchanged — the
    * mechanics are label-independent). The oracle cannot be static —
    * it embeds the fitted weights — so it is derived lazily: DuckDB
    * independently replays features (same xxhash64 bucket emulation),
    * label, and the exact decimal-domain prediction fold under the stashed
    * decimal weights; any training-side divergence (a wrong sum, a
    * solver defect, nondeterministic weights) breaks the hash. */
  val t22_linear_probe = QueryDef(
    "t22_linear_probe",
    (s, dir) => {
      probeDir = Some(dir)
      val docs = Tables(s, dir).documents
      graft.operators.Scoring
        .probeScore(docs, "doc_id", "text", probeWeights(s, dir),
          label = tokenCount(col("text")))
        .orderBy(col("doc_id"))
    },
    None,
    bench = true,
    oracleFn = Some { () =>
      // no stash = t22 filtered out of this Verify invocation; emit a
      // syntactically valid zero-weight placeholder (never compared —
      // the driver always runs the full set, which stashes first)
      val w = probeDir.flatMap(probeWeightsCache.get)
        .getOrElse(Array.fill(17)("0.0"))
      val dim = w.length - 1
      val counts = (0 until dim)
        .map(b => s"cast(len(list_filter(bs, __x -> __x = $b)) AS BIGINT) AS c$b")
        .mkString(",\n               ")
      // Decimal-domain fold, mirroring probeScore: bare weight literals
      // are exact DECIMAL(10,9) in DuckDB, counts narrowed to
      // decimal(6,0) so the add chain stays under DuckDB's 38-digit cap
      // (wider chains silently promote to DOUBLE, whose round-at-6dp is
      // engine-divergent — the round-15 sf1 sweep finding).
      val fold = (0 until dim)
        .map(b => s"+ ${w(b)} * cast(c$b as decimal(6,0))").mkString(" ")
      s"""
      WITH t22_tok AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), __t -> __t <> '') AS ts
        FROM documents),
      t22_b AS (
        SELECT doc_id, cast(len(ts) AS BIGINT) AS label,
               list_transform(ts,
                 __t -> cast((${OracleSql.xxh64Ascii("__t")}) % $dim AS BIGINT)) AS bs
        FROM t22_tok),
      t22_c AS (
        SELECT doc_id, label,
               $counts
        FROM t22_b)
      SELECT doc_id, label,
             cast(round(${w(dim)} $fold, 6) as double) AS pred
      FROM t22_c ORDER BY doc_id"""
    })

  /** Distributed batch-greedy learning over the sf dir's documents,
    * cached per dir — the "learn ONCE, count/budget many" production
    * shape for pipeline consumers (p02). t19 deliberately bypasses this
    * cache: learning is the thing it benches. */
  private val learnedVocabCache =
    scala.collection.concurrent.TrieMap[String, Seq[(String, String)]]()
  private def corpusLearnedVocab(
      s: org.apache.spark.sql.SparkSession, dir: String): Seq[(String, String)] =
    learnedVocabCache.getOrElseUpdate(dir,
      graft.operators.Bpe.learnMerges(
        Tables(s, dir).documents, "doc_id", "text", numMerges = t19NumMerges,
        batchSize = t19BatchSize, candidateLimit = t19CandidateLimit))

  /** Oracle-side EXPECTED learned table: pretoken counts from one
    * vocabulary-sized aggregation, trained by the pure-Scala sequential
    * twin — independent of the distributed learner, so a divergence
    * breaks the hash compare. Empty when no learning run happened
    * (yields character counts: a LOUD mismatch, never a silently-absent
    * oracle). */
  private val twinVocabCache =
    scala.collection.concurrent.TrieMap[String, Seq[(String, String)]]()
  private def twinLearnedVocab(): Seq[(String, String)] = bpeCtx match {
    case Some((s, dir)) =>
      twinVocabCache.getOrElseUpdate(dir, {
        val counts = Tables(s, dir).documents
          .select(explode(
            graft.functions.TextFunctions.bpeTokens(col("text"))).as("pt"))
          .groupBy(col("pt")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        graft.functions.expressions.BpeOps.learnMergesLocal(
          counts, numMerges = t19NumMerges,
          batchSize = t19BatchSize, candidateLimit = t19CandidateLimit)
      })
    case None => Seq.empty
  }

  /** BPE training AT CORPUS SCALE, end-to-end (the round-6 verdict's
    * "learned-vocab composition" ask): batch-greedy [[Bpe.learnMerges]]
    * over the ACTUAL documents table of the target sf dir, learned
    * table fed straight to [[Bpe.tokenCounts]]. The oracle cannot be a
    * static string — it embeds the learned VALUES — so it is derived
    * lazily after the run: pretoken counts come from one vocabulary-
    * sized aggregation, the EXPECTED table from the pure-Scala
    * sequential twin ([[graft.functions.expressions.BpeOps
    * .learnMergesLocal]], identically parameterized), and DuckDB
    * replays counting via the rank-stepping encode CTE. Any divergence
    * in the distributed batched learner — pair counts, batch
    * selection, tie order, merge-pass semantics — changes the learned
    * table and breaks the hash compare. The twin's driver-side collect
    * is oracle-build machinery only; the benched path is the
    * distributed learner + count plan. */
  val t19_bpe_learned_corpus = QueryDef(
    "t19_bpe_learned_corpus",
    (s, dir) => {
      bpeCtx = Some((s, dir))
      val docs = Tables(s, dir).documents
      val learned = graft.operators.Bpe.learnMerges(
        docs, "doc_id", "text", numMerges = t19NumMerges,
        batchSize = t19BatchSize, candidateLimit = t19CandidateLimit)
      graft.operators.Bpe
        .tokenCounts(docs, "doc_id", "text", learned)
        .orderBy(col("doc_id"))
    },
    None,
    bench = true,
    oracleFn = Some { () =>
      s"""
      WITH RECURSIVE
      ${graft.operators.Bpe.countsSqlCtes(twinLearnedVocab())}
      SELECT doc_id, n_bpe_tokens FROM bpe_counts ORDER BY doc_id"""
    })

  /** DSIR importance resampling ([[graft.operators.Dsir]], Xie et al.
    * NeurIPS 2023): select the 100 raw documents whose hashed-bigram
    * distribution is most target-like, target = the English slice of
    * the corpus. The oracle replays the exact hashed counts, the
    * frozen fixed-point log-ratio table (both engines round through
    * away-from-zero HALF_UP), and the integer weight sums — see the
    * operator doc for why every step is bit-stable. */
  val p13_dsir = QueryDef(
    "p13_dsir",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      graft.operators.Dsir
        .importanceWeights(
          raw = docs, target = docs.filter(col("lang") === "en"),
          idCol = "doc_id", textCol = "text")
        .orderBy(col("weight").desc, col("doc_id"))
        .limit(100)
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, lang,
               list_filter(string_split(lower(text), ' '), __t -> __t <> '') AS ts
        FROM documents),
      gr AS (
        SELECT doc_id, lang,
               unnest(list_transform(range(len(ts) - 1),
                 __i -> ts[__i+1] || ' ' || ts[__i+2])) AS g
        FROM tok WHERE len(ts) >= 2),
      gb AS (
        SELECT doc_id, lang,
               ((${OracleSql.u2s(OracleSql.xxh64Ascii("g"))} % 256) + 256) % 256 AS b
        FROM gr),
      cnt AS (
        SELECT b, cast(count(*) AS BIGINT) AS craw,
               cast(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS ctgt
        FROM gb GROUP BY b),
      bb AS (SELECT unnest(range(256)) AS b),
      c2 AS (
        SELECT bb.b AS b, coalesce(craw, 0) AS craw, coalesce(ctgt, 0) AS ctgt
        FROM bb LEFT JOIN cnt ON bb.b = cnt.b),
      tot AS (
        SELECT cast(sum(craw) AS BIGINT) AS traw,
               cast(sum(ctgt) AS BIGINT) AS ttgt FROM c2),
      lam AS (
        SELECT b,
               cast(round(ln(cast((ctgt + 1) * (traw + 256) AS DOUBLE)
                             / cast((craw + 1) * (ttgt + 256) AS DOUBLE))
                          * 1000000) AS BIGINT) AS lam
        FROM c2 CROSS JOIN tot),
      sc AS (
        SELECT doc_id, cast(count(*) AS BIGINT) AS n_bigrams,
               cast(sum(lam) AS BIGINT) AS wfix
        FROM gb JOIN lam USING (b) GROUP BY doc_id)
      SELECT d.doc_id,
             coalesce(n_bigrams, 0) AS n_bigrams,
             cast(coalesce(wfix, 0) AS DOUBLE) / 1000000.0 AS weight
      FROM documents d LEFT JOIN sc USING (doc_id)
      ORDER BY coalesce(wfix, 0) DESC, d.doc_id
      LIMIT 100"""),
    bench = true)

  /** Deterministic epoch shuffle into training shards
    * ([[graft.operators.Sampling.shuffleShards]]): every document gets
    * a shard and a dense position, the permutation a pure function of
    * (doc_id, seed). The oracle replays Spark's CHAINED two-column
    * xxhash64 — h = XXH64(seed_literal, XXH64(doc_id, 42)) — then the
    * same (hash, id) rank within each shard. */
  val p14_shuffle_shards = QueryDef(
    "p14_shuffle_shards",
    (s, dir) =>
      graft.operators.Sampling
        .shuffleShards(
          Tables(s, dir).documents.select(col("doc_id"), col("n_chars")),
          "doc_id", nShards = 8)
        .select(col("doc_id"), col("n_chars"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos")),
    Some(s"""
      WITH h AS (
        SELECT doc_id, n_chars,
               ${OracleSql.u2s(OracleSql.xxh64Long("42",
                 seed = OracleSql.xxh64Long(OracleSql.s2u("doc_id"))))} AS hv
        FROM documents),
      sh AS (
        SELECT doc_id, n_chars, cast(((hv % 8) + 8) % 8 AS BIGINT) AS shard,
               row_number() OVER (
                 PARTITION BY ((hv % 8) + 8) % 8
                 ORDER BY hv, doc_id) AS pos
        FROM h)
      SELECT doc_id, n_chars, shard, pos
      FROM sh ORDER BY shard, pos"""))

  /** Curriculum schedule ([[graft.operators.Sampling
    * .curriculumShards]]): the corpus staged easy→hard by document
    * length (the classic length curriculum) into 4 stages with value-
    * threshold cuts over the length histogram, hash-shuffled into 8
    * shards within each stage. The oracle replays the integer cut
    * arithmetic and the chained-xxhash64 shuffle order exactly. */
  val p34_curriculum = QueryDef(
    "p34_curriculum",
    (s, dir) =>
      graft.operators.Sampling
        .curriculumShards(
          Tables(s, dir).documents.select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", stages = 4, nShards = 8)
        .select(col("doc_id"), col("n_chars"), col("stage"),
          col("shard"), col("pos"))
        .orderBy(col("stage"), col("shard"), col("pos")),
    Some(s"""
      WITH p34_h AS (
        SELECT doc_id, n_chars,
               ${OracleSql.u2s(OracleSql.xxh64Long("42",
                 seed = OracleSql.xxh64Long(OracleSql.s2u("doc_id"))))} AS hv
        FROM documents),
      p34_g AS (
        SELECT n_chars AS d, count(*) AS c FROM documents GROUP BY 1),
      p34_c AS (
        SELECT d, sum(c) OVER (ORDER BY d) AS cum, sum(c) OVER () AS n
        FROM p34_g),
      p34_k AS (
        SELECT min(CASE WHEN cum >= (1 * n + 3) // 4 THEN d END) AS cut1,
               min(CASE WHEN cum >= (2 * n + 3) // 4 THEN d END) AS cut2,
               min(CASE WHEN cum >= (3 * n + 3) // 4 THEN d END) AS cut3
        FROM p34_c),
      p34_s AS (
        SELECT h.doc_id, h.n_chars,
               ((CASE WHEN h.n_chars > k.cut1 THEN 1 ELSE 0 END)
                + (CASE WHEN h.n_chars > k.cut2 THEN 1 ELSE 0 END)
                + (CASE WHEN h.n_chars > k.cut3 THEN 1 ELSE 0 END)) AS stg,
               ((hv % 8) + 8) % 8 AS shard, hv
        FROM p34_h h CROSS JOIN p34_k k)
      SELECT doc_id, n_chars, cast(stg AS INT) AS stage,
             cast(shard AS BIGINT) AS shard,
             row_number() OVER (PARTITION BY stg, shard
                                ORDER BY hv, doc_id) AS pos
      FROM p34_s ORDER BY stage, shard, pos"""))

  /** Token-balanced shards ([[graft.operators.Sampling
    * .balancedShards]]): cut the hash-shuffled corpus into shards of
    * ~16384 chars each — equal WORK per shard, not equal document
    * counts; documents never split (shard mass = target ± one doc).
    * The oracle replays the chained xxhash64 shuffle order and the
    * exclusive running sum the distributed prefix sum computes. */
  val p31_balanced_shards = QueryDef(
    "p31_balanced_shards",
    (s, dir) =>
      graft.operators.Sampling
        .balancedShards(
          Tables(s, dir).documents.select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", targetWeight = 16384L)
        .orderBy(col("shard"), col("pos")),
    Some(s"""
      WITH p31_h AS (
        SELECT doc_id, n_chars,
               ${OracleSql.u2s(OracleSql.xxh64Long("42",
                 seed = OracleSql.xxh64Long(OracleSql.s2u("doc_id"))))} AS hv
        FROM documents),
      p31_o AS (
        SELECT doc_id, n_chars,
               cast(coalesce(sum(n_chars) OVER (ORDER BY hv, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS goff,
               hv
        FROM p31_h)
      SELECT doc_id, n_chars, goff AS global_offset,
             goff // 16384 AS shard,
             cast(row_number() OVER (PARTITION BY goff // 16384
               ORDER BY hv, doc_id) AS BIGINT) AS pos
      FROM p31_o ORDER BY shard, pos"""))

  /** Per-eval-document contamination verdict
    * ([[Dedup.contaminationReport]]): the GPT-3-appendix report — what
    * fraction of each held-out document's distinct 3-shingles occurs
    * anywhere in the training split, flagged at 50%. Same train/eval
    * split and shingle/hash replay as d09; the flag compares scaled
    * integers, so the cutoff is exact. */
  val d14_contamination = QueryDef(
    "d14_contamination",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      Dedup
        .contaminationReport(
          train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          eval = docs.filter(pmod(col("doc_id"), lit(10)) === 0),
          idCol = "doc_id", textCol = "text",
          shingleSize = 3, threshold = 0.5)
        .orderBy(col("eval_id"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), __t -> __t <> '') AS ts
        FROM documents WHERE trim(text) <> ''),
      sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(ts) <= 3 THEN [array_to_string(ts, ' ')]
                 ELSE list_transform(range(len(ts) - 2),
                        __i -> ts[__i+1] || ' ' || ts[__i+2] || ' ' || ts[__i+3]) END) AS sset
        FROM toks),
      g AS (SELECT doc_id, unnest(sset) AS s FROM sh),
      hb AS (SELECT s, ${OracleSql.u2s(OracleSql.xxh64Ascii("s"))} AS h
             FROM (SELECT DISTINCT s FROM g)),
      gh AS (SELECT doc_id, h FROM g JOIN hb USING (s)),
      tr AS (SELECT DISTINCT h FROM gh WHERE doc_id % 10 <> 0),
      ev AS (SELECT doc_id AS eval_id, h FROM gh WHERE doc_id % 10 = 0),
      agg AS (
        SELECT eval_id,
               cast(count(*) AS BIGINT) AS n_shingles,
               cast(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
        FROM ev LEFT JOIN tr ON ev.h = tr.h
        GROUP BY eval_id)
      SELECT eval_id, n_shingles, n_seen,
             round(cast(n_seen AS DOUBLE) / n_shingles, 6) AS overlap_frac,
             n_seen * 1000000 >= 500000 * n_shingles AS contaminated
      FROM agg ORDER BY eval_id"""),
    bench = true)

  /** Exact oracle for d15: the d03 minhash replay extended with a
    * (bands, offset, rows) configuration table, plus the exact
    * shingle-Jaccard truth set computed by the shingle-sharing
    * inverted-index join (a pair with J >= tau shares >= 1 shingle, so
    * the join loses nothing). */
  private val d15Oracle: String = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val M = BigInt(1) << 64
    val seeds = (0 until 64)
      .map(i => (BigInt(XXH64.hashLong(42L + i, 42L)) + M) % M)
      .mkString("[", ",", "]::HUGEINT[]")
    val mins = (0 until 64).map(j => s"min(gl[${j + 1}]) AS g$j").mkString(", ")
    val sigList = (0 until 64).map(j => s"g$j").mkString("list_value(", ", ", ")")
    val cfgRows = Seq(4, 8, 16).flatMap { b =>
      val r = 64 / b
      (0 until b).map(i => s"($b, ${i * r + 1}, $r)")
    }.mkString(", ")
    s"""
      WITH base AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), __t -> __t <> '') AS toks
        FROM documents WHERE trim(text) <> ''),
      sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
                 ELSE list_transform(range(len(toks) - 2),
                        __i -> toks[__i+1] || ' ' || toks[__i+2] || ' ' || toks[__i+3]) END) AS sset
        FROM base),
      ds AS (SELECT doc_id, unnest(sset) AS s FROM sh),
      lens AS (SELECT doc_id, len(sset) AS n FROM sh),
      truth AS (
        SELECT p.id_a, p.id_b FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
          FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2) p
        JOIN lens la ON p.id_a = la.doc_id
        JOIN lens lb ON p.id_b = lb.doc_id
        WHERE round(i * 1.0 / (la.n + lb.n - i), 6) >= 0.4),
      tc AS (SELECT count(*) AS true_pairs FROM truth),
      sb AS (SELECT s, ${OracleSql.xxh64Ascii("s")} AS hb
             FROM (SELECT DISTINCT s FROM ds)),
      sigl AS (
        SELECT ds.doc_id,
               list_transform($seeds, __sk -> ${OracleSql.u2s(OracleSql.xxh64Long("hb", "__sk"))}) AS gl
        FROM ds JOIN sb USING (s)),
      sigs AS (SELECT doc_id, $mins FROM sigl GROUP BY doc_id),
      sigarr AS (SELECT doc_id, $sigList AS sig FROM sigs),
      cfg AS (SELECT * FROM (VALUES $cfgRows) c(nb, o, r)),
      banded AS (
        SELECT doc_id, cfg.nb, cfg.o,
               ${OracleSql.xxh64Ascii("array_to_string(list_slice(sig, cfg.o, cfg.o + cfg.r - 1), ',')")} AS bh
        FROM sigarr CROSS JOIN cfg
        QUALIFY row_number() OVER (PARTITION BY cfg.nb, cfg.o, bh ORDER BY doc_id) <= 1000),
      cand AS (
        SELECT DISTINCT a.nb, a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.nb = b.nb AND a.o = b.o AND a.bh = b.bh AND a.doc_id < b.doc_id),
      found AS (
        SELECT c.nb,
               count(*) AS candidate_pairs,
               count(t.id_a) AS found_pairs
        FROM cand c
        LEFT JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b
        GROUP BY 1),
      budgets AS (SELECT unnest([4, 8, 16]) AS bands)
      SELECT b.bands,
             CAST(64 / b.bands AS INTEGER) AS rows_per_band,
             tc.true_pairs,
             coalesce(f.candidate_pairs, 0) AS candidate_pairs,
             coalesce(f.found_pairs, 0) AS found_pairs,
             round(coalesce(f.found_pairs, 0)::DOUBLE / tc.true_pairs, 6) AS recall,
             CASE WHEN coalesce(f.candidate_pairs, 0) = 0 THEN NULL
                  ELSE round(coalesce(f.found_pairs, 0)::DOUBLE
                             / f.candidate_pairs, 6) END AS precision
      FROM budgets b CROSS JOIN tc
      LEFT JOIN found f ON b.bands = f.nb
      ORDER BY b.bands"""
  }

  /** The LSH S-curve measured on the corpus ([[Dedup.lshRecallCurve]]):
    * recall of banded-MinHash candidates against the exact >= 0.4
    * shingle-Jaccard pair set, at 4/8/16 bands over 64 hashes — one
    * signature pass serves all three budgets. */
  val d15_lsh_recall = QueryDef(
    "d15_lsh_recall",
    (s, dir) =>
      Dedup
        .lshRecallCurve(
          Tables(s, dir).documents, "doc_id", "text",
          shingleSize = 3, numHashes = 64,
          bandCounts = Seq(4, 8, 16), tau = 0.4)
        .orderBy(col("bands")),
    Some(d15Oracle),
    bench = true)

  /** Duplicated-substring span profile ([[Dedup.duplicatedSpans]]):
    * stride-1 8-token windows, exact corpus-wide repeat detection,
    * overlapping repeats merged into maximal per-document spans — the
    * Lee-et-al substring-dedup signal at rolling-window granularity
    * (d08 is the disjoint-chunk variant). */
  val d16_dup_spans = QueryDef(
    "d16_dup_spans",
    (s, dir) =>
      Dedup
        .duplicatedSpans(Tables(s, dir).documents, "doc_id", "text", windowTokens = 8)
        .orderBy(col("doc_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), __t -> __t <> '') AS ts
        FROM documents),
      base AS (
        SELECT doc_id, cast(len(ts) AS BIGINT) AS n_tokens,
               cast(greatest(len(ts) - 7, 0) AS BIGINT) AS n_windows, ts
        FROM toks),
      w AS (
        SELECT doc_id,
               unnest(list_transform(range(n_windows),
                 __i -> struct_pack(p := __i,
                   g := array_to_string(list_slice(ts, __i + 1, __i + 8), ' ')))) AS c
        FROM base),
      win AS (SELECT doc_id, c.p AS p, c.g AS g FROM w),
      dup AS (
        SELECT doc_id, p FROM win
        QUALIFY count(*) OVER (PARTITION BY g) > 1),
      ord AS (
        SELECT doc_id, p,
               CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 8
                    THEN 0 ELSE 1 END AS brk
        FROM dup),
      isl AS (
        SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM ord),
      spans AS (
        SELECT doc_id, min(p) AS s, max(p) + 7 AS e
        FROM isl GROUP BY doc_id, grp),
      agg AS (
        SELECT doc_id, cast(count(*) AS BIGINT) AS n_spans,
               cast(sum(e - s + 1) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY doc_id),
      dcnt AS (
        SELECT doc_id, cast(count(*) AS BIGINT) AS n_dup_windows
        FROM dup GROUP BY doc_id)
      SELECT b.doc_id, b.n_tokens, b.n_windows,
             coalesce(d.n_dup_windows, 0) AS n_dup_windows,
             coalesce(a.n_spans, 0) AS n_spans,
             coalesce(a.dup_tokens, 0) AS dup_tokens
      FROM base b
      LEFT JOIN dcnt d ON b.doc_id = d.doc_id
      LEFT JOIN agg a ON b.doc_id = a.doc_id
      ORDER BY b.doc_id"""),
    bench = true)

  /** Duplicated-span REMOVAL ([[Dedup.removeDuplicatedSpans]]): the
    * action d16 profiles — cut every repeated-window occurrence except
    * the globally first and reassemble the surviving text (Lee et al.
    * 2022's transform at rolling-window granularity). */
  val d17_dedup_span_removal = QueryDef(
    "d17_dedup_span_removal",
    (s, dir) =>
      Dedup
        .removeDuplicatedSpans(Tables(s, dir).documents, "doc_id", "text", windowTokens = 8)
        .orderBy(col("doc_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), __t -> __t <> '') AS ts
        FROM documents),
      base AS (
        SELECT doc_id, cast(len(ts) AS BIGINT) AS n_tokens,
               cast(greatest(len(ts) - 7, 0) AS BIGINT) AS n_windows, ts
        FROM toks),
      w AS (
        SELECT doc_id,
               unnest(list_transform(range(n_windows),
                 __i -> struct_pack(p := __i,
                   g := array_to_string(list_slice(ts, __i + 1, __i + 8), ' ')))) AS c
        FROM base),
      win AS (SELECT doc_id, c.p AS p, c.g AS g FROM w),
      rep AS (
        SELECT doc_id, p FROM win
        QUALIFY row_number() OVER (PARTITION BY g ORDER BY doc_id, p) > 1),
      ord AS (
        SELECT doc_id, p,
               CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 8
                    THEN 0 ELSE 1 END AS brk
        FROM rep),
      isl AS (
        SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM ord),
      spans AS (
        SELECT doc_id, min(p) AS s, max(p) + 7 AS e
        FROM isl GROUP BY doc_id, grp),
      removed AS (
        SELECT DISTINCT doc_id, unnest(range(s, e + 1)) AS i FROM spans),
      tokpos AS (
        SELECT doc_id,
               unnest(list_transform(range(len(ts)),
                 __i -> struct_pack(i := __i, t := ts[__i + 1]))) AS c
        FROM base),
      flat AS (SELECT doc_id, c.i AS i, c.t AS t FROM tokpos),
      kept AS (
        SELECT f.doc_id, f.i, f.t
        FROM flat f LEFT JOIN removed r ON f.doc_id = r.doc_id AND f.i = r.i
        WHERE r.i IS NULL),
      agg AS (
        SELECT doc_id, cast(count(*) AS BIGINT) AS n_kept,
               string_agg(t, ' ' ORDER BY i) AS text_dedup
        FROM kept GROUP BY doc_id)
      SELECT b.doc_id, b.n_tokens,
             b.n_tokens - coalesce(a.n_kept, 0) AS n_removed,
             coalesce(a.text_dedup, '') AS text_dedup
      FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
      ORDER BY b.doc_id"""))

  /** Shard-vs-corpus substring probe served from the PERSISTED span
    * index ([[Dedup.writeSpanIndex]] / [[Dedup.probeSpanIndex]]): which
    * parts of the incoming shard (doc_id % 5 = 0) already exist
    * verbatim in the corpus — d16's profile shape with "duplicated"
    * meaning present in the corpus's distinct window-hash set. The
    * oracle replays batch windows against the corpus's distinct window
    * strings. */
  val d18_span_probe_indexed = QueryDef(
    "d18_span_probe_indexed",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val table = s"graft_span_idx_${Integer.toHexString(dir.hashCode)}" +
        s"_p${ProcessHandle.current().pid()}"
      Dedup.writeSpanIndex(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", table)
      Dedup
        .probeSpanIndex(s, table,
          batch = docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), __t -> __t <> '') AS ts
        FROM documents),
      base AS (
        SELECT doc_id, cast(len(ts) AS BIGINT) AS n_tokens,
               cast(greatest(len(ts) - 7, 0) AS BIGINT) AS n_windows, ts
        FROM toks),
      w AS (
        SELECT doc_id,
               unnest(list_transform(range(n_windows),
                 __i -> struct_pack(p := __i,
                   g := array_to_string(list_slice(ts, __i + 1, __i + 8), ' ')))) AS c
        FROM base),
      win AS (SELECT doc_id, c.p AS p, c.g AS g FROM w),
      corpus_w AS (SELECT DISTINCT g FROM win WHERE doc_id % 5 <> 0),
      dup AS (
        SELECT b.doc_id, b.p
        FROM win b JOIN corpus_w cw ON b.g = cw.g
        WHERE b.doc_id % 5 = 0),
      ord AS (
        SELECT doc_id, p,
               CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 8
                    THEN 0 ELSE 1 END AS brk
        FROM dup),
      isl AS (
        SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM ord),
      spans AS (
        SELECT doc_id, min(p) AS s, max(p) + 7 AS e
        FROM isl GROUP BY doc_id, grp),
      agg AS (
        SELECT doc_id, cast(count(*) AS BIGINT) AS n_spans,
               cast(sum(e - s + 1) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY doc_id),
      dcnt AS (
        SELECT doc_id, cast(count(*) AS BIGINT) AS n_dup_windows
        FROM dup GROUP BY doc_id)
      SELECT b.doc_id, b.n_tokens, b.n_windows,
             coalesce(d.n_dup_windows, 0) AS n_dup_windows,
             coalesce(a.n_spans, 0) AS n_spans,
             coalesce(a.dup_tokens, 0) AS dup_tokens
      FROM base b
      LEFT JOIN dcnt d ON b.doc_id = d.doc_id
      LEFT JOIN agg a ON b.doc_id = a.doc_id
      WHERE b.doc_id % 5 = 0
      ORDER BY b.doc_id"""))

  /** Cross-corpus span REMOVAL ([[Dedup.removeCrossCorpusSpans]]):
    * cut from each eval document (doc_id % 5 = 0) every span whose
    * 8-token windows exist verbatim in the train split — the
    * GPT-3-style decontamination transform (d09/d14 measure the
    * leakage; this removes it). Oracle replays window membership plus
    * the span-cut reassembly. */
  val d19_decontaminate_spans = QueryDef(
    "d19_decontaminate_spans",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      Dedup
        .removeCrossCorpusSpans(
          corpus = docs.filter(col("doc_id") % 5 =!= 0),
          batch = docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", windowTokens = 8)
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), __t -> __t <> '') AS ts
        FROM documents),
      base AS (
        SELECT doc_id, cast(len(ts) AS BIGINT) AS n_tokens,
               cast(greatest(len(ts) - 7, 0) AS BIGINT) AS n_windows, ts
        FROM toks),
      w AS (
        SELECT doc_id,
               unnest(list_transform(range(n_windows),
                 __i -> struct_pack(p := __i,
                   g := array_to_string(list_slice(ts, __i + 1, __i + 8), ' ')))) AS c
        FROM base),
      win AS (SELECT doc_id, c.p AS p, c.g AS g FROM w),
      corpus_w AS (SELECT DISTINCT g FROM win WHERE doc_id % 5 <> 0),
      marked AS (
        SELECT b.doc_id, b.p
        FROM win b JOIN corpus_w cw ON b.g = cw.g
        WHERE b.doc_id % 5 = 0),
      ord AS (
        SELECT doc_id, p,
               CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 8
                    THEN 0 ELSE 1 END AS brk
        FROM marked),
      isl AS (
        SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM ord),
      spans AS (
        SELECT doc_id, min(p) AS s, max(p) + 7 AS e
        FROM isl GROUP BY doc_id, grp),
      removed AS (
        SELECT DISTINCT doc_id, unnest(range(s, e + 1)) AS i FROM spans),
      tokpos AS (
        SELECT doc_id,
               unnest(list_transform(range(len(ts)),
                 __i -> struct_pack(i := __i, t := ts[__i + 1]))) AS c
        FROM base WHERE doc_id % 5 = 0),
      flat AS (SELECT doc_id, c.i AS i, c.t AS t FROM tokpos),
      kept AS (
        SELECT f.doc_id, f.i, f.t
        FROM flat f LEFT JOIN removed r ON f.doc_id = r.doc_id AND f.i = r.i
        WHERE r.i IS NULL),
      agg AS (
        SELECT doc_id, cast(count(*) AS BIGINT) AS n_kept,
               string_agg(t, ' ' ORDER BY i) AS text_dedup
        FROM kept GROUP BY doc_id)
      SELECT b.doc_id, b.n_tokens,
             b.n_tokens - coalesce(a.n_kept, 0) AS n_removed,
             coalesce(a.text_dedup, '') AS text_dedup
      FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
      WHERE b.doc_id % 5 = 0
      ORDER BY b.doc_id"""))

  val all: Seq[QueryDef] = Seq(
    t01_token_stats, t02_quality, t03_langid, t04_fingerprint, t05_bpe_tokens,
    t06_repetition, t07_pii_redact, t08_tfidf, t09_vocab_coverage,
    t10_chunk_overlap, t11_bm25, t12_lm_quality, t13_ngram_topk,
    t14_quality_model, t15_rule_filter, t16_inverted_index, t17_bpe_merged,
    t18_bpe_learned, t19_bpe_learned_corpus, t20_bpe_encode, t21_bigram_lm,
    t22_linear_probe, t23_stupid_backoff, t24_rrf_hybrid,
    t25_unigram_learned, t26_unigram_vocab, t27_unigram_encode,
    t28_retrieval_metrics, t29_tokenizer_fertility, t30_span_corruption,
    t31_ngram_overlap, t32_wordpiece_encode, t33_eval_metrics,
    t34_ccnet_buckets, t35_calibration, t36_pass_at_k, t37_zipf,
    t38_bradley_terry, t39_blocklist, t40_langid_eval, t41_rouge_l,
    t42_blocklist_trie, t43_distinct_n, t44_vocab_overlap, t45_textrank,
    t46_pmi_collocations, t47_vocab_growth, t48_burstiness,
    d01_dedup_exact, d02_dedup_exact_norm, d03_minhash_pairs,
    d04_simhash_pairs, d05_ngram_jaccard, d06_embed_neardup,
    d07_dedup_clusters, d08_chunk_dedup, d09_decontaminate, d10_kmeans,
    d11_semdedup, d12_embed_decontaminate, d13_dedup_survivors,
    d14_contamination, d15_lsh_recall, d16_dup_spans, d17_dedup_span_removal,
    d18_span_probe_indexed, d19_decontaminate_spans, d20_edit_verify,
    d21_containment, d22_domain_cap, d23_url_dedup, d24_record_linkage,
    d25_dup_weights, d26_linkage_indexed, d27_linkage_rules,
    s01_knn_brute, s02_knn_ivf, s03_knn_quantized, s04_random_projection,
    s05_knn_ivf_indexed, s06_knn_ivf_append, s07_ann_recall, s08_knn_ivf_purge,
    s09_pca, s10_knn_pq, s11_knn_ivfpq, s12_knn_ivfpq_indexed,
    s13_knn_ivf_filtered, s14_knn_classify, s15_hard_negatives,
    s16_knn_truncated, s17_kcenter_coreset, s18_bitext_margin,
    s19_knn_mips, s20_mmr_rerank, s21_embed_quality,
    p01_corpus_pipeline, p02_token_budget, p03_split, p04_mixture,
    p05_weighted_sample, p06_sequence_pack, p07_consistent_sample,
    p08_kl_drift, p09_incremental_dedup, p10_incremental_dedup_indexed,
    p11_incremental_dedup_append, p12_pack_tokens, p13_dsir,
    p14_shuffle_shards, p15_incremental_dedup_purge, p16_cluster_split,
    p17_incremental_stats, p18_corpus_report, p19_incremental_quantiles,
    p20_incremental_clusters, p21_drift_psi, p22_corpus_fingerprint,
    p23_incremental_lm, p24_snapshot_diff, p25_interleave_schedule,
    p26_pipeline_demo, p27_sft_turns, p28_mixture_resample,
    p29_preference_pairs, p30_temperature_resample, p31_balanced_shards,
    p32_water_fill, p33_length_batches, p34_curriculum, p35_epoch_recipe,
    p36_analytics_demo, p37_weighted_reservoir,
    g01_pagerank, g02_ppr, g03_hits, g04_label_propagation,
    g05_communities, g06_triangles, g07_link_prediction, g08_kcore,
    g09_cooccurrence, g10_neighborhood, g11_coocc_indexed, g12_anf,
    g13_harmonic, g14_assortativity, g15_session_coocc,
    g16_pagerank_weighted, g17_effective_diameter, g18_label_prop_lsh,
    g19_neighborhood_scaled)
}
