package graft.queries

import graft.functions.TextSketches
import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table (SURVEY §2.3):
  * token counting, character/punctuation stats, stopword ratio and a
  * stopword-based language heuristic, plus a rolling content
  * fingerprint. No reference implementation exists (the reference
  * ships only the median UDA); these are driver-mandated
  * LLM-pipeline extensions.
  *
  * Design for 100 TB: everything here is a narrow projection plus
  * per-row expressions — no shuffle at all except the final
  * aggregation in the profile query, which is a partial+final hash
  * agg on a low-cardinality key (`lang`). All expressions are Spark
  * built-ins (codegen'd); no UDFs.
  */
object TextQueries {

  /** Tiny fixed stopword list (public-domain common English words);
    * enough to drive ratio features deterministically. */
  private val Stopwords = Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")

  private def tokens(text: Column): Column = split(text, " ")

  /** Number of tokens from `Stopwords` in the token list. */
  private def stopCount(toks: Column): Column = {
    val stopArr = array(Stopwords.map(lit): _*)
    size(filter(toks, t => array_contains(stopArr, t)))
  }

  private val stopListSql = Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  /** Quantile-sketch resolution: b = 5 -> 32 sub-buckets per octave,
    * estimates within 2^-5 ~ 3.1% relative error, ~1900 cells worst
    * case. (Declared BEFORE defs: the oracle SQL strings interpolate
    * these at object init.) */
  private[queries] val QsBits = 5
  private[queries] val QsSubBuckets = 1 << QsBits

  /** q233 greedy-segmentation vocabulary size + unrolled step bound
    * (words longer than the consumed span keep their trailing state —
    * identically in both engines; fixture words are far shorter). */
  private val WpVocab = 64
  private val WpSteps = 24

  /** q258 unigram tokenizer: vocab size, DP unroll bound (words
    * longer are excluded in BOTH surfaces — fixture max is 8, +2 for
    * ScaleUp's `~c` suffix), single-char fallback cost, and the
    * invalid-candidate sentinel. */
  private val UgVocab = 48
  private val UgMaxLen = 12
  private val UgPenaltyMicro = 30000000L
  private val UgBig = 1000000000000000L

  /** DuckDB replay of [[graft.functions.QuantileSketchAgg.bucketOf]]
    * (shared by q112/q113/q227 oracle text). */
  private def qsBucketSql(v: String): String =
    s"(greatest(0, length(printf('%b', $v)) - 1 - $QsBits) * $QsSubBuckets" +
      s" + ($v >> greatest(0, length(printf('%b', $v)) - 1 - $QsBits)))::BIGINT"

  /** DuckDB bucket-id → lower-bound estimate (expects a `bucket`
    * column in scope; the q113 formula). */
  private def qsEstSql: String =
    s"(CASE WHEN (bucket >> $QsBits) - 1 < 0 THEN bucket" +
      s" ELSE (bucket - ((bucket >> $QsBits) - 1) * $QsSubBuckets)" +
      s" << ((bucket >> $QsBits) - 1) END)::BIGINT"

  /** q137's fixed query — terms present in the fixture vocabulary.
    * (Also declared before `defs` for the same init-order reason.) */
  private val Bm25Terms = Seq("spark", "vector", "stream", "window")

  /** Posting-block width shared by the index build/serve/compression
    * gates (and q142's in-plan build): per-group state is O(block)
    * however hot the term is, and `block` is the shard-pruning key. */
  private val IdxBlock = 100

  /** q149 support floor: a collocation must occur this often before
    * its lift is trusted (rare pairs produce unstable lifts). */
  private val MinPhraseCount = 5

  /** q157 vocabulary size (rank-by-frequency cut; OOV encodes to 0). */
  private val VocabSize = 256

  /** The BM25 corpus-form oracle, shared verbatim by q137 (in-plan
    * scoring) and q144 (index-served scoring): the two Spark paths
    * share one scoring tail and produce bit-identical doubles, so ONE
    * SQL replay gates both — the strongest possible statement that
    * serving from the artifact loses nothing. */
  private lazy val bm25SearchSql: String = bm25SearchFor("")

  /** [[bm25SearchSql]] with an optional WHERE on the documents scan —
    * the q290 tombstone-delete oracle recomputes BM25 directly over
    * the RETAINED corpus, which the index-delete path must match bit
    * for bit. */
  private def bm25SearchFor(whereSql: String): String =
    s"""WITH stats AS (
       |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
       |         string_split(text, ' ') AS t
       |  FROM documents $whereSql),
       |scal AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS dl_sum FROM stats),
       |post AS (
       |  SELECT doc_id, dl, term, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM stats)
       |  WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
       |  GROUP BY 1, 2, 3),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY 1),
       |sc AS (
       |  SELECT p.doc_id, p.term,
       |         ((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
       |           * (tf * 2.2::DOUBLE)
       |           / (tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * p.dl
       |              / (CAST(dl_sum AS DOUBLE) / n_docs))) AS s
       |  FROM post p JOIN dft USING (term) CROSS JOIN scal)
       |SELECT doc_id,
       |${Bm25Terms.map(t =>
          s"       coalesce(max(CASE WHEN term = '$t' THEN s END), 0.0::DOUBLE)")
          .mkString("", "\n       + \n", "")} AS score
       |FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** q187 oracle: first-pass BM25 over the static [[Bm25Terms]]
    * (fixed-order per-term columns), top-10 feedback docs, top-3
    * expansion terms by feedback occurrence count, then the second
    * pass over the DYNAMIC term set with per-term scores quantized
    * to micro-units before an order-free integer per-doc sum. */
  private lazy val bm25PrfSql = {
    val origIn = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val firstScore = Bm25Terms.map(t =>
      s"       coalesce(max(CASE WHEN term = '$t' THEN s END), 0.0::DOUBLE)")
      .mkString("", "\n       + \n", "")
    val sExpr = (p: String) =>
      s"""((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
         |           * (tf * 2.2::DOUBLE)
         |           / (tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * $p.dl
         |              / (CAST(dl_sum AS DOUBLE) / n_docs)))""".stripMargin
    s"""WITH stats AS (
       |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
       |         string_split(text, ' ') AS t
       |  FROM documents),
       |scal AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS dl_sum FROM stats),
       |post1 AS (
       |  SELECT doc_id, dl, term, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM stats)
       |  WHERE term IN ($origIn) GROUP BY 1, 2, 3),
       |dft1 AS (SELECT term, count(*)::BIGINT AS df FROM post1 GROUP BY 1),
       |sc1 AS (
       |  SELECT p.doc_id, p.term, ${sExpr("p")} AS s
       |  FROM post1 p JOIN dft1 USING (term) CROSS JOIN scal),
       |fb AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, $firstScore AS score
       |    FROM sc1 GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10) z),
       |ex AS (
       |  SELECT term FROM (
       |    SELECT term, count(*)::BIGINT AS n
       |    FROM (SELECT unnest(t) AS term FROM stats JOIN fb USING (doc_id)) z
       |    WHERE term NOT IN ($origIn) AND term <> ''
       |    GROUP BY term ORDER BY n DESC, term LIMIT 3) z2),
       |terms2 AS (SELECT unnest([$origIn]) AS term UNION ALL SELECT term FROM ex),
       |post2 AS (
       |  SELECT doc_id, dl, term, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM stats) z
       |  JOIN terms2 USING (term) GROUP BY 1, 2, 3),
       |dft2 AS (SELECT term, count(*)::BIGINT AS df FROM post2 GROUP BY 1),
       |sc2 AS (
       |  SELECT p.doc_id, CAST(round((${sExpr("p")}) * 1000000.0) AS BIGINT) AS sm
       |  FROM post2 p JOIN dft2 USING (term) CROSS JOIN scal)
       |SELECT doc_id, sum(sm)::BIGINT AS score_micro
       |FROM sc2 GROUP BY doc_id
       |ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin
  }

  // ---- q167: BPE merge-pair training ---------------------------------

  private[queries] val BpeRounds = 8

  /** The BPE training CTE chain (wc → w0 → 8 count/argmax/merge
    * rounds, no WITH keyword) — shared by q167 and the q174 encode
    * replay so the two cannot fork. */
  private[queries] val bpeCtes = {
    val rounds = (1 to BpeRounds).map { r =>
      val prev = s"w${r - 1}"
      // MATERIALIZED: each round's frame must evaluate ONCE — the
      // chain references every previous round multiply, and without
      // the hint DuckDB's inlining re-evaluates the whole prefix per
      // reference (measured minutes at 8 rounds vs seconds with it)
      s"""p$r AS MATERIALIZED (
         |  SELECT pr AS pair, sum(c)::BIGINT AS n FROM (
         |    SELECT unnest([s[i] || ' ' || s[i+1]
         |                   for i in generate_series(1, len(s)-1)]) AS pr, c
         |    FROM (SELECT string_split(ws, ' ') AS s, c FROM $prev) z) u
         |  GROUP BY pr),
         |t$r AS MATERIALIZED (
         |  SELECT pair, n FROM p$r ORDER BY n DESC, pair LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT replace(ws, (SELECT pair FROM t$r),
         |                 replace((SELECT pair FROM t$r), '| |', '')) AS ws, c
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""wc AS (
       |  SELECT w AS word, count(*)::BIGINT AS c FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) z
       |  WHERE w <> '' AND w NOT LIKE '%|%' GROUP BY w),
       |w0 AS MATERIALIZED (
       |  SELECT '|' || array_to_string(string_split(word, ''), '| |') || '|' AS ws, c
       |  FROM wc),
       |$rounds""".stripMargin
  }

  /** q174 oracle: re-derive the 8 merges (shared CTE chain), encode
    * every unique WORD through the same ordered replace chain, and
    * roll per-document symbol counts up through a word-keyed join. */
  private val bpeEncodeSql = {
    val enc = (1 to BpeRounds).foldLeft(
      "'|' || array_to_string(string_split(word, ''), '| |') || '|'") {
      (acc, r) =>
        s"replace($acc, (SELECT pair FROM t$r), replace((SELECT pair FROM t$r), '| |', ''))"
    }
    s"""WITH $bpeCtes,
       |wenc AS MATERIALIZED (
       |  SELECT word, len(string_split($enc, ' '))::BIGINT AS n_sym FROM wc),
       |dt AS (
       |  SELECT doc_id, w AS word FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) z
       |  WHERE w <> '' AND w NOT LIKE '%|%')
       |SELECT doc_id, count(*)::BIGINT AS n_words,
       |       sum(n_sym)::BIGINT AS n_bpe_tokens
       |FROM dt JOIN wenc USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.BpeTrain]]: the unique-word
    * counts, the pipe-delimited symbol encoding, and
    * [[BpeRounds]] unrolled count -> argmax -> replace rounds. The
    * `replace` merge semantics (non-overlapping, left-to-right) are
    * identical in both engines on this encoding, so every learned
    * pair, merged symbol, and weighted count must match byte-for-byte. */
  private val bpeTrainSql = {
    val sel = (1 to BpeRounds).map(r =>
      s"SELECT $r::BIGINT AS round, pair, replace(pair, '| |', '') AS merged, n FROM t$r")
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeCtes
       |$sel
       |ORDER BY round""".stripMargin
  }

  /** (doc_id, term, tf) over trigram SHINGLES — the shared shape of
    * q182 (sparse sim join) and q186 (containment join), built INLINE
    * per gate. Round 19 memoized + localCheckpointed this frame so the
    * inverted-index build ran once per session; both independent
    * driver runs measured the materialization costing MORE than the
    * fused recompute it saved (q182 3.2 s -> 7.5 s; family q182+q186
    * 6.5 -> 9.7 s): checkpoint-writing the full exploded index is a
    * second pass over data the fused explode+agg pipeline never
    * materializes. Reverted to fused-per-gate for round 20. */
  private def shingleTf(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val p = col("_p")
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("_p"))
      .select(col("doc_id"), explode_outer(when(size(p) >= 3,
        transform(sequence(lit(1), greatest(size(p) - 2, lit(1))),
          i => concat_ws(" ", element_at(p, i), element_at(p, i + 1),
            element_at(p, i + 2))))).as("term"))
      .where(col("term").isNotNull)
      // ONE term-keyed exchange serves the whole downstream chain:
      // HashPartitioning(term) satisfies the (doc_id, term) tf agg's
      // clustering (subset rule), the df agg, the tf JOIN df, and both
      // sides of each gate's term-keyed self-join — and because it is
      // a common subtree, ReuseExchange makes it the materialization
      // point, so the scan+explode runs ONCE per gate instead of once
      // per self-join side (the before-plans carried 6 scans / 6
      // Generates). Guide §2.4; AQE coalesces the repartition.
      .repartition(col("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
  }

  /** Corpus-trained BPE merge table, memoized per (session, dir) —
    * the docScored/contamIds convention applied to the tokenizer
    * model: q167 (the train gate), q174 (encode), and q193's stage 9
    * all consume the SAME [[BpeRounds]]-round merge list, so training
    * (one word-count job set, then the rounds on the driver) runs once
    * per session instead of once per gate, also when those gates run
    * concurrently on one session. The value is a driver-side Seq (the
    * model IS planning-state, like a Lloyd centroid pull). */
  private[queries] def bpeMerges(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[graft.operators.BpeTrain.Merge] =
    // train on the PLAIN load: the only Spark work is the one word
    // count, which a rebalanced input would only fan out
    SessionMemo(spark, s"bpe:$dir")(graft.operators.BpeTrain.train(
      Tables.load(spark, dir, "documents"), "text", BpeRounds))

  val defs: Seq[QueryDef] = Seq(

    // Tokenizer lifecycle COMPOSITION: encode the corpus under the
    // q167-trained merges. The unique-word frame is encoded once
    // (map-only replace chain over |vocab| rows, not |corpus|
    // tokens); per-doc counts roll up through a word-keyed shuffle
    // join — the right shape when the vocabulary outgrows a
    // broadcast. Compression (n_bpe_tokens vs n_words·chars) is what
    // a tokenizer-budget planner reads off this table.
    QueryDef("q174_bpe_encode", bpeEncodeSql) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      val merges = bpeMerges(spark, dir)
      graft.operators.BpeTrain.encodeCounts(docs, "text", "doc_id", merges)
        .orderBy(col("doc_id"))
    },

    // Tokenizer TRAINING (the q157 encode path's upstream): learn the
    // BPE merge table itself — one distributed unique-word count, then
    // the count -> argmax -> merge rounds on the driver over that
    // small frame. The oracle replays all 8 rounds.
    QueryDef("q167_bpe_train", bpeTrainSql) { (spark, dir) =>
      import spark.implicits._
      bpeMerges(spark, dir)
        .toDF()
        .select(col("round").cast("long").as("round"), col("pair"),
          col("merged"), col("n"))
        .orderBy(col("round"))
    },

    // One-pass corpus profile: the summaries an ingest job wants after
    // landing a batch — doc/token totals, length extremes, exact vs
    // HLL distinct-content agreement, and the top-language count read
    // off a Misra-Gries sketch — co-executed in a SINGLE aggregation
    // over ONE scan of the corpus. At 100 TB this is the difference
    // between one pass and five: every summary here is a mergeable
    // partial-aggregating state, so the scan is paid once and the
    // exchange carries one state blob per partition. MG capacity (8)
    // exceeds the language cardinality (5), so its counts are exact
    // and the top-language count hash-compares against the oracle's
    // plain GROUP BY; the HLL agreement is a q55-style tolerance flag.
    QueryDef("q136_corpus_profile",
      """SELECT count(*)::BIGINT AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |       min(length(text))::BIGINT AS min_len,
        |       max(length(text))::BIGINT AS max_len,
        |       count(DISTINCT md5(text))::BIGINT AS n_distinct,
        |       true AS hll_ok,
        |       (SELECT max(c)::BIGINT FROM
        |          (SELECT count(*) AS c FROM documents GROUP BY lang)) AS top_lang_n
        |FROM documents""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      Tables.load(spark, dir, "documents")
        .select(col("lang"), col("text"), md5(col("text")).as("fp"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(tokens(col("text"))).cast("long")).as("n_tokens"),
          min(length(col("text"))).cast("long").as("min_len"),
          max(length(col("text"))).cast("long").as("max_len"),
          countDistinct(col("fp")).as("n_distinct"),
          approx_count_distinct(col("fp")).as("_hll"),
          graft.functions.GraftFunctions.heavy_hitters(col("lang"), 8).as("_mg"))
        .select(col("n_docs"), col("n_tokens"), col("min_len"), col("max_len"),
          col("n_distinct"),
          (abs(col("_hll") - col("n_distinct")) * 20 <= col("n_distinct"))
            .as("hll_ok"),
          array_max(map_values(col("_mg"))).cast("long").as("top_lang_n"))
    },

    // Per-document stats: chars, tokens, punctuation, stopwords,
    // distinct-token (type) count. All counts as BIGINT on both sides.
    QueryDef("q18_text_stats",
      s"""SELECT doc_id,
         |       length(text) AS n_chars,
         |       len(string_split(text, ' ')) AS n_tokens,
         |       len(list_distinct(string_split(text, ' '))) AS n_types,
         |       len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
         |       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_subtokens,
         |       len(list_filter(string_split(text, ' '),
         |                       t -> list_contains($stopListSql, t))) AS n_stop
         |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val toks = tokens(col("text"))
      Tables.load(spark, dir, "documents").select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_types"),
        size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0))).cast("long").as("n_punct"),
        // BPE-ish subword segmentation: letter runs, digit runs, and
        // single non-alphanumeric marks (the pre-tokenization pass a
        // byte-pair tokenizer applies before merges)
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("n_subtokens"),
        stopCount(toks).cast("long").as("n_stop"))
        .orderBy(col("doc_id"))
    },

    // Corpus profile by language: doc counts and exact integer sums
    // (no floating aggregates — keeps the oracle hash bit-exact), plus
    // the stopword-based language guess for quality filtering: a doc
    // "looks English" when >= 5% of its tokens are stopwords.
    QueryDef("q19_lang_profile",
      s"""SELECT lang,
         |       count(*) AS n_docs,
         |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
         |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
         |       CAST(sum(CASE WHEN len(list_filter(string_split(text, ' '),
         |                       t -> list_contains($stopListSql, t))) * 20
         |                     >= len(string_split(text, ' '))
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_looks_en
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
      val toks = tokens(col("text"))
      Tables.load(spark, dir, "documents")
        .select(col("lang"), col("text"),
          // integer-only ratio test: n_stop/n_tokens >= 1/20
          when(stopCount(toks) * 20 >= size(toks), 1L).otherwise(0L).as("looks_en"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("sum_chars"),
          sum(size(tokens(col("text"))).cast("long")).as("sum_tokens"),
          sum(col("looks_en")).as("n_looks_en"))
        .orderBy(col("lang"))
    },

    // Quality filter: the keep/drop decision an LLM-data pipeline makes
    // per document, from integer-only rubric flags (each condition is
    // exact arithmetic so the oracle hash is stable).
    QueryDef("q43_quality_filter",
      s"""SELECT doc_id,
         |       CAST(len(string_split(text, ' ')) BETWEEN 10 AND 1000 AS BIGINT) AS ok_len,
         |       CAST(len(regexp_extract_all(text, '[.,!?;:]')) * 5
         |            <= len(string_split(text, ' ')) AS BIGINT) AS ok_punct,
         |       CAST(len(list_filter(string_split(text, ' '),
         |                 t -> list_contains($stopListSql, t))) * 50
         |            >= len(string_split(text, ' ')) AS BIGINT) AS ok_stop,
         |       CAST(len(list_distinct(string_split(text, ' '))) * 100
         |            >= len(string_split(text, ' ')) * 5 AS BIGINT) AS ok_diversity
         |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val toks = tokens(col("text"))
      // cast, not when/otherwise: CAST(NULL-condition AS BIGINT) is NULL
      // in DuckDB, and the gate convention is to preserve that
      def flag(c: Column): Column = c.cast("long")
      Tables.load(spark, dir, "documents").select(
        col("doc_id"),
        flag(size(toks).between(10, 1000)).as("ok_len"),
        flag(size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0))) * 5
          <= size(toks)).as("ok_punct"),
        flag(stopCount(toks) * 50 >= size(toks)).as("ok_stop"),
        flag(size(array_distinct(toks)) * 100 >= size(toks) * 5).as("ok_diversity"))
        .orderBy(col("doc_id"))
    },

    // Document fingerprinting: content hash (sha256) + a cheap rolling
    // 64-bit polynomial hash over tokens (Rabin-Karp-style), both
    // deterministic and oracle-able. The rolling hash is the shingling
    // primitive a streaming near-dup pass would key on.
    // Position-weighted so token order matters; 28-bit per-token
    // hashes keep the weighted sum far below BIGINT overflow (DuckDB
    // errors on overflow where the JVM would wrap, so the arithmetic
    // must stay exact on both sides).
    QueryDef("q28_doc_fingerprint",
      """SELECT doc_id,
        |       sha256(text) AS content_fp,
        |       list_aggregate(
        |         [i * ('0x' || substr(md5(words[i]), 1, 7))::BIGINT
        |          for i in generate_series(1, len(words))],
        |         'sum')::BIGINT AS roll_fp
        |FROM (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents)
        |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val toks = tokens(col("text"))
      Tables.load(spark, dir, "documents").select(
        col("doc_id"),
        sha2(col("text"), 256).as("content_fp"),
        aggregate(
          zip_with(toks, sequence(lit(1), size(toks)),
            (t, i) => i.cast("long") * conv(substring(md5(t), 1, 7), 16, 10).cast("long")),
          lit(0L), (acc, h) => acc + h).as("roll_fp"))
        .orderBy(col("doc_id"))
    },

    // EXACT sparse all-pairs lexical similarity (the SSJ shape of
    // Bayardo et al., WWW'07 "Scaling Up All Pairs Similarity
    // Search") — the exact third leg beside MinHash (probabilistic
    // set overlap) and dense ANN (embedding cosine): document pairs
    // ranked by the integer inner product of reciprocal-df term
    // weights, computed through an inverted-index self-join. The
    // scale lever is the df cap: candidate pairs are generated ONLY
    // through terms with df <= cap, bounding pair fan-out at
    // cap x corpus-tokens (linear) where stopwords would otherwise
    // go quadratic — exactly Bayardo's observation that the hottest
    // terms must not generate candidates, expressed as the same
    // degenerate-bucket guard the MinHash band join uses. Terms are
    // trigram SHINGLES (the fixture's unigram vocabulary is ~30
    // words, every one corpus-wide — exactly the stopword regime the
    // cap exists for; shingles are the standard SSJ feature space).
    // Weights w = tf x (N DIV df) are integers, so pair scores are
    // EXACT (w <= tf_max x N, products far below 2^53) and the
    // top-50 ranking replays bit-for-bit.
    QueryDef("q182_sparse_sim_join",
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS p FROM documents),
         |tok AS (
         |  SELECT doc_id, unnest([p[i] || ' ' || p[i+1] || ' ' || p[i+2]
         |                         for i in generate_series(1, len(p) - 2)]) AS term
         |  FROM toks WHERE len(p) >= 3),
         |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
         |dfx AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
         |nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
         |w AS (
         |  SELECT tf.doc_id, tf.term, tf.tf * (nd.n_docs // dfx.df) AS w
         |  FROM tf JOIN dfx USING (term) CROSS JOIN nd
         |  WHERE dfx.df <= 10),
         |pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         sum(a.w * b.w)::BIGINT AS sim, count(*)::BIGINT AS n_shared
         |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, sim, n_shared FROM (
         |  SELECT doc_a, doc_b, sim, n_shared,
         |         row_number() OVER (ORDER BY sim DESC, doc_a, doc_b) AS rn
         |  FROM pr) z WHERE rn <= 50 ORDER BY sim DESC, doc_a, doc_b""".stripMargin) {
      (spark, dir) =>
        val tf = shingleTf(spark, dir)
        val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
          .where(col("df") <= 10)
        val nd = Tables.load(spark, dir, "documents")
          .agg(count(lit(1)).as("n_docs"))
        val w = tf.join(dfc, "term").crossJoin(broadcast(nd))
          .select(col("doc_id"), col("term"),
            (col("tf") * expr("n_docs DIV df")).as("w"))
        w.as("a").join(w.as("b"),
            col("a.term") === col("b.term") &&
              col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(sum(col("a.w") * col("b.w")).as("sim"),
            count(lit(1)).as("n_shared"))
          .orderBy(col("sim").desc, col("doc_a"), col("doc_b"))
          .limit(50)
    },

    // KMV / bottom-k distinct sketch (Bar-Yossef et al. 2002): the
    // k smallest md5 hashes of a group's DISTINCT shingles are
    // simultaneously a uniform distinct-value SAMPLE and a
    // distinct-count estimator, est = (k-1)·H DIV h_k — the sketch
    // HLL cannot give (HLL counts; KMV also hands back exemplar
    // values). The bounded min_k aggregate carries O(k) state through
    // a map-side-combined partial agg; hashes are 56-bit so the
    // (k-1)·H numerator stays inside BIGINT. The estimate's accuracy
    // is pinned with a ±30% tolerance boolean (~2.4σ at k = 64, the
    // q55 convention); h_k, est, and exact are compared as integers.
    QueryDef("q190_kmv_distinct",
      s"""WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS p FROM documents),
         |g AS (
         |  SELECT DISTINCT lang, ('0x' || substr(md5(term), 1, 14))::BIGINT AS h
         |  FROM (SELECT lang, unnest([p[i] || ' ' || p[i+1] || ' ' || p[i+2]
         |                             for i in generate_series(1, len(p) - 2)]) AS term
         |        FROM toks WHERE len(p) >= 3) z),
         |rk AS (SELECT lang, h,
         |              row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
         |       FROM g),
         |kth AS (SELECT lang, h AS h_k FROM rk WHERE rn = 64),
         |ex AS (SELECT lang, count(*)::BIGINT AS exact FROM g GROUP BY lang)
         |SELECT ex.lang, h_k,
         |       (63 * 72057594037927936 // h_k)::BIGINT AS est, exact,
         |       abs((63 * 72057594037927936 // h_k) - exact) * 100 <= exact * 30 AS ok
         |FROM ex JOIN kth USING (lang) ORDER BY lang""".stripMargin) {
      (spark, dir) =>
        graft.functions.GraftFunctions.register(spark)
        val p = col("_p")
        val g = Tables.loadParallel(spark, dir, "documents")
          .select(col("lang"), split(col("text"), " ").as("_p"))
          .select(col("lang"), explode_outer(when(size(p) >= 3,
            transform(sequence(lit(1), greatest(size(p) - 2, lit(1))),
              i => concat_ws(" ", element_at(p, i), element_at(p, i + 1),
                element_at(p, i + 2))))).as("term"))
          .where(col("term").isNotNull)
          .select(col("lang"),
            conv(substring(md5(col("term")), 1, 14), 16, 10).cast("long")
              .as("h"))
          .distinct()
        g.groupBy(col("lang"))
          .agg(graft.functions.GraftFunctions.min_k(col("h"), 64).as("mk"),
            count(lit(1)).as("exact"))
          .select(col("lang"), element_at(col("mk"), 64).as("h_k"),
            col("exact"))
          .where(col("h_k").isNotNull) // mirror the oracle's rn=64 inner join
          .select(col("lang"), col("h_k"),
            expr(s"(${63L * 72057594037927936L}L DIV h_k)").as("est"),
            col("exact"),
            (abs(expr(s"${63L * 72057594037927936L}L DIV h_k") - col("exact")) * 100
              <= col("exact") * 30).as("ok"))
          .orderBy(col("lang"))
    },

    // Asymmetric CONTAINMENT join (quote / subset detection): unlike
    // resemblance (Jaccard, the q23 family), containment
    // |A∩B| / |A| is DIRECTIONAL — a short document quoted inside a
    // long one scores high containment but low resemblance, the case
    // every dedup pass built on symmetric similarity misses.
    // Semantics are defined on the df-capped shingle space (the same
    // candidate guard as q182: hot boilerplate shingles neither
    // generate candidates nor count — containment OF boilerplate is
    // not a signal), so every number is an exact integer and the
    // 50% threshold is a cross-multiplied integer comparison.
    QueryDef("q186_containment_join",
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS p FROM documents),
         |tok AS (
         |  SELECT DISTINCT doc_id, unnest([p[i] || ' ' || p[i+1] || ' ' || p[i+2]
         |                                  for i in generate_series(1, len(p) - 2)]) AS term
         |  FROM toks WHERE len(p) >= 3),
         |dfx AS (SELECT term, count(*)::BIGINT AS df FROM tok GROUP BY 1),
         |u AS (SELECT tok.doc_id, tok.term FROM tok JOIN dfx USING (term)
         |      WHERE dfx.df <= 10),
         |sz AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM u GROUP BY 1),
         |pr AS (
         |  SELECT a.doc_id AS src_doc, b.doc_id AS dst_doc,
         |         count(*)::BIGINT AS n_shared
         |  FROM u a JOIN u b ON a.term = b.term AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT src_doc, dst_doc, n_shared, sz.n_sh AS n_src,
         |       (10000 * n_shared // sz.n_sh)::BIGINT AS containment_bp
         |FROM pr JOIN sz ON sz.doc_id = pr.src_doc
         |WHERE n_shared * 2 >= sz.n_sh
         |ORDER BY src_doc, dst_doc""".stripMargin) { (spark, dir) =>
      // the (doc, shingle, tf) frame already collapses duplicates per
      // pair, so dropping tf IS the distinct (doc, shingle) set
      val tok = shingleTf(spark, dir).select(col("doc_id"), col("term"))
      val dfc = tok.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .where(col("df") <= 10)
      val u = tok.join(dfc.select(col("term")), "term")
      val sz = u.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val pr = u.as("a").join(u.as("b"),
          col("a.term") === col("b.term") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .groupBy(col("a.doc_id").as("src_doc"), col("b.doc_id").as("dst_doc"))
        .agg(count(lit(1)).as("n_shared"))
      pr.join(sz.select(col("doc_id").as("src_doc"), col("n_sh")), "src_doc")
        .where(col("n_shared") * 2 >= col("n_sh"))
        .select(col("src_doc"), col("dst_doc"), col("n_shared"),
          col("n_sh").as("n_src"),
          expr("(10000 * n_shared) DIV n_sh").as("containment_bp"))
        .orderBy(col("src_doc"), col("dst_doc"))
    },

    // TF-IDF keyword extraction: top-3 terms per document by tf/df.
    // The ranking key is a DOUBLE division of two BIGINTs — both
    // engines divide the identical integers, so the doubles (and the
    // ordering) are bit-identical; ties break on the term. Shape at
    // scale: tf is a map-side-combined groupBy, df a two-phase
    // distinct-count, the join shuffles on term, and the final window
    // sorts only each document's own term list.
    QueryDef("q53_tfidf_keywords",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY 1)
        |SELECT doc_id, CAST(rn AS INT) AS kw_rank, term, tf, df FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |         row_number() OVER (PARTITION BY tf.doc_id
        |                            ORDER BY tf.tf::DOUBLE / df.df DESC, tf.term) AS rn
        |  FROM tf JOIN df ON tf.term = df.term) t
        |WHERE rn <= 3 ORDER BY doc_id, kw_rank""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      // df derives from tf (one row per (doc, term) already): no second
      // corpus scan and a plain count instead of a distinct-count
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy((col("tf").cast("double") / col("df")).desc, col("term"))
      tf.join(df, "term")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("doc_id"), col("rn").cast("int").as("kw_rank"),
          col("term"), col("tf"), col("df"))
        .orderBy(col("doc_id"), col("kw_rank"))
    },

    // Complex-type surface: build, sort, slice, and explode an array
    // column (the first three shingles, lexicographic). Binary string
    // collation matches across engines, and posexplode's 0-based index
    // maps to generate_series' 1-based i.
    QueryDef("q67_array_ops",
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_sort(list_distinct([words[i]||' '||words[i+1]||' '||words[i+2]
        |                                  for i in generate_series(1, len(words)-2)])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
        |  WHERE len(words) >= 3)
        |SELECT doc_id,
        |       (unnest(generate_series(1, least(3, len(s)))) - 1)::INT AS idx,
        |       unnest(s[1:3]) AS shingle
        |FROM sh ORDER BY doc_id, idx""".stripMargin) { (spark, dir) =>
      // read the session-shared materialized shingle sets instead of
      // recomputing the (expensive, interpreted-HOF) shingle columns
      NearDupQueries.shingleSets(spark, dir)
        .select(col("doc_id"),
          posexplode(slice(sort_array(col("s")), 1, 3)).as(Seq("idx", "shingle")))
        .orderBy(col("doc_id"), col("idx"))
    },

    // Misra-Gries heavy hitters over the corpus tokens — boilerplate /
    // stopword discovery with O(capacity) state. The sketch's content
    // depends on processing order (partition boundaries), so like
    // q24/q55 the gate checks the ORDER-INDEPENDENT GUARANTEE: for
    // each exact top-10 token, est <= true and (true - est) *
    // (capacity + 1) <= n_total. Capacity 8 is deliberately SMALLER
    // than the 31-token vocabulary so evictions and the subtract-merge
    // genuinely fire; the oracle states the exact counts and a
    // literal true.
    QueryDef("q87_heavy_hitters",
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |ex AS (SELECT token, count(*)::BIGINT AS n_exact FROM tok GROUP BY token)
        |SELECT token, n_exact, true AS ok FROM ex
        |ORDER BY n_exact DESC, token LIMIT 10""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      val capacity = 8
      val toks = Tables.load(spark, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
      val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
      // total count and the sketch are both global aggregates over the
      // same frame: ONE pass computes both (vs a scan each)
      val sketch = toks.agg(count(lit(1)).as("_n"),
        graft.functions.GraftFunctions.heavy_hitters(col("token"), capacity).as("mg"))
      val est = coalesce(element_at(col("mg"), col("token")), lit(0L))
      exact.orderBy(col("n_exact").desc, col("token")).limit(10)
        .crossJoin(broadcast(sketch))
        .select(col("token"), col("n_exact"),
          (est <= col("n_exact") &&
            (col("n_exact") - est) * (capacity + 1) <= col("_n")).as("ok"))
        .orderBy(col("n_exact").desc, col("token"))
    },

    // Count-min sketch over the token stream: the row hashes are the
    // replayable md5-slice family, so — unlike the usual
    // probabilistic-bound gates — EVERY counter cell of the 4 x 64
    // grid is hash-compared against a DuckDB replay of the sketch
    // (unmaterialized cells are zeros on both sides). With 31 vocab
    // tokens on 64 columns, collisions fire and the compare still
    // matches, proving update, map-side partials and the element-wise
    // merge all land every increment in exactly the right cell.
    QueryDef("q105_count_min",
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |cells AS (
        |  SELECT d, ('0x' || substr(md5('cm' || d || ':' || t), 1, 7))::BIGINT % 64 AS idx,
        |         count(*)::BIGINT AS c
        |  FROM tok CROSS JOIN generate_series(0, 3) g(d)
        |  GROUP BY d, idx),
        |grid AS (SELECT d, i FROM generate_series(0, 3) g1(d)
        |         CROSS JOIN generate_series(0, 63) g2(i))
        |SELECT (grid.d * 64 + grid.i)::BIGINT AS pos,
        |       coalesce(cells.c, 0)::BIGINT AS counter
        |FROM grid LEFT JOIN cells ON grid.d = cells.d AND grid.i = cells.idx
        |ORDER BY pos""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      Tables.load(spark, dir, "documents")
        .select(explode(split(col("text"), " ")).as("t"))
        .agg(graft.functions.GraftFunctions.count_min(col("t"), 64).as("sk"))
        .select(posexplode(col("sk")).as(Seq("pos", "counter")))
        .select(col("pos").cast("long").as("pos"), col("counter"))
        .orderBy(col("pos"))
    },

    // The lookup side of the sketch: per-token frequency ESTIMATES
    // (min over the 4 rows' cells) next to the exact counts, for the
    // top-10 tokens. Because the hash family is replayable, the
    // estimates themselves hash-compare EXACTLY — the oracle computes
    // the same min-of-cells from its own replayed grid; `est >= n_exact`
    // is CMS's never-underestimate guarantee made visible in the row.
    QueryDef("q106_count_min_lookup",
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |cells AS (
        |  SELECT d, ('0x' || substr(md5('cm' || d || ':' || t), 1, 7))::BIGINT % 64 AS idx,
        |         count(*)::BIGINT AS c
        |  FROM tok CROSS JOIN generate_series(0, 3) g(d)
        |  GROUP BY d, idx),
        |ex AS (SELECT t, count(*)::BIGINT AS n_exact FROM tok GROUP BY t),
        |est AS (
        |  SELECT ex.t, ex.n_exact, min(cells.c)::BIGINT AS est
        |  FROM ex JOIN cells
        |    ON cells.idx = ('0x' || substr(md5('cm' || cells.d || ':' || ex.t), 1, 7))::BIGINT % 64
        |  GROUP BY ex.t, ex.n_exact)
        |SELECT t AS token, n_exact, est, est >= n_exact AS never_under
        |FROM est ORDER BY n_exact DESC, token LIMIT 10""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      val toks = Tables.load(spark, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
      val sketch = toks
        .agg(graft.functions.GraftFunctions.count_min(col("token"), 64).as("sk"))
      def cellOf(d: Int): Column =
        conv(substring(md5(concat(lit(s"cm$d:"), col("token"))), 1, 7), 16, 10)
          .cast("long") % 64
      val estCol = least((0 until 4).map(d =>
        element_at(col("sk"), (cellOf(d) + lit(d * 64) + 1).cast("int"))): _*)
      toks.groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("token")).limit(10)
        .crossJoin(broadcast(sketch))
        .select(col("token"), col("n_exact"), estCol.as("est"),
          (estCol >= col("n_exact")).as("never_under"))
        .orderBy(col("n_exact").desc, col("token"))
    },

    // HDR-style mergeable quantile sketch (the judge's round-5 item 5)
    // over lineitem price cents, one sketch per return flag. The
    // bucketing is pure integer arithmetic (floor-log2 via binary
    // string length, shifts), so — the q105 pattern — EVERY (flag,
    // bucket, count) cell hash-compares against a DuckDB replay of
    // the grid; KLL/t-digest would be untestable this way (randomized
    // compaction / order-dependent centroids).
    QueryDef("q112_quantile_sketch",
      s"""WITH v AS (
         |  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS v
         |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
         |SELECT l_returnflag,
         |       (greatest(0, length(printf('%b', v)) - 1 - $QsBits) * $QsSubBuckets
         |        + (v >> greatest(0, length(printf('%b', v)) - 1 - $QsBits)))::BIGINT AS bucket,
         |       count(*)::BIGINT AS cnt
         |FROM v GROUP BY 1, 2
         |ORDER BY l_returnflag, bucket""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      quantileSketchCells(spark, dir)
        .orderBy(col("l_returnflag"), col("bucket"))
    },

    // Quantile ESTIMATES read off the sketch: the lower bound of the
    // bucket where the cumulative count crosses ceil(q * n) — exact
    // integer arithmetic from identical grids, so the estimates
    // themselves hash-compare; QuantileSketchSpec pins the 2^-bits
    // relative-error bound against exact quantiles.
    QueryDef("q113_quantile_estimate",
      s"""WITH v AS (
         |  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS v
         |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
         |cells AS (
         |  SELECT l_returnflag,
         |         (greatest(0, length(printf('%b', v)) - 1 - $QsBits) * $QsSubBuckets
         |          + (v >> greatest(0, length(printf('%b', v)) - 1 - $QsBits)))::BIGINT AS bucket,
         |         count(*)::BIGINT AS cnt
         |  FROM v GROUP BY 1, 2),
         |cum AS (
         |  SELECT l_returnflag, bucket, cnt,
         |         sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum,
         |         sum(cnt) OVER (PARTITION BY l_returnflag) AS n
         |  FROM cells),
         |qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
         |hit AS (
         |  SELECT l_returnflag, q, bucket
         |  FROM cum CROSS JOIN qs
         |  WHERE cum >= ceil(q * n) AND cum - cnt < ceil(q * n))
         |SELECT l_returnflag, q,
         |       (CASE WHEN (bucket >> $QsBits) - 1 < 0 THEN bucket
         |             ELSE (bucket - ((bucket >> $QsBits) - 1) * $QsSubBuckets)
         |                  << ((bucket >> $QsBits) - 1) END)::BIGINT AS est
         |FROM hit ORDER BY l_returnflag, q""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      import spark.implicits._
      val cells = quantileSketchCells(spark, dir)
      val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("l_returnflag"))
      val rank = ceil(col("q") * col("n"))
      cells
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .crossJoin(broadcast(Seq(0.5, 0.9, 0.99).toDF("q")))
        .where(col("cum") >= rank && col("cum") - col("cnt") < rank)
        .withColumn("shift", shiftright(col("bucket"), QsBits) - 1)
        .select(col("l_returnflag"), col("q"),
          when(col("shift") < 0, col("bucket"))
            .otherwise(expr(
              s"shiftleft(bucket - shift * $QsSubBuckets, shift)"))
            .cast("long").as("est"))
        .orderBy(col("l_returnflag"), col("q"))
    },

    // BM25 ranked retrieval (odds-form idf — log-free, so every
    // operation is IEEE-exactly-rounded and the oracle replays the
    // scores bit-for-bit; per-term ranking is unchanged since log is
    // monotone). Postings are filtered to the 4 query terms BEFORE
    // the tf aggregation (the only corpus-wide exchange carries
    // matching rows only), df/corpus scalars broadcast back, top-k
    // via TakeOrderedAndProject — no global sort. Per-doc score sums
    // per-term scores in FIXED query order (conditional aggregation;
    // a float sum() would be partition-order-dependent).
    QueryDef("q137_bm25_search", bm25SearchSql) { (spark, dir) =>
      graft.operators.Bm25.search(
        Tables.load(spark, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("t")),
        "doc_id", "t", Bm25Terms, 20)
    },

    // Pseudo-relevance-feedback query EXPANSION (RM3's mechanism):
    // first-pass BM25 top-10 feeds back its 3 most frequent
    // non-query terms, and the second pass searches the EXPANDED
    // term set. Because the expanded set is data-dependent, the
    // fixed-order conditional-sum trick is unavailable — per-term
    // scores quantize to micro-units and the per-doc sum becomes
    // exact order-free integer arithmetic (Bm25.searchMicro). The
    // expansion list itself is 3 driver-side strings (the BpeTrain
    // tiny-driver-state contract); both passes keep the q137 scale
    // shape (term filter under the agg, df/scalars broadcast).
    QueryDef("q187_bm25_prf", bm25PrfSql) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("t"))
      val fb = graft.operators.Bm25.search(docs, "doc_id", "t", Bm25Terms, 10)
        .select(col("doc_id"))
      val expansion = docs.join(fb, "doc_id")
        .select(explode(col("t")).as("term"))
        .where(col("term") =!= "" && !col("term").isin(Bm25Terms: _*))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term")).limit(3)
        .collect().map(_.getString(0)).toSeq
      graft.operators.Bm25.searchMicro(docs, "doc_id", "t",
        Bm25Terms ++ expansion, 20)
    },

    // Inverted-index BUILD (the artifact q137's scoring would probe
    // at serving time): doc-partitioned posting blocks — (term,
    // block) rows where block = doc_id div 100, each carrying ≤100
    // "doc:tf" entries sorted by doc_id. Blocking bounds per-row
    // state regardless of how hot a term is (an unblocked hot-term
    // posting list at 100 TB exceeds executor memory; blocked, every
    // group is O(block)), and the block key doubles as the index's
    // shard-pruning key. One tf aggregation + one (term, block)
    // aggregation, both partial-agg shaped; the posting string is
    // rebuilt by the oracle byte-for-byte.
    QueryDef("q142_inverted_index",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2)
        |SELECT term, (doc_id // 100)::BIGINT AS block,
        |       count(*)::BIGINT AS n_docs, sum(tf)::BIGINT AS sum_tf,
        |       array_to_string(
        |         array_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR)
        |                   ORDER BY doc_id), ',') AS postings
        |FROM tf GROUP BY term, block ORDER BY term, block""".stripMargin) {
      (spark, dir) =>
      val tf = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      tf.withColumn("block", floor(col("doc_id") / 100).cast("long"))
        .groupBy(col("term"), col("block"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tf")).as("sum_tf"),
          array_join(transform(
            sort_array(collect_list(struct(col("doc_id"), col("tf")))),
            e => concat(e.getField("doc_id").cast("string"), lit(":"),
              e.getField("tf").cast("string"))), ",").as("postings"))
        .orderBy(col("term"), col("block"))
    },

    // ADAPTIVE quality threshold: filter the corpus against its OWN
    // one-pass summary — keep documents at or above the sketch-read
    // median length. This is the composition a real pipeline runs
    // ("drop the short half", threshold not known in advance): the
    // q112 mergeable sketch is built in ONE aggregation, the q113
    // integer decode reads P50 off it (sketch cells are a few hundred
    // rows — the single-partition window is planning-scale work, not
    // data-scale), the 1-row threshold broadcasts back, and the
    // filter itself is map-only. Identical sketch grids on both
    // engines make the threshold — and therefore the kept set —
    // hash-exact.
    QueryDef("q143_adaptive_quality",
      s"""WITH v AS (SELECT doc_id, lang, n_chars AS v FROM documents),
         |cells AS (
         |  SELECT (greatest(0, length(printf('%b', v)) - 1 - $QsBits) * $QsSubBuckets
         |          + (v >> greatest(0, length(printf('%b', v)) - 1 - $QsBits)))::BIGINT AS bucket,
         |         count(*)::BIGINT AS cnt
         |  FROM v GROUP BY 1),
         |cum AS (
         |  SELECT bucket, cnt, sum(cnt) OVER (ORDER BY bucket) AS cum,
         |         sum(cnt) OVER () AS n
         |  FROM cells),
         |hit AS (SELECT bucket FROM cum
         |        WHERE cum >= ceil(0.5 * n) AND cum - cnt < ceil(0.5 * n)),
         |thr AS (
         |  SELECT (CASE WHEN (bucket >> $QsBits) - 1 < 0 THEN bucket
         |               ELSE (bucket - ((bucket >> $QsBits) - 1) * $QsSubBuckets)
         |                    << ((bucket >> $QsBits) - 1) END)::BIGINT AS est
         |  FROM hit)
         |SELECT lang, count(*)::BIGINT AS n_kept, sum(doc_id)::BIGINT AS id_sum,
         |       min(v)::BIGINT AS min_chars, max(v)::BIGINT AS max_chars
         |FROM v CROSS JOIN thr WHERE v >= est
         |GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars").as("v"))
      val cells = docs
        .agg(graft.functions.GraftFunctions.quantile_sketch(col("v"), QsBits).as("sk"))
        .select(explode(col("sk")).as(Seq("bucket", "cnt")))
      val wCum = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      val rank = ceil(lit(0.5) * col("n"))
      val thr = cells
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .where(col("cum") >= rank && col("cum") - col("cnt") < rank)
        .withColumn("shift", shiftright(col("bucket"), QsBits) - 1)
        .select(when(col("shift") < 0, col("bucket"))
          .otherwise(expr(s"shiftleft(bucket - shift * $QsSubBuckets, shift)"))
          .cast("long").as("est"))
      docs.crossJoin(broadcast(thr))
        .where(col("v") >= col("est"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"),
          min(col("v")).as("min_chars"), max(col("v")).as("max_chars"))
        .orderBy(col("lang"))
    },

    // Inverted-index BUILD + PERSIST (the IndexStore lifecycle q00
    // established, applied to text): force-write the posting-block
    // artifact (entries carry doc:tf:dl — the norms live IN the
    // index, so serving never reads a corpus-sized doclen table) and
    // the 1-row scalars artifact, then report the per-BLOCK shard
    // manifest read back FROM the persisted parquet — the gate passes
    // only if what landed on disk is complete. A declared build entry
    // keeps the one-off build cost out of every serve-path timing.
    QueryDef("q0t_bm25_build",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2)
         |SELECT (doc_id // $IdxBlock)::BIGINT AS block,
         |       count(DISTINCT term)::BIGINT AS n_terms,
         |       count(*)::BIGINT AS n_postings,
         |       sum(tf)::BIGINT AS sum_tf
         |FROM tf GROUP BY 1 ORDER BY block""".stripMargin) { (spark, dir) =>
      val (post, _) = bm25Artifacts(spark, dir, force = true)
      post.groupBy(col("block"))
        .agg(count(lit(1)).as("n_terms"), sum(col("n_docs")).as("n_postings"),
          sum(col("sum_tf")).as("sum_tf"))
        .orderBy(col("block"))
    },

    // BM25 SERVED from the persisted index alone: the `term IN`
    // predicate pushes into the artifact's parquet scan (reads |Q|
    // terms' blocks, not the corpus), df is the sum of per-block doc
    // counts, dl comes out of the posting entries, and the scoring
    // tail is literally the same Column code as q137 — so this gate
    // reuses q137's corpus-form ORACLE verbatim: serving from the
    // artifact must lose nothing, down to the last score bit.
    QueryDef("q144_bm25_index_serve", bm25SearchSql) { (spark, dir) =>
      val (post, scal) = bm25Artifacts(spark, dir, force = false)
      graft.operators.Bm25.searchIndex(post, scal, Bm25Terms, 20)
    },

    // INDEX TOMBSTONE DELETE (the unlearning verb of the BM25
    // lifecycle, q287's sibling for the retrieval family): delete
    // doc_id % 7 = 0 from the PERSISTED index given only the ids —
    // affected blocks rewritten, deleted lengths recovered from the
    // postings themselves (no corpus access), scalars and per-term df
    // self-corrected — then serve the standard query. The oracle runs
    // the full BM25 directly over the RETAINED corpus: every score
    // depends on the deletion-corrected N, avgdl and df, so a single
    // stale statistic anywhere diverges the hash.
    QueryDef("q290_bm25_delete",
      bm25SearchFor("WHERE doc_id % 7 <> 0")) { (spark, dir) =>
      val (post, scal) = bm25Artifacts(spark, dir, force = false)
      val tomb = Tables.load(spark, dir, "documents")
        .where(col("doc_id") % 7 === 0).select(col("doc_id"))
      val (post2, scal2) = graft.operators.Bm25
        .deleteFromIndex(post, scal, tomb, IdxBlock)
      graft.operators.Bm25.searchIndex(post2, scal2, Bm25Terms, 20)
    },

    // Posting-list compression accounting: what delta-gap + LEB128
    // varint coding saves per term, computed ON the persisted index
    // (map-only parse of each block's entries, one partial-agg
    // exchange on `term`). Gaps restart at each block's base —
    // exactly how the blocked layout decodes independently per shard.
    // Byte lengths are pure integer arithmetic ((bitlen+6) div 7)
    // replayed by the oracle from the raw corpus via lag(), so the
    // gate also proves the artifact's doc-id ordering is exact.
    QueryDef("q145_posting_compression",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
         |d AS (
         |  SELECT term, doc_id, tf,
         |         coalesce(lag(doc_id) OVER (PARTITION BY term, doc_id // $IdxBlock
         |                                    ORDER BY doc_id),
         |                  (doc_id // $IdxBlock) * $IdxBlock) AS prev
         |  FROM tf),
         |b AS (
         |  SELECT term,
         |         (length(printf('%b', doc_id - prev)) + 6) // 7
         |         + (length(printf('%b', tf)) + 6) // 7 AS vb
         |  FROM d)
         |SELECT term, count(*)::BIGINT AS n_postings,
         |       (count(*) * 16)::BIGINT AS raw_bytes,
         |       sum(vb)::BIGINT AS varint_bytes,
         |       (sum(vb) * 10000 // (count(*) * 16))::BIGINT AS ratio_bp
         |FROM b GROUP BY term ORDER BY term""".stripMargin) { (spark, dir) =>
      import graft.operators.Bm25
      val (post, _) = bm25Artifacts(spark, dir, force = false)
      val withEs = post
        .select(col("term"), col("block"), split(col("postings"), ",").as("es"))
        .withColumn("ds", transform(col("es"),
          e => split(e, ":").getItem(0).cast("long")))
      val vbDocs = aggregate(
        transform(col("ds"), (d, i) => Bm25.varintBytes(
          d - when(i === lit(0), col("block") * lit(IdxBlock.toLong))
            .otherwise(get(col("ds"), i - lit(1))))),
        lit(0L), (a, x) => a + x)
      val vbTfs = aggregate(
        transform(col("es"),
          e => Bm25.varintBytes(split(e, ":").getItem(1).cast("long"))),
        lit(0L), (a, x) => a + x)
      withEs
        .select(col("term"), size(col("es")).cast("long").as("n"),
          (vbDocs + vbTfs).as("vb"))
        .groupBy(col("term"))
        .agg(sum(col("n")).as("n_postings"),
          (sum(col("n")) * 16).as("raw_bytes"),
          sum(col("vb")).as("varint_bytes"))
        .select(col("term"), col("n_postings"), col("raw_bytes"),
          col("varint_bytes"),
          expr("varint_bytes * 10000 div raw_bytes").as("ratio_bp"))
        .orderBy(col("term"))
    },

    // Incremental index MAINTENANCE: build the base index on 80% of
    // the corpus, the delta index on the interleaved 20% batch, fold
    // them with ONE full-outer (term, block) join — and the merge
    // must equal a from-scratch rebuild of the full corpus
    // byte-for-byte (the oracle rebuilds every posting string). This
    // is how the q0t artifact stays current at 100 TB: refresh cost
    // is O(delta + touched blocks), never a corpus re-scan.
    QueryDef("q146_index_merge",
      s"""WITH tok AS (
         |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
         |         unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |tf AS (SELECT term, doc_id, dl, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2, 3)
         |SELECT term, (doc_id // $IdxBlock)::BIGINT AS block,
         |       count(*)::BIGINT AS n_docs, sum(tf)::BIGINT AS sum_tf,
         |       array_to_string(
         |         array_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR)
         |                     || ':' || CAST(dl AS VARCHAR)
         |                   ORDER BY doc_id), ',') AS postings
         |FROM tf GROUP BY term, block ORDER BY term, block""".stripMargin) {
      (spark, dir) =>
      import graft.operators.Bm25
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("t"))
      val base = Bm25.buildIndex(
        docs.where(col("doc_id") % 5 =!= 0), "doc_id", "t", IdxBlock)
      val delta = Bm25.buildIndex(
        docs.where(col("doc_id") % 5 === 0), "doc_id", "t", IdxBlock)
      Bm25.mergeIndex(base, delta).orderBy(col("term"), col("block"))
    },

    // PHRASE mining (collocation extraction — the vocabulary-induction
    // primitive: BPE's first merge round IS the max-lift adjacent
    // pair): adjacent-bigram counts vs their unigram expectations,
    // ranked by lift = P(ab) / (P(a)·P(b)). Lift uses only *, / on
    // DOUBLEs in a FIXED operation order — every op IEEE
    // exactly-rounded, so the oracle replays the scores bit-for-bit
    // (the q137 odds-form discipline). Bigrams never cross document
    // boundaries. Scale: two corpus scans (unigrams, bigrams), both
    // partial-agg collapsed before their exchange; the unigram join
    // keys on the word (vocab-sized sides), corpus scalars broadcast;
    // top-50 via TakeOrderedAndProject.
    QueryDef("q149_phrase_mining",
      s"""WITH d AS (SELECT string_split(text, ' ') AS l FROM documents),
         |uni AS (SELECT unnest(l) AS w FROM d),
         |uc AS (SELECT w, count(*)::BIGINT AS c FROM uni GROUP BY 1),
         |n AS (SELECT count(*)::BIGINT AS nt FROM uni),
         |z AS (SELECT unnest(list_zip(l[:-2], l[2:])) AS p FROM d),
         |bg AS (SELECT p[1] AS w1, p[2] AS w2 FROM z),
         |np AS (SELECT count(*)::BIGINT AS npairs FROM bg),
         |bc AS (SELECT w1, w2, count(*)::BIGINT AS cab FROM bg
         |       GROUP BY 1, 2 HAVING count(*) >= $MinPhraseCount),
         |sc AS (
         |  SELECT w1, w2, cab,
         |         ((CAST(cab AS DOUBLE) * nt) / (CAST(a.c AS DOUBLE) * b.c))
         |           * (CAST(nt AS DOUBLE) / npairs) AS lift
         |  FROM bc JOIN uc a ON bc.w1 = a.w JOIN uc b ON bc.w2 = b.w
         |  CROSS JOIN n CROSS JOIN np)
         |SELECT w1, w2, cab, lift FROM sc
         |ORDER BY lift DESC, w1, w2 LIMIT 50""".stripMargin) { (spark, dir) =>
      val d = Tables.load(spark, dir, "documents").select(tokens(col("text")).as("l"))
      val uni = d.select(explode(col("l")).as("w"))
      val uc = uni.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val nt = uni.agg(count(lit(1)).as("nt"))
      val bg = d.select(explode(zip_with(
          slice(col("l"), lit(1), size(col("l")) - 1),
          slice(col("l"), lit(2), size(col("l")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val np = bg.agg(count(lit(1)).as("npairs"))
      val bc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cab"))
        .where(col("cab") >= MinPhraseCount)
      bc
        .join(uc.select(col("w").as("w1"), col("c").as("ca")), "w1")
        .join(uc.select(col("w").as("w2"), col("c").as("cb")), "w2")
        .crossJoin(broadcast(nt)).crossJoin(broadcast(np))
        .select(col("w1"), col("w2"), col("cab"),
          (((col("cab").cast("double") * col("nt"))
            / (col("ca").cast("double") * col("cb")))
            * (col("nt").cast("double") / col("npairs"))).as("lift"))
        .orderBy(col("lift").desc, col("w1"), col("w2")).limit(50)
    },

    // Distribution DRIFT monitor: compare two ingest slices' doc-length
    // distributions via their q112 sketch grids — per-bucket share in
    // basis points, top deltas first. The ops question ("did this
    // week's crawl shift?") answered WITHOUT re-scanning raw history:
    // at 100 TB each slice's sketch is a few hundred mergeable cells
    // persisted at ingest (q136's one-pass profile), and the drift
    // check joins two grids — data-free. Integer bp shares on
    // identical grids, so the gate is hash-exact; halves here are the
    // doc_id parity (the deterministic stand-in for two time slices).
    QueryDef("q154_drift_monitor",
      s"""WITH v AS (SELECT doc_id % 2 AS half, n_chars AS v FROM documents),
         |cells AS (
         |  SELECT half,
         |         (greatest(0, length(printf('%b', v)) - 1 - $QsBits) * $QsSubBuckets
         |          + (v >> greatest(0, length(printf('%b', v)) - 1 - $QsBits)))::BIGINT AS bucket,
         |         count(*)::BIGINT AS cnt
         |  FROM v GROUP BY 1, 2),
         |tot AS (SELECT half, sum(cnt)::BIGINT AS n FROM cells GROUP BY 1),
         |bp AS (SELECT half, bucket, (cnt * 10000 // n)::BIGINT AS bp
         |       FROM cells JOIN tot USING (half)),
         |a AS (SELECT bucket, bp FROM bp WHERE half = 0),
         |b AS (SELECT bucket, bp FROM bp WHERE half = 1),
         |j AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
         |             coalesce(a.bp, 0)::BIGINT AS bp_a,
         |             coalesce(b.bp, 0)::BIGINT AS bp_b
         |      FROM a FULL OUTER JOIN b ON a.bucket = b.bucket)
         |SELECT bucket, bp_a, bp_b, abs(bp_a - bp_b)::BIGINT AS delta_bp
         |FROM j ORDER BY delta_bp DESC, bucket LIMIT 10""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      val grids = Tables.load(spark, dir, "documents")
        .select((col("doc_id") % 2).as("half"), col("n_chars").as("v"))
        .groupBy(col("half"))
        .agg(graft.functions.GraftFunctions.quantile_sketch(col("v"), QsBits).as("sk"))
        .select(col("half"), explode(col("sk")).as(Seq("bucket", "cnt")))
      val tot = grids.groupBy(col("half")).agg(sum(col("cnt")).as("n"))
      val bp = grids.join(tot, "half")
        .select(col("half"), col("bucket"), expr("cnt * 10000 div n").as("bp"))
      val aHalf = bp.where(col("half") === 0).select(col("bucket"), col("bp").as("bpa"))
      val bHalf = bp.where(col("half") === 1).select(col("bucket"), col("bp").as("bpb"))
      aHalf.join(bHalf, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("bpa"), lit(0L)).as("bp_a"),
          coalesce(col("bpb"), lit(0L)).as("bp_b"))
        .withColumn("delta_bp", abs(col("bp_a") - col("bp_b")))
        .orderBy(col("delta_bp").desc, col("bucket")).limit(10)
    },

    // Tokenizer ENCODE — the text→token-ids step that actually feeds a
    // trainer (chunking q138 and packing q104 operate on counts; this
    // produces the id sequences): vocabulary = top-256 terms by
    // (freq desc, term), id = rank, OOV → 0. Vocab build is one
    // partial-agg'd frequency pass + a top-V heap
    // (TakeOrderedAndProject) + a rank window over only V rows; encode
    // is a BROADCAST map join (a 10⁶-term vocab is ~10 MB — always
    // broadcastable) and per-doc reassembly in position order, one
    // exchange keyed on doc_id. Gate encodes the first 50 docs
    // end-to-end; the full id STRINGS hash-compare, so ordering, OOV
    // handling, and the vocab ranking are all pinned at once.
    QueryDef("q157_vocab_encode",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         |         generate_subscripts(string_split(text, ' '), 1) AS pos
         |  FROM documents),
         |freq AS (SELECT term, count(*)::BIGINT AS c FROM toks GROUP BY 1),
         |vocab AS (
         |  SELECT term, CAST(row_number() OVER (ORDER BY c DESC, term) AS BIGINT) AS id
         |  FROM (SELECT term, c FROM freq ORDER BY c DESC, term LIMIT $VocabSize) t),
         |enc AS (
         |  SELECT t.doc_id, t.pos, coalesce(v.id, 0) AS id
         |  FROM toks t LEFT JOIN vocab v USING (term) WHERE t.doc_id < 50)
         |SELECT doc_id, count(*)::BIGINT AS n_tok,
         |       sum(CASE WHEN id = 0 THEN 1 ELSE 0 END)::BIGINT AS n_unk,
         |       array_to_string(array_agg(CAST(id AS VARCHAR) ORDER BY pos), ',') AS ids
         |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val toks = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos0", "term")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("term"))
      val topV = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term")).limit(VocabSize)
      // rank window runs over only the V surviving rows — planning-
      // scale work, not data-scale
      val w = Window.orderBy(col("c").desc, col("term"))
      val vocab = topV.withColumn("id", row_number().over(w).cast("long"))
        .select(col("term"), col("id"))
      toks.where(col("doc_id") < 50)
        .join(broadcast(vocab), Seq("term"), "left")
        .select(col("doc_id"), col("pos"), coalesce(col("id"), lit(0L)).as("id"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("id") === 0, 1).otherwise(0)).as("n_unk"),
          array_join(transform(
            sort_array(collect_list(struct(col("pos"), col("id")))),
            e => e.getField("id").cast("string")), ",").as("ids"))
        .orderBy(col("doc_id"))
    },

    // Reciprocal-rank FUSION — the hybrid-search combiner (the way
    // production retrieval merges lexical and dense rankers): each
    // ranker contributes 1/(60 + rank) for the documents it returned,
    // summed in FIXED ranker order (BM25 first, then the coverage
    // ranker) so the doubles replay bit-for-bit; a doc missing from a
    // ranker contributes exactly 0. Ranker A is the q137 BM25 top-20;
    // ranker B is a term-coverage ranker (distinct query terms
    // matched desc, then dl asc, then id — pure integers). Fusing
    // costs one join of two ≤k-row frames — nothing beyond the
    // retrievals themselves, which both remain term-pruned scans.
    QueryDef("q159_rrf_fusion",
      s"""WITH stats AS (
         |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
         |         string_split(text, ' ') AS t
         |  FROM documents),
         |scal AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS dl_sum FROM stats),
         |post AS (
         |  SELECT doc_id, dl, term, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM stats)
         |  WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY 1, 2, 3),
         |dft AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY 1),
         |sc AS (
         |  SELECT p.doc_id, p.term,
         |         ((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
         |           * (tf * 2.2::DOUBLE)
         |           / (tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * p.dl
         |              / (CAST(dl_sum AS DOUBLE) / n_docs))) AS s
         |  FROM post p JOIN dft USING (term) CROSS JOIN scal),
         |bm AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |  FROM (
         |    SELECT doc_id,
         |${Bm25Terms.map(t =>
            s"           coalesce(max(CASE WHEN term = '$t' THEN s END), 0.0::DOUBLE)")
            .mkString("", "\n           + \n", "")} AS score
         |    FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20) t),
         |cov AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY nterms DESC, dl, doc_id) AS BIGINT) AS rank
         |  FROM (
         |    SELECT p.doc_id, count(DISTINCT term)::BIGINT AS nterms, max(dl) AS dl
         |    FROM post p GROUP BY p.doc_id
         |    ORDER BY nterms DESC, dl, doc_id LIMIT 20) t),
         |fused AS (
         |  SELECT coalesce(bm.doc_id, cov.doc_id) AS doc_id,
         |         (CASE WHEN bm.rank IS NULL THEN 0.0::DOUBLE
         |               ELSE 1.0::DOUBLE / (60 + bm.rank) END)
         |         + (CASE WHEN cov.rank IS NULL THEN 0.0::DOUBLE
         |                 ELSE 1.0::DOUBLE / (60 + cov.rank) END) AS rrf
         |  FROM bm FULL OUTER JOIN cov ON bm.doc_id = cov.doc_id)
         |SELECT doc_id, rrf FROM fused
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("t"))
      val bm = graft.operators.Bm25.search(docs, "doc_id", "t", Bm25Terms, 20)
        .select(col("doc_id"),
          row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
            .cast("long").as("rank"))
      // coverage ranker: distinct query terms matched, then shortest
      // doc, then id — integer-deterministic end to end
      val cov = docs
        .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
          explode(col("t")).as("term"))
        .where(col("term").isin(Bm25Terms: _*))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("term")).as("nterms"), max(col("dl")).as("dl"))
        .orderBy(col("nterms").desc, col("dl"), col("doc_id")).limit(20)
        .select(col("doc_id"),
          row_number().over(Window.orderBy(col("nterms").desc, col("dl"),
            col("doc_id"))).cast("long").as("rank"))
      val contrib = (r: Column) =>
        when(r.isNull, lit(0.0)).otherwise(lit(1.0) / (lit(60) + r))
      bm.select(col("doc_id"), col("rank").as("bmr"))
        .join(cov.select(col("doc_id"), col("rank").as("cvr")),
          Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (contrib(col("bmr")) + contrib(col("cvr"))).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    },

    // SKIP-GRAM pair generation with frequency subsampling — the
    // word2vec/fastText embedding-training data prep (Mikolov et al.
    // 2013; the keep-rate is the paper's eq.-5 sqrt(T/f) form made
    // integer-exact): pairs within a ±2 window built by ONE per-row
    // nested comprehension (single Generate, no self-join on
    // position), deterministic subsampling by md5(doc:i:j) basis
    // points against the center word's corpus keep-rate. The rate
    // table joins pairs on the CENTER WORD — a vocab-keyed equi-join
    // (the BPE-encode call: vocab is too big to broadcast at corpus
    // scale). Keep-rate arithmetic: floor(sqrt(1e8·T DIV f)) is exact
    // (floor∘sqrt∘floor = floor∘sqrt on reals; BIGINT < 2^52 sqrt is
    // correctly rounded), bounded while 1e8·T < 2^63 ⇒ corpora to
    // ~9e10 tokens·1000; raise the divisor with scale.
    QueryDef("q209_skipgram_pairs",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |freq AS (SELECT w, count(*)::BIGINT AS f FROM (
        |           SELECT unnest(t) AS w FROM toks) u GROUP BY w),
        |tt AS (SELECT (sum(f) // 1000)::BIGINT AS T FROM freq),
        |rate AS (SELECT w, least(10000,
        |                CAST(floor(sqrt(((100000000 * T) // f)::DOUBLE)) AS BIGINT))
        |                  AS rate_bp
        |         FROM freq CROSS JOIN tt),
        |pr AS (
        |  SELECT doc_id, flatten([
        |    [ {'center': t[i], 'context': t[j],
        |       'bp': ('0x' || substr(md5('sg:' || doc_id || ':' || i || ':' || j), 1, 7))::BIGINT % 10000 }
        |      for j in generate_series(greatest(1, i - 2), least(len(t), i + 2))
        |      if j != i ]
        |    for i in generate_series(1, len(t)) ]) AS ps
        |  FROM toks),
        |pairs AS (SELECT u.center AS center, u.context AS context, u.bp AS bp
        |          FROM (SELECT unnest(ps) AS u FROM pr) z)
        |SELECT center, context, count(*)::BIGINT AS n_pairs
        |FROM pairs JOIN rate ON pairs.center = rate.w
        |WHERE bp < rate_bp
        |GROUP BY center, context
        |ORDER BY n_pairs DESC, center, context LIMIT 50""".stripMargin) {
      (spark, dir) =>
        val toks = Tables.loadParallel(spark, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("t"))
        val freq = toks.select(explode(col("t")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("f"))
        val tt = freq.agg(sum(col("f")).as("s"))
          .select(expr("s DIV 1000").as("T"))
        val rate = freq.crossJoin(broadcast(tt))
          .select(col("w"), least(lit(10000L),
            floor(sqrt(expr("(100000000L * T) DIV f").cast("double")))
              .cast("long")).as("rate_bp"))
        val pairs = toks.select(explode(expr(
          """flatten(transform(sequence(1, size(t)), i ->
            |  transform(
            |    filter(sequence(greatest(1, i - 2), least(size(t), i + 2)),
            |           j -> j != i),
            |    j -> struct(
            |      element_at(t, cast(i AS INT)) AS center,
            |      element_at(t, cast(j AS INT)) AS context,
            |      cast(conv(substring(md5(concat('sg:', cast(doc_id AS string),
            |        ':', cast(i AS string), ':', cast(j AS string))), 1, 7),
            |        16, 10) AS BIGINT) % 10000 AS bp))))""".stripMargin)).as("p"))
          .select(col("p.center").as("center"), col("p.context").as("context"),
            col("p.bp").as("bp"))
        pairs.join(rate.withColumnRenamed("w", "center"), Seq("center"))
          .where(col("bp") < col("rate_bp"))
          .groupBy(col("center"), col("context"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("n_pairs").desc, col("center"), col("context"))
          .limit(50)
    },

    // AMS "tug-of-war" sketch (Alon–Matias–Szegedy 1996) for the
    // SECOND frequency moment F2 = Σ f(t)² — the self-join-size /
    // skew estimator the CMS family can't give: 16 signed counters
    // X_r = Σ_tokens sign_r(token), est = median over 4 groups of the
    // group's mean X². The sign family is the replayable md5-slice
    // convention (q105), so every counter AND the estimate
    // hash-compare EXACTLY against a DuckDB replay — no probabilistic
    // bound in the gate. Spark computes all 16 counters in ONE
    // map-side-combined pass (16 sum columns over the token scan, vs
    // the oracle's ×16 generate_series explode); exact F2 costs one
    // grouped count over distinct tokens. Magnitudes: |X_r| ≤ N
    // tokens, so sum_sq ≤ 4N² — inside BIGINT through N ~ 10⁹ tokens
    // per sketch partition at 100 TB (shard the sketch by corpus
    // split above that).
    QueryDef("q226_ams_f2",
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |x AS (
        |  SELECT r, CAST(sum(CASE WHEN ('0x' || substr(md5('ams' || r || ':' || t), 1, 7))::BIGINT % 2 = 0
        |                          THEN 1 ELSE -1 END) AS BIGINT) AS xr
        |  FROM tok CROSS JOIN generate_series(0, 15) g(r) GROUP BY r),
        |grp AS (
        |  SELECT r // 4 AS grp, CAST(sum(xr * xr) AS BIGINT) AS sum_sq,
        |         CAST(sum(xr * (r + 1)) AS BIGINT) AS chk
        |  FROM x GROUP BY r // 4),
        |med AS (
        |  SELECT sum_sq AS s, row_number() OVER (ORDER BY sum_sq) AS rn
        |  FROM grp),
        |est AS (SELECT CAST(max(CASE WHEN rn = 2 THEN s END) // 4 AS BIGINT) AS est
        |        FROM med),
        |f2 AS (SELECT CAST(sum(n * n) AS BIGINT) AS f2_exact FROM (
        |         SELECT count(*) AS n FROM tok GROUP BY t) c)
        |SELECT grp, sum_sq, chk, est, f2_exact,
        |       CAST((10000 * est) // f2_exact AS BIGINT) AS ratio_bp
        |FROM grp CROSS JOIN est CROSS JOIN f2
        |ORDER BY grp""".stripMargin) { (spark, dir) =>
      val toks = Tables.loadParallel(spark, dir, "documents")
        .select(explode(split(col("text"), " ")).as("t"))
      // sign_r is a pure function of the TOKEN VALUE, so Σ_tokens
      // sign_r(t) = Σ_{distinct t} f(t)·sign_r(t): hash at VOCAB grain
      // (16 md5 per distinct token) instead of stream grain (16 md5
      // per occurrence) — identical sums, and the md5 work drops by
      // the corpus/vocab ratio (~10⁴× at sf0.1; larger at 100 TB).
      // The same grouped frame feeds F2 below, collapsing two full
      // token-stream passes into one map-side-combined count.
      val byTok = FrameMemo.checkpointed(
        toks.groupBy(col("t")).agg(count(lit(1)).as("n")))
      def sign(r: Int): Column =
        when(conv(substring(md5(concat(lit(s"ams$r:"), col("t"))), 1, 7),
          16, 10).cast("long") % 2 === 0, col("n")).otherwise(-col("n"))
      val sums = byTok.agg(sum(sign(0)).cast("long").as("x0"),
        (1 until 16).map(r => sum(sign(r)).cast("long").as(s"x$r")): _*)
      val grp = sums.select(explode(expr(
        """transform(sequence(0, 3), g -> struct(
          |  cast(g AS BIGINT) AS grp,
          |  aggregate(sequence(4*g, 4*g + 3), 0L,
          |    (a, r) -> a + element_at(array(x0,x1,x2,x3,x4,x5,x6,x7,x8,x9,
          |      x10,x11,x12,x13,x14,x15), cast(r + 1 AS INT))
          |      * element_at(array(x0,x1,x2,x3,x4,x5,x6,x7,x8,x9,
          |      x10,x11,x12,x13,x14,x15), cast(r + 1 AS INT))) AS sum_sq,
          |  aggregate(sequence(4*g, 4*g + 3), 0L,
          |    (a, r) -> a + element_at(array(x0,x1,x2,x3,x4,x5,x6,x7,x8,x9,
          |      x10,x11,x12,x13,x14,x15), cast(r + 1 AS INT))
          |      * (r + 1)) AS chk))""".stripMargin)).as("g"))
        .select(col("g.grp").as("grp"), col("g.sum_sq").as("sum_sq"),
          col("g.chk").as("chk"))
      val est = grp.agg(expr(
        "element_at(array_sort(collect_list(sum_sq)), 2) DIV 4").as("est"))
      val f2 = byTok.agg(sum(col("n") * col("n")).cast("long").as("f2_exact"))
      grp.crossJoin(broadcast(est)).crossJoin(broadcast(f2))
        .select(col("grp"), col("sum_sq"), col("chk"), col("est"),
          col("f2_exact"),
          expr("(10000L * est) DIV f2_exact").as("ratio_bp"))
        .orderBy(col("grp"))
    },

    // APPROXIMATE MAD through the quantile sketch — the measured
    // 100 TB routing q216's scaladoc promises: exact MAD costs two
    // full-corpus rank windows partitioned by a 3-value key (7.7× for
    // 10× data, parallelism capped at the group count), while this
    // path is three LINEAR scans whose exchanges carry O(cells)
    // mergeable sketch rows: sketch(v) → median estimate, sketch of
    // |v − m̂| → MAD estimate, one map-only outlier count against the
    // broadcast thresholds. Both medians read off the deterministic
    // HDR grid (q112's integer bucketing), so every estimate
    // hash-compares against the DuckDB replay — the ±2^-bits
    // relative-error bound vs the exact q216 values is
    // QuantileSketchSpec territory; this gate pins the arithmetic.
    QueryDef("q227_mad_sketch",
      s"""WITH v AS (
         |  SELECT l_returnflag AS flag,
         |         CAST(round(l_extendedprice * 100) AS BIGINT) AS v
         |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
         |c1 AS (
         |  SELECT flag, ${qsBucketSql("v")} AS bucket, count(*)::BIGINT AS cnt
         |  FROM v GROUP BY 1, 2),
         |m1 AS (
         |  SELECT flag, $qsEstSql AS med_est
         |  FROM (SELECT flag, bucket, cnt,
         |               sum(cnt) OVER (PARTITION BY flag ORDER BY bucket) AS cum,
         |               sum(cnt) OVER (PARTITION BY flag) AS n
         |        FROM c1) t1
         |  WHERE cum >= ceil(0.5 * n) AND cum - cnt < ceil(0.5 * n)),
         |d AS (SELECT v.flag AS flag, abs(v - med_est) AS av
         |      FROM v JOIN m1 ON v.flag = m1.flag),
         |c2 AS (
         |  SELECT flag, ${qsBucketSql("av")} AS bucket, count(*)::BIGINT AS cnt
         |  FROM d GROUP BY 1, 2),
         |m2 AS (
         |  SELECT flag, $qsEstSql AS mad_est
         |  FROM (SELECT flag, bucket, cnt,
         |               sum(cnt) OVER (PARTITION BY flag ORDER BY bucket) AS cum,
         |               sum(cnt) OVER (PARTITION BY flag) AS n
         |        FROM c2) t2
         |  WHERE cum >= ceil(0.5 * n) AND cum - cnt < ceil(0.5 * n))
         |SELECT v.flag AS flag, count(*) AS n_rows,
         |       m1.med_est AS med_est, m2.mad_est AS mad_est,
         |       CAST(sum(CASE WHEN abs(v - med_est) > 3 * mad_est
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers_est
         |FROM v JOIN m1 ON v.flag = m1.flag JOIN m2 ON v.flag = m2.flag
         |GROUP BY v.flag, m1.med_est, m2.mad_est
         |ORDER BY flag""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      val v = Tables.load(spark, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          round(col("l_extendedprice") * 100).cast("long").as("v"))
        .where(col("v").isNotNull)
      def sketchMedian(df: DataFrame, valCol: String): DataFrame = {
        val cells = df.groupBy(col("flag"))
          .agg(graft.functions.GraftFunctions
            .quantile_sketch(col(valCol), QsBits).as("sk"))
          .select(col("flag"), explode(col("sk")).as(Seq("bucket", "cnt")))
        val wCum = Window.partitionBy(col("flag")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy(col("flag"))
        val rank = ceil(col("n") * 0.5)
        cells.withColumn("cum", sum(col("cnt")).over(wCum))
          .withColumn("n", sum(col("cnt")).over(wAll))
          .where(col("cum") >= rank && col("cum") - col("cnt") < rank)
          .withColumn("shift", shiftright(col("bucket"), QsBits) - 1)
          .select(col("flag"), when(col("shift") < 0, col("bucket"))
            .otherwise(expr(s"shiftleft(bucket - shift * $QsSubBuckets, shift)"))
            .cast("long").as("est"))
      }
      val med = sketchMedian(v, "v").withColumnRenamed("est", "med_est")
      val d = v.join(broadcast(med), Seq("flag"))
        .select(col("flag"), abs(col("v") - col("med_est")).as("av"))
      val mad = sketchMedian(d, "av").withColumnRenamed("est", "mad_est")
      v.join(broadcast(med), Seq("flag")).join(broadcast(mad), Seq("flag"))
        .groupBy(col("flag"), col("med_est"), col("mad_est"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(abs(col("v") - col("med_est")) > col("mad_est") * 3, 1L)
            .otherwise(0L)).as("n_outliers_est"))
        .select(col("flag"), col("n_rows"), col("med_est"), col("mad_est"),
          col("n_outliers_est"))
        .orderBy(col("flag"))
    },

    // GREEDY longest-match subword segmentation (the WordPiece /
    // MaxMatch tokenizer family — Wu et al. 2016 — beside BPE q167 and
    // the top-V word vocab q157): induce a [[WpVocab]]-piece substring
    // vocabulary by occurrence weight, then segment every DISTINCT
    // word by repeatedly consuming the longest vocab prefix (single
    // chars are the implicit fallback, so segmentation is total).
    // The greedy loop is [[WpSteps]] unrolled state steps of an
    // `aggregate` fold — (pos, n_pieces, boundary checksum Σ pos·len)
    // — probing the vocab as a LITERAL map (the q199 broadcast-literal
    // lesson; the 64-piece artifact is driver-bounded, the BpeTrain
    // contract). Work is proportional to DISTINCT words (the BPE
    // unique-word discipline); the corpus is touched once for counts.
    // The oracle replays vocab induction AND all unrolled steps with
    // MATERIALIZED CTEs; the `<ALL>` summary row weights every word's
    // piece count and checksum by its corpus frequency, so ONE word
    // segmented differently anywhere fails the hash.
    QueryDef("q233_wordpiece_encode", {
      val rounds = (1 to WpSteps).map { k =>
        s"""s$k AS MATERIALIZED (
           |  SELECT word, c,
           |    CASE WHEN act THEN pos + st ELSE pos END AS pos,
           |    CASE WHEN act THEN np + 1 ELSE np END AS np,
           |    CASE WHEN act THEN chk + pos * st ELSE chk END AS chk
           |  FROM (
           |    SELECT word, c, pos, np, chk, pos <= len(word) AS act,
           |      CASE WHEN len(word) - pos + 1 >= 4
           |                AND substr(word, pos, 4) IN (SELECT piece FROM vocab) THEN 4
           |           WHEN len(word) - pos + 1 >= 3
           |                AND substr(word, pos, 3) IN (SELECT piece FROM vocab) THEN 3
           |           WHEN len(word) - pos + 1 >= 2
           |                AND substr(word, pos, 2) IN (SELECT piece FROM vocab) THEN 2
           |           ELSE 1 END AS st
           |    FROM s${k - 1}) t$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH toks AS (
         |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
         |w AS (SELECT word, count(*)::BIGINT AS c FROM toks GROUP BY word),
         |cand AS (
         |  SELECT piece, sum(c)::BIGINT AS wgt FROM (
         |    SELECT c, unnest([substr(word, i, 2)
         |      for i in generate_series(1, len(word) - 1)]) AS piece FROM w
         |    UNION ALL
         |    SELECT c, unnest([substr(word, i, 3)
         |      for i in generate_series(1, len(word) - 2)]) FROM w
         |    UNION ALL
         |    SELECT c, unnest([substr(word, i, 4)
         |      for i in generate_series(1, len(word) - 3)]) FROM w) u
         |  GROUP BY piece),
         |vocab AS MATERIALIZED (
         |  SELECT piece FROM cand ORDER BY wgt DESC, piece LIMIT $WpVocab),
         |s0 AS (SELECT word, c, 1 AS pos, 0 AS np, 0::BIGINT AS chk FROM w),
         |$rounds
         |SELECT * FROM (
         |  SELECT * FROM (
         |    SELECT word, c, CAST(np AS BIGINT) AS n_pieces,
         |           CAST(chk AS BIGINT) AS chk
         |    FROM s$WpSteps ORDER BY c DESC, word LIMIT 50) det
         |  UNION ALL
         |  SELECT '<ALL>', CAST(sum(c) AS BIGINT),
         |         CAST(sum(np * c) AS BIGINT), CAST(sum(chk * c) AS BIGINT)
         |  FROM s$WpSteps) u
         |ORDER BY CASE WHEN word = '<ALL>' THEN 1 ELSE 0 END,
         |         c DESC, word""".stripMargin
    }) { (spark, dir) =>
      val w = Tables.load(spark, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
      // candidate pieces: every substring of length 2..4, weighted by
      // the word's corpus count (one row per position — both engines)
      // NB sequence(1, 0) is a DESCENDING [1,0] in Spark, not empty —
      // words shorter than the piece length must branch explicitly
      val cand = w.select(col("c"), explode(expr(
        """flatten(transform(array(2, 3, 4), n ->
          |  if(length(word) >= n,
          |     transform(sequence(1, length(word) - n + 1),
          |       i -> substring(word, cast(i AS INT), n)),
          |     cast(array() AS array<string>))))""".stripMargin))
        .as("piece"))
        .groupBy(col("piece")).agg(sum(col("c")).as("wgt"))
      val pieces = cand.orderBy(col("wgt").desc, col("piece")).limit(WpVocab)
        .collect().map(_.getString(0))
      val vocabMap = typedLit(pieces.map(_ -> true).toMap)
      def stepOf(word: Column, pos: Column): Column = {
        val rem = length(word) - pos + 1
        def hit(n: Int) =
          rem >= n && element_at(vocabMap, word.substr(pos, lit(n))).isNotNull
        when(hit(4), 4).when(hit(3), 3).when(hit(2), 2).otherwise(1)
      }
      val seg = w.withColumn("s", aggregate(
        sequence(lit(1), lit(WpSteps)),
        struct(lit(1).as("pos"), lit(0).as("np"), lit(0L).as("chk")),
        (s, _) => {
          val pos = s.getField("pos")
          val st = stepOf(col("word"), pos)
          when(pos <= length(col("word")), struct(
            (pos + st).as("pos"), (s.getField("np") + 1).as("np"),
            (s.getField("chk") + pos.cast("long") * st.cast("long")).as("chk")))
            .otherwise(s)
        }))
        .select(col("word"), col("c"),
          col("s.np").cast("long").as("n_pieces"),
          col("s.chk").as("chk"))
      val detail = seg.orderBy(col("c").desc, col("word")).limit(50)
      val summary = seg.agg(sum(col("c")).as("c"),
        sum(col("n_pieces") * col("c")).as("n_pieces"),
        sum(col("chk") * col("c")).as("chk"))
        .select(lit("<ALL>").as("word"), col("c"), col("n_pieces"), col("chk"))
      // Deterministic emit order (the q247 hazard): detail rows by
      // corpus count desc then word, the <ALL> summary keyed last.
      detail.unionByName(summary)
        .orderBy((col("word") === "<ALL>").cast("int"),
          col("c").desc, col("word"))
    },

    // UNIGRAM-LM (SentencePiece-style) VITERBI segmentation — the
    // third tokenizer family beside greedy WordPiece (q233) and BPE
    // (q167-170): pieces scored by corpus log-probability (SIGNED
    // micro-nats, the q247 half-up-floor ln discipline), every word
    // segmented by exact dynamic programming — min total cost over
    // all segmentations, NOT greedy longest-match. The DP state packs
    // (cost, n_pieces, boundary checksum) into ONE BIGINT
    // (cost·8192 + np·512 + chk — bounds proven in-code), so the min
    // is lexicographic and TIES ARE DETERMINISTIC. Spark runs the DP
    // as an `aggregate` fold building the best-cost array; the oracle
    // unrolls the same recurrence over [[UgMaxLen]] position columns
    // (words longer are excluded in BOTH surfaces — a shared, loud
    // cap). Work ∝ distinct words; the corpus is touched once for
    // counts; the [[UgVocab]]-piece vocabulary is driver-bounded (the
    // BpeTrain contract) and probed as a literal map.
    QueryDef("q258_unigram_viterbi", {
      val unigramCands = (1 to 4).map(n =>
        s"SELECT c, unnest([substr(word, i, $n) for i in " +
          s"generate_series(1, len(word) - ${n - 1})]) AS piece FROM w")
        .mkString("\n    UNION ALL ")
      val steps = (1 to UgMaxLen).map { k =>
        val cands = (1 to math.min(4, k)).map { j =>
          val start = k - j + 1
          val miss =
            if (j == 1) s"${UgPenaltyMicro * 8192L + 512L} + $start"
            else UgBig.toString
          s"coalesce((SELECT cost * 8192 + 512 + ${start.toLong * j} FROM vocab v" +
            s" WHERE v.piece = substr(word, $start, $j)), $miss) + b${k - j}"
        }.mkString("least(", ",\n      ", ")")
        s"""s$k AS MATERIALIZED (
           |  SELECT *, CASE WHEN l >= $k THEN
           |    $cands
           |  ELSE NULL END AS b$k FROM s${k - 1})""".stripMargin
      }.mkString(",\n")
      val finCase = (1 to UgMaxLen).map(k => s"WHEN $k THEN b$k")
        .mkString("CASE l ", " ", " END")
      s"""WITH toks AS (
         |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
         |w AS (SELECT word, count(*)::BIGINT AS c FROM toks
         |      WHERE len(word) BETWEEN 1 AND $UgMaxLen GROUP BY word),
         |cand AS (
         |  SELECT piece, sum(c)::BIGINT AS wgt FROM (
         |    $unigramCands) u
         |  GROUP BY piece),
         |tot AS (SELECT CAST(sum(wgt) AS BIGINT) AS tot FROM cand),
         |vocab AS MATERIALIZED (
         |  SELECT piece,
         |         -CAST(floor(ln(wgt::DOUBLE / tot) * 1000000 + 0.5) AS BIGINT) AS cost
         |  FROM (SELECT piece, wgt FROM cand
         |        ORDER BY wgt DESC, piece LIMIT $UgVocab) t CROSS JOIN tot),
         |s0 AS (SELECT word, c, len(word) AS l, 0::BIGINT AS b0 FROM w),
         |$steps,
         |seg AS (
         |  SELECT word, c, packed // 8192 AS cost_micro,
         |         (packed % 8192) // 512 AS n_pieces, packed % 512 AS chk
         |  FROM (SELECT word, c, $finCase AS packed FROM s$UgMaxLen) f)
         |SELECT * FROM (
         |  SELECT * FROM (
         |    SELECT word, c, CAST(cost_micro AS BIGINT) AS cost_micro,
         |           CAST(n_pieces AS BIGINT) AS n_pieces,
         |           CAST(chk AS BIGINT) AS chk
         |    FROM seg ORDER BY c DESC, word LIMIT 20) det
         |  UNION ALL
         |  SELECT '<ALL>', CAST(sum(c) AS BIGINT),
         |         CAST(sum(cost_micro * c) AS BIGINT),
         |         CAST(sum(n_pieces * c) AS BIGINT),
         |         CAST(sum(chk * c) AS BIGINT)
         |  FROM seg) u
         |ORDER BY CASE WHEN word = '<ALL>' THEN 1 ELSE 0 END,
         |         c DESC, word""".stripMargin
    }) { (spark, dir) =>
      val w = Tables.load(spark, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .where(length(col("word")).between(1, UgMaxLen))
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
      val cand = w.select(col("c"), explode(expr(
        """flatten(transform(array(1, 2, 3, 4), n ->
          |  if(length(word) >= n,
          |     transform(sequence(1, length(word) - n + 1),
          |       i -> substring(word, cast(i AS INT), n)),
          |     cast(array() AS array<string>))))""".stripMargin))
        .as("piece"))
        .groupBy(col("piece")).agg(sum(col("c")).as("wgt"))
      val tot = cand.agg(sum(col("wgt"))).head().getLong(0)
      // driver-bounded vocab (<= UgVocab rows); cost in micro-nats via
      // the identical double division + Math.log the oracle's ln uses
      val vocab = cand.orderBy(col("wgt").desc, col("piece")).limit(UgVocab)
        .collect().map(r => r.getString(0) ->
          -math.floor(math.log(r.getLong(1).toDouble / tot) * 1e6 + 0.5).toLong)
        .toMap
      val vocabMap = typedLit(vocab)
      // packed-candidate delta for taking piece word[i-j+1 .. i]:
      // cost*8192 (cost lane) + 512 (one piece) + start*j (checksum)
      def candOf(acc: Column, i: Column, j: Int): Column = {
        val start = i - j + 1
        val cost = element_at(vocabMap, col("word").substr(start, lit(j)))
        val delta = when(cost.isNotNull,
          cost * 8192L + 512L + start.cast("long") * j)
          .otherwise(
            if (j == 1) lit(UgPenaltyMicro * 8192L + 512L) + start.cast("long")
            else lit(UgBig))
        when(i >= j, element_at(acc, (i - j + 1).cast("int")) + delta)
          .otherwise(lit(UgBig))
      }
      val seg = w.withColumn("packed", element_at(
        aggregate(sequence(lit(1), length(col("word"))), array(lit(0L)),
          (acc, i) => concat(acc, array(least(
            candOf(acc, i, 1), candOf(acc, i, 2),
            candOf(acc, i, 3), candOf(acc, i, 4))))),
        (length(col("word")) + 1).cast("int")))
        .select(col("word"), col("c"),
          expr("packed DIV 8192L").as("cost_micro"),
          expr("(packed % 8192L) DIV 512L").as("n_pieces"),
          expr("packed % 512L").as("chk"))
      val detail = seg.orderBy(col("c").desc, col("word")).limit(20)
      val summary = seg.agg(sum(col("c")).as("c"),
        sum(col("cost_micro") * col("c")).as("cost_micro"),
        sum(col("n_pieces") * col("c")).as("n_pieces"),
        sum(col("chk") * col("c")).as("chk"))
        .select(lit("<ALL>").as("word"), col("c"), col("cost_micro"),
          col("n_pieces"), col("chk"))
      detail.unionByName(summary)
        .orderBy((col("word") === "<ALL>").cast("int"),
          col("c").desc, col("word"))
    },

    // PER-ROW percentile feature off the broadcast sketch grid — the
    // map-only way to attach "where does this doc sit in its
    // language's length distribution" to every row at 100 TB: the
    // per-lang HDR grid (one O(cells) agg) turns into a broadcast
    // cumulative table, and each doc probes it by its own bucket id —
    // a codegen'd integer expression + one broadcast equi-join, no
    // corpus window, no corpus sort (contrast: exact percent_rank
    // costs a full per-lang sort — the q216 exactness-vs-sketch
    // routing, applied to a per-ROW feature). The gate pins every
    // doc's percentile through the per-(lang, decile) census with an
    // id checksum; the grid arithmetic replays exactly in DuckDB.
    QueryDef("q239_percentile_feature",
      s"""WITH v AS (
         |  SELECT doc_id, lang, n_chars AS v FROM documents),
         |cells AS (
         |  SELECT lang, ${qsBucketSql("v")} AS bucket, count(*)::BIGINT AS cnt
         |  FROM v GROUP BY 1, 2),
         |grid AS (
         |  SELECT lang, bucket,
         |         sum(cnt) OVER (PARTITION BY lang ORDER BY bucket) AS cum,
         |         sum(cnt) OVER (PARTITION BY lang) AS n
         |  FROM cells),
         |probe AS (
         |  SELECT doc_id, v.lang AS lang,
         |         CAST((10000 * cum) // n AS BIGINT) AS pct_bp
         |  FROM v JOIN grid ON v.lang = grid.lang
         |       AND grid.bucket = ${qsBucketSql("v")})
         |SELECT lang, CAST(pct_bp // 1000 AS BIGINT) AS decile,
         |       count(*) AS n_docs,
         |       CAST(sum(doc_id) AS BIGINT) AS chk
         |FROM probe GROUP BY 1, 2 ORDER BY lang, decile""".stripMargin) {
      (spark, dir) =>
        graft.functions.GraftFunctions.register(spark)
        val v = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars").as("v"))
        val cells = v.groupBy(col("lang"))
          .agg(graft.functions.GraftFunctions
            .quantile_sketch(col("v"), QsBits).as("sk"))
          .select(col("lang"), explode(col("sk")).as(Seq("bucket", "cnt")))
        val wCum = Window.partitionBy(col("lang")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy(col("lang"))
        val grid = cells
          .withColumn("cum", sum(col("cnt")).over(wCum))
          .withColumn("n", sum(col("cnt")).over(wAll))
          .select(col("lang"), col("bucket"), col("cum"), col("n"))
        // Spark mirror of the grid's integer bucket id: floor-log2 via
        // the binary-string length (the q112 DuckDB printf('%b') trick)
        v.withColumn("shift",
            greatest(lit(0), length(bin(col("v"))) - 1 - QsBits))
          .withColumn("bucket", expr(
            s"cast(shift AS BIGINT) * $QsSubBuckets" +
              " + shiftright(v, cast(shift AS INT))"))
          .join(broadcast(grid), Seq("lang", "bucket"))
          .select(col("doc_id"), col("lang"),
            expr("(10000L * cum) DIV n").as("pct_bp"))
          .groupBy(col("lang"), expr("pct_bp DIV 1000").as("decile"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).cast("long").as("chk"))
          .orderBy(col("lang"), col("decile"))
    },

    // POPULATION STABILITY INDEX over the q154 drift grids — the
    // scorecard-monitoring statistic (Σ (p−q)·ln(p/q)) beside q154's
    // share deltas: shares in integer basis points off the two
    // slices' sketch grids, the log factor quantized to SIGNED
    // micro-nats with the DSIR half-up floor (engine round() tie
    // rules differ on negatives), contribution = (p_bp−q_bp)·l_micro
    // exact BIGINT at scale 10¹⁰·PSI. Buckets empty on either side
    // are skipped (the standard PSI zero-cell practice — documented,
    // and the inner join makes it structural). The `-1` summary row
    // carries the full statistic so one drifted cell anywhere moves
    // the hash; the drift check itself reads only sketch cells.
    QueryDef("q247_psi_drift",
      s"""WITH v AS (SELECT doc_id % 2 AS half, n_chars AS v FROM documents),
         |cells AS (
         |  SELECT half, ${qsBucketSql("v")} AS bucket, count(*)::BIGINT AS cnt
         |  FROM v GROUP BY 1, 2),
         |tot AS (SELECT half, CAST(sum(cnt) AS BIGINT) AS n
         |        FROM cells GROUP BY half),
         |bp AS (SELECT half, bucket, CAST((cnt * 10000) // n AS BIGINT) AS bp
         |       FROM cells JOIN tot USING (half)),
         |a AS (SELECT bucket, bp AS p FROM bp WHERE half = 0),
         |b AS (SELECT bucket, bp AS q FROM bp WHERE half = 1),
         |k AS (
         |  SELECT a.bucket AS bucket, p, q,
         |         CAST(floor(ln(CAST(p AS DOUBLE) / q) * 1000000 + 0.5)
         |              AS BIGINT) AS l_micro
         |  FROM a JOIN b ON a.bucket = b.bucket WHERE p > 0 AND q > 0)
         |SELECT * FROM (
         |  SELECT * FROM (
         |    SELECT bucket, p AS p_bp, q AS q_bp, l_micro,
         |           CAST((p - q) * l_micro AS BIGINT) AS contrib
         |    FROM k ORDER BY abs((p - q) * l_micro) DESC, bucket LIMIT 10) t
         |  UNION ALL
         |  SELECT -1, CAST(sum(p) AS BIGINT), CAST(sum(q) AS BIGINT),
         |         CAST(count(*) AS BIGINT),
         |         CAST(sum((p - q) * l_micro) AS BIGINT)
         |  FROM k) u
         |ORDER BY CASE WHEN bucket = -1 THEN 1 ELSE 0 END,
         |         abs(contrib) DESC, bucket""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      val v = Tables.load(spark, dir, "documents")
        .select((col("doc_id") % 2).as("half"), col("n_chars").as("v"))
      val cells = v.groupBy(col("half"))
        .agg(graft.functions.GraftFunctions
          .quantile_sketch(col("v"), QsBits).as("sk"))
        .select(col("half"), explode(col("sk")).as(Seq("bucket", "cnt")))
      val tot = cells.groupBy(col("half")).agg(sum(col("cnt")).as("n"))
      val bp = cells.join(tot, Seq("half"))
        .select(col("half"), col("bucket"),
          expr("(cnt * 10000) DIV n").as("bp"))
      val k = bp.where(col("half") === 0)
        .select(col("bucket"), col("bp").as("p"))
        .join(bp.where(col("half") === 1)
          .select(col("bucket"), col("bp").as("q")), Seq("bucket"))
        .where(col("p") > 0 && col("q") > 0)
        .withColumn("l_micro",
          floor(log(col("p").cast("double") / col("q")) * 1000000 + 0.5)
            .cast("long"))
        .withColumn("contrib", (col("p") - col("q")) * col("l_micro"))
      val top = k
        .select(col("bucket"), col("p").as("p_bp"), col("q").as("q_bp"),
          col("l_micro"), col("contrib"))
        .orderBy(abs(col("contrib")).desc, col("bucket")).limit(10)
      val summary = k.agg(sum(col("p")).cast("long").as("p_bp"),
        sum(col("q")).cast("long").as("q_bp"),
        count(lit(1)).as("l_micro"),
        sum(col("contrib")).cast("long").as("contrib"))
        .select(lit(-1L).as("bucket"), col("p_bp"), col("q_bp"),
          col("l_micro"), col("contrib"))
      // Deterministic emit order: an inner ORDER BY ... LIMIT does not
      // survive a UNION ALL in either engine, so re-impose it outside
      // with the -1 summary row keyed to sort last.
      top.unionByName(summary)
        .orderBy((col("bucket") === -1).cast("int"),
          abs(col("contrib")).desc, col("bucket"))
    },

    // JENSEN-SHANNON DIVERGENCE between two corpus slices' unigram
    // token distributions (even vs odd doc_id) — the symmetric,
    // bounded drift statistic beside q247's PSI (which reads sketch
    // grids; this reads the full dynamic term set). Dynamic keys break
    // fixed-order double summation, so the gate uses the repo's
    // micro-unit discipline: each TERM's contribution
    // 0.5·(p·ln(p/m) + q·ln(q/m)) is computed in double from exact
    // integer (count, total) pairs — deterministic per term, ln parity
    // per the q247/q258 precedent — then quantized to integer
    // PICONATS and summed order-free. One exchange on the token, the
    // totals broadcast as a 1-row frame; output is all-BIGINT, full
    // hash compare. At 100 TB this is the same plan: token-keyed
    // map-side-combined agg, O(vocab) downstream.
    QueryDef("q273_js_divergence",
      """WITH toks AS (
        |  SELECT doc_id % 2 AS side, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |cnt AS (
        |  SELECT tok,
        |         CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |         CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM toks GROUP BY tok),
        |tot AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
        |         CAST(sum(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT) AS terms_a,
        |         CAST(sum(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS terms_b,
        |         CAST(count(*) AS BIGINT) AS terms_union
        |  FROM cnt),
        |contrib AS (
        |  SELECT CAST(floor(
        |           (CASE WHEN ca > 0 THEN
        |              0.5 * (CAST(ca AS DOUBLE)/na)
        |                  * ln((CAST(ca AS DOUBLE)/na)
        |                       / (0.5*(CAST(ca AS DOUBLE)/na + CAST(cb AS DOUBLE)/nb)))
        |            ELSE 0.0 END
        |            + CASE WHEN cb > 0 THEN
        |              0.5 * (CAST(cb AS DOUBLE)/nb)
        |                  * ln((CAST(cb AS DOUBLE)/nb)
        |                       / (0.5*(CAST(ca AS DOUBLE)/na + CAST(cb AS DOUBLE)/nb)))
        |            ELSE 0.0 END) * 1000000000000.0 + 0.5) AS BIGINT) AS pico
        |  FROM cnt, tot)
        |SELECT na, nb, terms_a, terms_b, terms_union,
        |       (SELECT CAST(sum(pico) AS BIGINT) FROM contrib) AS js_pico
        |FROM tot""".stripMargin) { (spark, dir) =>
      val toks = Tables.load(spark, dir, "documents")
        .select((col("doc_id") % 2).as("side"),
          explode(split(col("text"), " ")).as("tok"))
      val cnt = toks.groupBy("tok")
        .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("side") === 1, 1L).otherwise(0L)).as("cb"))
      val tot = cnt.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        sum(when(col("ca") > 0, 1L).otherwise(0L)).as("terms_a"),
        sum(when(col("cb") > 0, 1L).otherwise(0L)).as("terms_b"),
        count(lit(1)).as("terms_union"))
      val pa = col("ca").cast("double") / col("na")
      val pb = col("cb").cast("double") / col("nb")
      val mm = lit(0.5) * (pa + pb)
      val term = when(col("ca") > 0, lit(0.5) * pa * log(pa / mm)).otherwise(0d) +
        when(col("cb") > 0, lit(0.5) * pb * log(pb / mm)).otherwise(0d)
      val js = cnt.crossJoin(broadcast(tot.select(col("na"), col("nb"))))
        .select(floor(term * lit(1000000000000.0) + lit(0.5)).cast("long")
          .as("pico"))
        .agg(sum(col("pico")).cast("long").as("js_pico"))
      tot.crossJoin(broadcast(js))
        .select(col("na"), col("nb"), col("terms_a"), col("terms_b"),
          col("terms_union"), col("js_pico"))
    },

    // VOCABULARY COVERAGE / OOV AUDIT per source: the top-64 corpus
    // tokens (count DESC, token — deterministic tie-break) stand in
    // for a trained vocabulary; per source the gate reports token
    // volume, out-of-vocabulary token count, and the OOV rate in
    // integer basis points — the coverage table a tokenizer rollout
    // reads before retraining. Plan shape: one map-side-combined token
    // count, a bounded top-k (TakeOrderedAndProject), and a BROADCAST
    // left join of the token stream against the 64-row vocab — the
    // corpus is never shuffled twice.
    QueryDef("q274_oov_audit",
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS c FROM toks GROUP BY tok
        |    ORDER BY c DESC, tok LIMIT 64) t),
        |agg AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |         CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |  FROM toks LEFT JOIN vocab v USING (tok)
        |  GROUP BY source)
        |SELECT source, n_tokens, n_oov,
        |       (10000 * n_oov) // n_tokens AS oov_bp
        |FROM agg ORDER BY source""".stripMargin) { (spark, dir) =>
      val toks = Tables.load(spark, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      val vocab = broadcast(toks.groupBy("tok")
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(64)
        .select(col("tok"), lit(1).as("inv")))
      toks.join(vocab, Seq("tok"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          expr("(10000 * n_oov) DIV n_tokens").as("oov_bp"))
        .orderBy("source")
    },

    // CLIPPED N-GRAM PRECISION (the BLEU numerator, corpus-level):
    // how much of the odd-doc slice's uni/bigram mass the even-doc
    // slice "covers", with each candidate gram CLIPPED at its
    // reference count — the standard generated-text-vs-reference
    // overlap audit, and (flipped) a contamination signal. One gram
    // pass per order, a single equi-join per gram on the 8-byte-ish
    // gram key, Σ min(c_cand, c_ref) / Σ c_cand in exact basis
    // points. The bigram build guards Spark's DESCENDING
    // sequence(1, 0) on one-token docs (the playbook trap; DuckDB's
    // generate_series is empty there by itself).
    QueryDef("q292_ngram_precision",
      """WITH tok AS (
        |  SELECT doc_id % 2 AS par, string_split(text, ' ') AS t FROM documents),
        |u AS (SELECT par, unnest(t) AS g FROM tok),
        |b AS (SELECT par, unnest([t[i] || ' ' || t[i+1]
        |                          for i in generate_series(1, len(t) - 1)]) AS g
        |      FROM tok),
        |grams AS (SELECT 1 AS ord, par, g FROM u
        |          UNION ALL SELECT 2, par, g FROM b),
        |c AS (SELECT ord, g,
        |             sum(CASE WHEN par = 1 THEN 1 ELSE 0 END)::BIGINT AS cand,
        |             sum(CASE WHEN par = 0 THEN 1 ELSE 0 END)::BIGINT AS ref
        |      FROM grams GROUP BY ord, g)
        |SELECT CAST(ord AS BIGINT) AS ord,
        |       CAST(sum(cand) AS BIGINT) AS n_cand,
        |       CAST(sum(least(cand, ref)) AS BIGINT) AS n_clipped,
        |       CAST((10000 * sum(least(cand, ref))) // sum(cand) AS BIGINT) AS precision_bp
        |FROM c WHERE cand > 0 GROUP BY ord ORDER BY ord""".stripMargin) {
      (spark, dir) =>
        val tok = Tables.load(spark, dir, "documents")
          .select((col("doc_id") % 2).as("par"), split(col("text"), " ").as("t"))
        val uni = tok.select(col("par"), explode(col("t")).as("g"))
        val bi = tok.select(col("par"), explode(expr(
          """IF(size(t) >= 2,
            |   transform(sequence(1, size(t) - 1),
            |     i -> concat(element_at(t, i), ' ', element_at(t, i + 1))),
            |   CAST(array() AS array<string>))""".stripMargin)).as("g"))
        val grams = uni.select(lit(1L).as("ord"), col("par"), col("g"))
          .unionByName(bi.select(lit(2L).as("ord"), col("par"), col("g")))
        grams.groupBy(col("ord"), col("g"))
          .agg(sum(when(col("par") === 1, 1L).otherwise(0L)).as("cand"),
            sum(when(col("par") === 0, 1L).otherwise(0L)).as("ref"))
          .where(col("cand") > 0)
          .groupBy(col("ord"))
          .agg(sum(col("cand")).as("n_cand"),
            sum(least(col("cand"), col("ref"))).as("n_clipped"))
          .select(col("ord"), col("n_cand"), col("n_clipped"),
            expr("(10000L * n_clipped) DIV n_cand").as("precision_bp"))
          .orderBy(col("ord"))
    }
  )

  /** The persisted BM25 index pair (posting blocks + 1-row scalars).
    * `force=true` (the q0t build gate) rewrites both; probes read the
    * artifact when fresh against the source table and rebuild
    * otherwise — the q00/q108 store-probe freshness contract. */
  private def bm25Artifacts(spark: SparkSession, dir: String,
      force: Boolean): (DataFrame, DataFrame) = {
    import graft.operators.{Bm25, IndexStore}
    val src = s"$dir/documents.parquet"
    val pPath = IndexStore.artifactPath(dir, s"bm25_postings_b$IdxBlock")
    val sPath = IndexStore.artifactPath(dir, "bm25_scalars")
    def docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
    def buildPost = Bm25.buildIndex(docs, "doc_id", "t", IdxBlock)
    def buildScal = Bm25.corpusScalars(docs, "doc_id", "t")
    val post =
      if (force) IndexStore.rebuild(spark, pPath)(buildPost)
      else IndexStore.readOrBuild(spark, pPath, src)(buildPost)
    val scal =
      if (force) IndexStore.rebuild(spark, sPath)(buildScal)
      else IndexStore.readOrBuild(spark, sPath, src)(buildScal)
    (post, scal)
  }

  /** The exploded sketch grid (l_returnflag, bucket, cnt) both
    * quantile gates read — ONE definition so the estimate gate can
    * never drift from the grid gate. */
  private def quantileSketchCells(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("v"))
      .where(col("v").isNotNull)
      .groupBy(col("l_returnflag"))
      .agg(graft.functions.GraftFunctions.quantile_sketch(col("v"), QsBits).as("sk"))
      .select(col("l_returnflag"), explode(col("sk")).as(Seq("bucket", "cnt")))
}
