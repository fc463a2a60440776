package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators over `documents` — the training-data-pipeline
  * surface (language ID, quality scoring, token counting, fingerprinting).
  *
  * All pure narrow transformations: tokenize once, derive features with
  * codegen'd higher-order array functions, no shuffle except the final
  * presentation sort. At 100 TB these run at scan speed and are the cheap
  * first pass before dedup/similarity.
  *
  * Everything is integer-exact (token counts, char sums, modular hashes) so
  * each query has a DuckDB oracle; ratios are double divisions of exact
  * ints, deterministic in both engines.
  */
object TextAnalysis {

  private def toks: Column = split(col("text"), " ")

  private def q(name: String, oracle: String)(body: DataFrame => DataFrame): Q =
    Q(name, (s, dir) => body(Tables.load(s, dir, "documents")), Some(oracle.stripMargin))

  // token counting: whitespace tokens + a BPE-ish regex token stream
  // (letter runs / digit runs / single other chars).
  val tokens: Q = q(
    "text_tokens",
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_bpeish,
      |  CAST(length(replace(text, ' ', '')) AS INT) AS sum_token_chars
      |FROM documents ORDER BY doc_id"""
  ) { docs =>
    docs.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("n_bpeish"),
      length(regexp_replace(col("text"), " ", "")).as("sum_token_chars"))
      .orderBy(col("doc_id"))
  }

  // quality scoring: length/punctuation/stopword-ratio heuristics. The
  // ratio gates use pure integer comparisons so the boolean is exact.
  private val stop = Seq("the", "a", "of", "and", "to", "in")
  private val stopSql = stop.map(s => s"'$s'").mkString(", ")

  val quality: Q = q(
    "text_quality",
    s"""SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ($stopSql))) AS INT) AS n_stop,
      |  CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS INT) AS n_punct,
      |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
      |  $qualityOkSql AS quality_ok
      |FROM documents ORDER BY doc_id"""
  ) { docs =>
    val nTok = size(toks)
    docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      size(filter(toks, w => w.isin(stop: _*))).as("n_stop"),
      length(regexp_replace(col("text"), "[a-z0-9 ]", "")).as("n_punct"),
      (length(regexp_replace(col("text"), " ", "")).cast(DoubleType) / nTok).as("avg_token_len"),
      qualityOk.as("quality_ok"))
      .orderBy(col("doc_id"))
  }

  // language ID: stopword-hit n-gram heuristic with a fixed tie-break
  // (en > de > fr). Scores are exact ints → prediction is exact.
  private val en = Seq("the", "a", "of", "and", "to")
  private val de = Seq("der", "die", "das", "und", "ist")
  private val fr = Seq("le", "la", "les", "et", "est")
  private def inListSql(ws: Seq[String]) =
    s"len(list_filter(string_split(text, ' '), w -> w IN (${ws.map(w => s"'$w'").mkString(", ")})))"
  private def hits(ws: Seq[String]): Column = size(filter(toks, w => w.isin(ws: _*)))

  /** The n-gram language prediction (argmax stopword hits, tie-break
    * en > de > fr) — ONE definition (Column + SQL forms) shared by
    * `text_langid`, `text_source_reputation`, and `text_curation_funnel`
    * so a stopword-list or tie-break change cannot desynchronize them. */
  private def predictedLang: Column = {
    val (e, d, f) = (hits(en), hits(de), hits(fr))
    when(e >= d && e >= f, "en").when(d >= f, "de").otherwise("fr")
  }
  private def predictedLangSql: String =
    s"""CASE WHEN ${inListSql(en)} >= ${inListSql(de)} AND ${inListSql(en)} >= ${inListSql(fr)} THEN 'en'
       |       WHEN ${inListSql(de)} >= ${inListSql(fr)} THEN 'de'
       |       ELSE 'fr' END""".stripMargin

  /** The doc-level quality gate (token-count band + punctuation ratio) —
    * shared by `text_quality` and `text_curation_funnel`. */
  private def qualityOk: Column = {
    val nTok = size(toks)
    val nPunct = length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
    nTok.between(5, 100000) && nPunct * 10 < length(col("text"))
  }
  private def qualityOkSql: String =
    """(len(string_split(text, ' ')) BETWEEN 5 AND 100000
      |   AND length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 10 < length(text))""".stripMargin

  val langId: Q = q(
    "text_langid",
    s"""SELECT doc_id, lang,
      |  CAST(${inListSql(en)} AS INT) AS en_hits,
      |  CAST(${inListSql(de)} AS INT) AS de_hits,
      |  CAST(${inListSql(fr)} AS INT) AS fr_hits,
      |  $predictedLangSql AS predicted
      |FROM documents ORDER BY doc_id"""
  ) { docs =>
    docs.select(
      col("doc_id"), col("lang"),
      hits(en).as("en_hits"), hits(de).as("de_hits"), hits(fr).as("fr_hits"),
      predictedLang.as("predicted"))
      .orderBy(col("doc_id"))
  }

  // document fingerprinting: rolling polynomial hash over the token stream,
  // mod 1e9+7 each step so BIGINT arithmetic matches DuckDB exactly
  // (DuckDB list_reduce has no zero element — the prepended 0 is the seed).
  val fingerprint: Q = q(
    "text_fingerprint",
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text, ' '),
      |        w -> CAST(ascii(w) * 7 + length(w) * 31 + 1 AS BIGINT))),
      |    (h, t) -> (h * 131 + t) % 1000000007) AS fp
      |FROM documents ORDER BY doc_id"""
  ) { docs =>
    docs.select(
      col("doc_id"),
      aggregate(
        toks,
        lit(0L),
        (h, w) => (h * lit(131L) + (ascii(w) * 7 + length(w) * 31 + 1).cast(LongType))
          % lit(1000000007L)).as("fp"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // TF-IDF (rational form): weight = tf * N / df with exact integer tf/N/df
  // and one double division — deterministic in both engines (ln-based idf
  // would depend on libm rounding). Top term per doc, ties → lexicographic.
  // Plan shape: explode → two hash aggs (term-per-doc, df) → broadcast df
  // join → ranking window. df table is |vocab|-sized → broadcast at scale.
  val tfidf: Q = q(
    "text_tfidf_top_term",
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
      |df AS (
      |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY term),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    CAST(tf.tf AS DOUBLE) * (SELECT n FROM n) / df.df AS weight
      |  FROM tf JOIN df ON tf.term = df.term),
      |ranked AS (
      |  SELECT doc_id, term, tf, df, weight,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY weight DESC, term) AS rn
      |  FROM scored)
      |SELECT doc_id, term AS top_term, CAST(tf AS BIGINT) AS tf,
      |  CAST(df AS BIGINT) AS df, weight
      |FROM ranked WHERE rn = 1 ORDER BY doc_id"""
  ) { docs =>
    val terms = docs.select(col("doc_id"), explode_outer(toks).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = terms.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    // corpus size stays IN the plan (1-row broadcast) — a driver-side
    // count() here was a second full scan of documents as a separate job
    val n = docs.agg(count(lit(1)).as("n_corpus"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("weight").desc, col("term"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .withColumn("weight", col("tf").cast(DoubleType) * col("n_corpus") / col("df"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("term").as("top_term"), col("tf"), col("df"), col("weight"))
      .orderBy(col("doc_id"))
  }

  // global top-20 bigrams — n-gram counting with a deterministic total
  // order at the cut line.
  val bigrams: Q = q(
    "text_top_bigrams",
    """WITH b AS (
      |  SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
      |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS bigram
      |  FROM documents WHERE len(string_split(text, ' ')) >= 2)
      |SELECT bigram, COUNT(*) AS n FROM b
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20"""
  ) { docs =>
    val bigram = transform(
      sequence(lit(1), size(col("toks")) - 1),
      i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1)))
    // >=2-token guard: sequence(1, 0) would generate a DESCENDING [1,0]
    // (not empty) and index out of bounds under ANSI
    docs.select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode_outer(bigram).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  // hashing vectorizer: 16-dim token-bucket histogram — the classic
  // fixed-width featurization for training pipelines. Bucket hash uses
  // engine-neutral integer arithmetic (ascii/length) so the whole vector is
  // oracle-exact; the production variant swaps in xxhash64 % dim.
  // The vector is emitted as a CSV STRING, not ArrayType: the driver's
  // compare sorts rows with pandas, which cannot hash/sort array cells
  // (this nulled text_hashvec in round 1).
  private val HashDim = 16

  val hashVec: Q = q(
    "text_hashvec",
    s"""SELECT doc_id,
      |  array_to_string(list_transform(range(0, $HashDim),
      |    b -> CAST(len(list_filter(string_split(text, ' '),
      |           w -> (ascii(w) * 31 + length(w)) % $HashDim = b)) AS VARCHAR)), ',') AS vec_csv,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |FROM documents ORDER BY doc_id"""
  ) { docs =>
    val bucketed = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val vec = transform(
      sequence(lit(0), lit(HashDim - 1)),
      b => size(filter(col("toks"),
        w => (ascii(w) * 31 + length(w)) % HashDim === b)).cast(StringType))
    bucketed.select(
      col("doc_id"), array_join(vec, ",").as("vec_csv"),
      size(col("toks")).cast(LongType).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // Document chunking: fixed token windows (width 50, stride 40 → 10-token
  // overlap) — the standard pre-tokenization split for LLM training /
  // retrieval pipelines. Pure narrow map (sequence + explode + slice): no
  // shuffle, parallelizes with the scan at any corpus size; chunk count per
  // doc is ceil((n-width)/stride)+1 so every token is covered and every
  // boundary has `width-stride` tokens of context on both sides.
  private val ChunkWidth = 50
  private val ChunkStride = 40

  val chunking: Q = Q(
    "text_chunks",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")).cast(LongType))
        .withColumn("nchunks",
          when(col("n") <= ChunkWidth, lit(1L))
            .otherwise(ceil((col("n") - ChunkWidth).cast(DoubleType) / ChunkStride)
              .cast(LongType) + 1L))
      d.select(col("doc_id"), col("toks"), col("n"),
          explode(sequence(lit(0L), col("nchunks") - 1)).as("chunk_id"))
        .withColumn("chunk",
          slice(col("toks"), (col("chunk_id") * ChunkStride + 1).cast(IntegerType),
            lit(ChunkWidth)))
        .select(col("doc_id"), col("chunk_id"),
          size(col("chunk")).as("n_tokens"),
          concat_ws(" ", col("chunk")).as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },
    Some(s"""WITH base AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents),
      |counted AS (
      |  SELECT doc_id, toks, n,
      |    CASE WHEN n <= $ChunkWidth THEN 1
      |         ELSE CAST(ceil((n - $ChunkWidth) / CAST($ChunkStride AS DOUBLE)) AS BIGINT) + 1
      |    END AS nchunks
      |  FROM base),
      |exploded AS (
      |  SELECT doc_id, toks, n, unnest(range(0, nchunks)) AS chunk_id
      |  FROM counted)
      |SELECT doc_id, chunk_id,
      |  CAST(len(toks[chunk_id * $ChunkStride + 1 :
      |    least(chunk_id * $ChunkStride + $ChunkWidth, n)]) AS INT) AS n_tokens,
      |  array_to_string(toks[chunk_id * $ChunkStride + 1 :
      |    least(chunk_id * $ChunkStride + $ChunkWidth, n)], ' ') AS chunk_text
      |FROM exploded ORDER BY doc_id, chunk_id""".stripMargin))

  // ------------------------------------------------------------------
  // Bigram language-model scoring — the classic LM-based quality filter
  // (fluent text scores high, shuffled/garbage text low). Train add-one-
  // smoothed bigram conditionals on the WHOLE corpus, then score each
  // document by its mean conditional probability.
  //
  // Determinism: the usual mean-log-prob is a float fold (order-dependent,
  // and libm log differs across engines in the last ulp), so each smoothed
  // conditional is quantized to an integer instead:
  //   p_scaled = (c12 + 1) * 1_000_000 div (c1 + V)
  // (positive integer division truncates identically in Spark and DuckDB),
  // summed exactly as BIGINT per document, and only the final mean is a
  // double division — same expression shape in both engines, IEEE-exact.
  //
  // Plan shape at 100 TB: bigram fan-out is narrow; the count tables are
  // vocab-sized (≪ corpus) and their aggregation output partitioning is
  // REUSED by the scoring join (both hash on (w1, w2) — no extra exchange
  // on the big side); V is one scalar broadcast. Two corpus shuffles total
  // (bigram-count, per-doc regroup).
  private val LmScale = 1000000L

  /** Per-bigram quantized add-one conditional — p_scaled = (c12+1)·10⁶
    * div (c1+V) — carrying `keyCols` through: the ONE definition of the
    * LM quantization, shared by `text_bigram_lm` and `text_ccnet_buckets`
    * (the latter's "same integer-exact quantization" claim is enforced
    * here, not by parallel copies). */
  private def bigramPScaled(docs: DataFrame, keyCols: Seq[String]): DataFrame = {
    val toksCol = split(col("text"), " ")
    val keys = keyCols.map(col)
    val bg = docs
      .select(keys :+ toksCol.as("t"): _*)
      .filter(size(col("t")) >= 2)
      .select(keys :+ explode(transform(
        sequence(lit(1), size(col("t")) - 1),
        i => struct(element_at(col("t"), i).as("w1"),
          element_at(col("t"), i + 1).as("w2")))).as("p"): _*)
      .select(keys :+ col("p.w1") :+ col("p.w2"): _*)
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val vocab = docs.select(explode(toksCol).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    bg.join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(keys :+
        expr(s"(c12 + 1) * $LmScale div (c1 + v)").as("p_scaled"): _*)
  }

  val bigramLm: Q = Q(
    "text_bigram_lm",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val scored = bigramPScaled(docs, Seq("doc_id"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast(IntegerType).as("n_bigrams"),
          sum(col("p_scaled")).as("score_scaled"))
      docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0)).as("n_bigrams"),
          col("score_scaled"),
          (col("score_scaled").cast(DoubleType) / col("n_bigrams") /
            lit(LmScale.toDouble)).as("avg_prob"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |pos AS (
      |  SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
      |bg AS (
      |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM pos),
      |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
      |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
      |vocab AS (
      |  SELECT COUNT(DISTINCT w) AS v
      |  FROM (SELECT unnest(t) AS w FROM toks)),
      |scored AS (
      |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
      |    CAST(SUM((c12 + 1) * $LmScale // (c1 + v)) AS BIGINT) AS score_scaled
      |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab
      |  GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(scored.n_bigrams, 0) AS n_bigrams,
      |  scored.score_scaled,
      |  CAST(scored.score_scaled AS DOUBLE) / scored.n_bigrams
      |    / ${LmScale.toDouble} AS avg_prob
      |FROM (SELECT doc_id FROM documents) d LEFT JOIN scored USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin))

  // ------------------------------------------------------------------
  // CCNet-style quality bucketing: assign every document to head / middle
  // / tail by its LM score's tertile WITHIN ITS LANGUAGE — the curation
  // step CCNet (Wenzek et al.) runs with KenLM perplexity so that a
  // low-resource language is filtered against its own distribution, not
  // the corpus-dominant one. The score is the bigram-LM quantized mean
  // conditional (the same integer-exact quantization as text_bigram_lm:
  // p_scaled = (c12+1)·10⁶ div (c1+V), summed as BIGINT), reduced to one
  // integer per doc: q = score_sum div n_bigrams ∈ [0, 10⁶].
  //
  // Tertile thresholds are exact DISC percentiles computed the scale-right
  // way — NOT a per-language global sort of the corpus (ntile would
  // serialize each language through one reducer at 100 TB): aggregate a
  // (lang, q) histogram (≤ 10⁶+1 rows per language, a hard bound from the
  // quantization), run the cumulative window over that bounded table in
  // descending q, and pick q_head = max q whose descending cumulative
  // count reaches ⌈n/3⌉ (resp. ⌈2n/3⌉ for q_mid) — percentile_disc
  // semantics, ties share a bucket. The threshold table (one row per
  // language) broadcasts back onto the scored frame; assignment is a
  // narrow comparison. Corpus cost = the bigram-LM shape + one histogram
  // aggregation; docs with < 2 tokens have no bigrams and are excluded in
  // both engines by construction.
  val ccnetBuckets: Q = Q(
    "text_ccnet_buckets",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val scored = bigramPScaled(docs, Seq("doc_id", "lang"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("nb"), sum(col("p_scaled")).as("ss"))
        .select(col("doc_id"), col("lang"), expr("ss div nb").as("q"))
      val hist = scored.groupBy(col("lang"), col("q"))
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("q").desc)
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val cum = hist.select(col("lang"), col("q"),
        sum(col("cnt")).over(w).as("cum"))
      val totals = hist.groupBy(col("lang")).agg(sum(col("cnt")).as("n"))
      val thr = cum.join(totals, "lang")
        .groupBy(col("lang"))
        .agg(
          max(when(col("cum") >= expr("(n + 2) div 3"), col("q")))
            .as("q_head"),
          max(when(col("cum") >= expr("(2 * n + 2) div 3"), col("q")))
            .as("q_mid"))
      scored.join(broadcast(thr), "lang")
        .select(col("doc_id"), col("lang"), col("q").as("score_q"),
          when(col("q") >= col("q_head"), "head")
            .when(col("q") >= col("q_mid"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH toks AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
      |pos AS (
      |  SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i FROM toks),
      |bg AS (SELECT doc_id, lang, t[i] AS w1, t[i + 1] AS w2 FROM pos),
      |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
      |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
      |vocab AS (
      |  SELECT COUNT(DISTINCT w) AS v
      |  FROM (SELECT unnest(t) AS w FROM toks)),
      |scored AS (
      |  SELECT doc_id, lang,
      |    CAST(SUM((c12 + 1) * $LmScale // (c1 + v)) AS BIGINT)
      |      // CAST(COUNT(*) AS BIGINT) AS q
      |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab
      |  GROUP BY doc_id, lang),
      |hist AS (SELECT lang, q, COUNT(*) AS cnt FROM scored GROUP BY lang, q),
      |cum AS (
      |  SELECT lang, q, SUM(cnt) OVER (PARTITION BY lang ORDER BY q DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hist),
      |tot AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n FROM hist GROUP BY lang),
      |thr AS (
      |  SELECT c.lang,
      |    MAX(CASE WHEN cum >= (n + 2) // 3 THEN q END) AS q_head,
      |    MAX(CASE WHEN cum >= (2 * n + 2) // 3 THEN q END) AS q_mid
      |  FROM cum c JOIN tot USING (lang) GROUP BY c.lang)
      |SELECT s.doc_id, s.lang, s.q AS score_q,
      |  CASE WHEN s.q >= q_head THEN 'head'
      |       WHEN s.q >= q_mid THEN 'middle' ELSE 'tail' END AS bucket
      |FROM scored s JOIN thr USING (lang)
      |ORDER BY s.doc_id""".stripMargin))

  // ------------------------------------------------------------------
  // Deterministic train/val/test split — the assignment every training
  // pipeline needs to be REPRODUCIBLE and join-free: bucket = first 4 hex
  // digits of md5(doc_id) mod 10 (md5 is bit-identical across engines, so
  // the split is stable across reruns, languages, and cluster sizes —
  // unlike rand(seed), which is engine- and partitioning-dependent).
  // 8/1/1 split. Pure narrow map + one tiny aggregation.
  val trainTestSplit: Q = Q(
    "text_train_test_split",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tok"), md5Bucket.as("bucket"))
        .withColumn("split",
          when(col("bucket") < 8, "train")
            .when(col("bucket") === 8, "val").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("split"))
    },
    Some(s"""WITH b AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
      |    $md5BucketSql AS bucket
      |  FROM documents)
      |SELECT CASE WHEN bucket < 8 THEN 'train'
      |            WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM b GROUP BY 1 ORDER BY split""".stripMargin))

  // ------------------------------------------------------------------
  // Token packing: assign whole documents to fixed-budget context windows
  // by running token offset — the "concat corpus, cut every B tokens"
  // packing LLM training shards use. Packing is per SHARD (doc_id mod 32),
  // not global: a global prefix sum would serialize on one reducer at
  // 100 TB, while per-shard windows parallelize freely and still yield
  // deterministic, reproducible pack ids (shard·10⁶ + local pack).
  private val PackBudget = 512
  private val PackShards = 32

  val tokenPacking: Q = Q(
    "text_token_packing",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(PackShards.toLong)).as("shard"),
          size(split(col("text"), " ")).as("n_tok"))
        .withColumn("start_offset",
          coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .withColumn("pack_id",
          // shard stride 1e12: the per-shard pack index is
          // start_offset div 512, so a 1e6 stride collides once a shard
          // holds >= 512M tokens — far below the operator's stated
          // scale. 1e12 supports 5.12e14 tokens/shard before collision
          // (and 32 shards * 1e12 is nowhere near Long range).
          col("shard") * 1000000000000L + expr(s"start_offset div $PackBudget"))
        .select(col("doc_id"), col("shard"), col("pack_id"),
          col("start_offset"), col("n_tok"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH b AS (
      |  SELECT doc_id, doc_id % $PackShards AS shard,
      |    CAST(len(string_split(text, ' ')) AS INT) AS n_tok
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, shard, n_tok,
      |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS start_offset
      |  FROM b)
      |SELECT doc_id, shard, shard * 1000000000000 + start_offset // $PackBudget AS pack_id,
      |  start_offset, n_tok
      |FROM o ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------------------------
  // Shingling via the native table-generating function (UDTF surface):
  // `shingle_gen(text, 3)` streams one row per 3-shingle — no intermediate
  // array per document. Aggregated per doc so the oracle (the array
  // formulation in DuckDB) compares a small deterministic frame; min/max
  // pin actual shingle CONTENT, not just counts.
  val shingleGenQ: Q = Q(
    "text_shingle_gen",
    (s, dir) => Tables.load(s, dir, "documents")
      .select(col("doc_id"), expr("shingle_gen(text, 3)").as("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        countDistinct(col("shingle")).as("n_distinct"),
        min(col("shingle")).as("first_shingle"),
        max(col("shingle")).as("last_shingle"))
      .orderBy(col("doc_id")),
    Some("""WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
      |      i -> array_to_string(toks[i:i+2], ' ')) AS shingles
      |  FROM t)
      |SELECT doc_id,
      |  CAST(len(shingles) AS BIGINT) AS n_shingles,
      |  CAST(len(list_distinct(shingles)) AS BIGINT) AS n_distinct,
      |  list_min(shingles) AS first_shingle,
      |  list_max(shingles) AS last_shingle
      |FROM sh ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------------------------
  // The md5-derived split bucket used by trainTestSplit, shared by the
  // stratified/decontamination queries. Deterministic across engines,
  // reruns, and cluster sizes — the property that makes a split citable.
  private def md5Bucket: Column = pmod(
    conv(substring(md5(col("doc_id").cast(StringType)), 1, 4), 16, 10)
      .cast(LongType), lit(10L))

  // def, not val: referenced from query vals that may initialize first
  private def md5BucketSql: String =
    """((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
      | + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
      | + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
      | + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 10""".stripMargin

  // Stratified split: the 8/1/1 split applied WITHIN each language, so a
  // low-resource language keeps its 8/1/1 shape instead of drifting with
  // the global hash (the difference matters when a stratum is small).
  // Same hash → same assignment as the unstratified split; the
  // stratification is in what you VERIFY (per-stratum counts), and at
  // 100 TB it's one hash agg — no per-stratum jobs.
  val stratifiedSplit: Q = Q(
    "text_stratified_split",
    (s, dir) => Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).as("n_tok"), md5Bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val").otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("lang"), col("split")),
    Some(s"""WITH b AS (
      |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
      |    $md5BucketSql AS bucket
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN bucket < 8 THEN 'train'
      |       WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin))

  // Decontamination: which train docs share 3-gram shingles with the test
  // split (benchmark-leakage check). Candidate generation is a shingle
  // equi-join — train shingles ⋈ the (much smaller) distinct test shingle
  // set — never an all-pairs document comparison, so the cost at 100 TB is
  // one shuffle on the shingle key with the test side broadcastable.
  // Reported per language: docs checked, docs over the overlap threshold,
  // and the worst overlap count.
  // Shared by text_decontamination and its bloom-prefiltered twin: the
  // bucket-filtered distinct-3-gram explode (Spark) and the ONE oracle
  // both queries must keep byte-identical — a threshold or shingle-width
  // change edits exactly one definition.
  private def decontamShingled(s: org.apache.spark.sql.SparkSession, dir: String,
      bucketPred: Column): DataFrame = decontamShingledFrame(
    Tables.load(s, dir, "documents").filter(bucketPred))

  private def decontamShingledFrame(d: DataFrame): DataFrame = d
    .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
    .select(col("doc_id"), col("lang"),
      explode(array_distinct(transform(
        sequence(lit(1), greatest(size(col("toks")) - 2, lit(1))),
        i => concat_ws(" ", slice(col("toks"), i, lit(3)))))).as("sh"))

  private lazy val decontamOracle: String =
    s"""WITH b AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS toks,
      |    $md5BucketSql AS bucket
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, lang, bucket, unnest(list_distinct(
      |    list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
      |      i -> array_to_string(toks[i:i+2], ' ')))) AS sh
      |  FROM b),
      |test_sh AS (SELECT DISTINCT sh FROM sh WHERE bucket = 9),
      |overlap AS (
      |  SELECT s.doc_id, s.lang, COUNT(*) AS n_overlap
      |  FROM sh s JOIN test_sh t ON s.sh = t.sh
      |  WHERE s.bucket < 8
      |  GROUP BY s.doc_id, s.lang)
      |SELECT lang, COUNT(*) AS n_docs_overlapping,
      |  CAST(COUNT(CASE WHEN n_overlap >= 20 THEN 1 END) AS BIGINT) AS n_contaminated,
      |  MAX(n_overlap) AS max_overlap
      |FROM overlap GROUP BY lang ORDER BY lang""".stripMargin

  val decontamination: Q = Q(
    "text_decontamination",
    (s, dir) => {
      // Split-filter BEFORE shingling: the bucket predicate depends only on
      // doc_id, so each side explodes a DISJOINT doc subset — Spark doesn't
      // share duplicate subplans, and one shingled frame feeding both sides
      // would run the full-corpus explode twice (or force persisting the
      // exploded frame, which is corpus-sized).
      def shingled(bucketPred: Column) = decontamShingled(s, dir, bucketPred)
      val testSh = shingled(md5Bucket === 9).select(col("sh")).distinct()
      val overlap = shingled(md5Bucket < 8)
        .join(testSh, Seq("sh")) // semi-shaped: testSh carries only the key
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_overlap"))
      overlap.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs_overlapping"),
          count(when(col("n_overlap") >= 20, 1)).as("n_contaminated"),
          max(col("n_overlap")).as("max_overlap"))
        .orderBy(col("lang"))
    },
    Some(decontamOracle))

  // Bloom-prefiltered decontamination: same result as text_decontamination
  // (shares its oracle), but the corpus-side shingle stream is prefiltered
  // by a broadcast bloom built over the test shingle hashes BEFORE the
  // exact join. The bloom is a fixed 128 KB regardless of test-set size,
  // the probe (`BloomMightContain`) is a codegen'd bit test, and false
  // positives are removed by the exact join only survivors reach — so the
  // prefilter is lossless by construction and the two queries hash-match.
  // At 100 TB this is THE shape for corpus-vs-testset joins: the shuffle
  // after the prefilter carries only the ~matching fraction of the corpus
  // instead of every shingle.
  val decontaminationBloom: Q = Q(
    "text_decontamination_bloom",
    (s, dir) => {
      import graft.functions.Bloom
      def shingled(bucketPred: Column) = decontamShingled(s, dir, bucketPred)
      // test side is ~10% of the corpus and feeds BOTH the bloom build and
      // the exact join; persist so the explode runs once.
      val testSh = shingled(md5Bucket === 9).select(col("sh")).distinct().persist()
      // Evaluate the bloom eagerly and embed it as a LITERAL in the probe
      // filter — the same shape Spark's own bloom join uses. The head() is
      // a fixed 128 KB sketch (bounded like a broadcast variable, not a
      // data collect). The alternative — crossJoin(broadcast(1-row-frame))
      // — plans as a BroadcastNestedLoopJoin whose join condition is the
      // probe, which kicks the whole corpus pipeline (explode included)
      // out of whole-stage codegen: measured 8× slower.
      val bloomBytes = testSh
        .select(Bloom.bloomAgg(xxhash64(col("sh"))).as("b"))
        .head().getAs[Array[Byte]](0)
      val prefiltered = shingled(md5Bucket < 8)
        .filter(Bloom.mightContain(lit(bloomBytes), xxhash64(col("sh"))))
      val overlap = prefiltered
        .join(testSh, Seq("sh")) // exact join removes bloom false positives
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_overlap"))
      // persist is released by the bench's per-sweep cleanup (Bench.scala),
      // matching the repo-wide persist convention.
      overlap.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs_overlapping"),
          count(when(col("n_overlap") >= 20, 1)).as("n_contaminated"),
          max(col("n_overlap")).as("max_overlap"))
        .orderBy(col("lang"))
    },
    Some(decontamOracle))

  // Fuzzy decontamination — the third axis after the exact-count and
  // bloom-prefiltered variants: a train doc is contaminated when some TEST
  // doc's distinct-3-gram set is Jaccard-similar (τ = 0.5), the
  // set-similarity framing Dolma/FineWeb-style pipelines use so that a
  // paraphrased or truncated benchmark copy still trips the filter where a
  // raw shared-shingle count would drown in corpus-common phrases.
  // Candidates come from the SAME shingle equi-join as text_decontamination
  // (train shingles ⋈ the benchmark side — never all-pairs documents);
  // pairs below a 5-common-shingle floor never materialize past the count
  // aggregate. Verification is integer-exact: J ≥ 1/2 ⟺ 3·|∩| ≥ |a|+|b|,
  // and the reported score is jac_scaled = |∩|·10⁶ div (|a|+|b|−|∩|)
  // (truncating integer division, identical in both engines). Per train
  // doc the best match is picked by (jac_scaled desc, test id asc) — a
  // window over that doc's candidate pairs only, bounded by how many test
  // docs it actually resembles. At 100 TB the benchmark side is tiny
  // (eval suites, not corpus-sized), so the join's shuffle is one pass of
  // the train shingles against a broadcastable key set.
  //
  // The raw corpus has almost no cross-split duplicates, so (the
  // withNearCopies discipline from the dedup family) every TEST doc is
  // also planted on the train side as a near copy — id + 2·10⁶, last
  // token dropped — so the contaminated verdict demonstrably fires: the
  // planted copy's best match is its source at J = (n−1)/n.
  val decontaminationFuzzy: Q = Q(
    "text_decontamination_fuzzy",
    (s, dir) => {
      val base = Tables.load(s, dir, "documents")
      val t = split(col("text"), " ")
      val planted = base.filter(md5Bucket === 9)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"),
          concat_ws(" ", slice(t, lit(1), greatest(size(t) - 1, lit(1))))
            .as("text"))
      val train = decontamShingledFrame(
        base.filter(md5Bucket < 8).select(col("doc_id"), col("lang"),
          col("text")).unionByName(planted))
      val test = decontamShingled(s, dir, md5Bucket === 9)
      val nA = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_a"))
      val nB = test.groupBy(col("doc_id")).agg(count(lit(1)).as("n_b"))
      val pairs = train.select(col("doc_id").as("id_a"), col("lang"), col("sh"))
        .join(test.select(col("doc_id").as("id_b"), col("sh")), Seq("sh"))
        .groupBy(col("id_a"), col("lang"), col("id_b"))
        .agg(count(lit(1)).as("n_common"))
        .filter(col("n_common") >= 5)
        .join(nA.select(col("doc_id").as("id_a"), col("n_a")), "id_a")
        .join(nB.select(col("doc_id").as("id_b"), col("n_b")), "id_b")
        .select(col("id_a"), col("lang"), col("id_b"), col("n_common"),
          expr("n_common * 1000000 div (n_a + n_b - n_common)")
            .as("jac_scaled"),
          (lit(3) * col("n_common") >= col("n_a") + col("n_b"))
            .as("contaminated"))
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id_a"))
      pairs
        .withColumn("rk", row_number().over(
          byDoc.orderBy(col("jac_scaled").desc, col("id_b"))))
        .withColumn("n_cand", count(lit(1)).over(byDoc))
        .filter(col("rk") === 1)
        .select(col("id_a").as("doc_id"), col("lang"), col("n_cand"),
          col("id_b").as("best_test_id"),
          col("n_common").as("best_n_common"),
          col("jac_scaled").as("best_jac_scaled"), col("contaminated"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH b AS (
      |  SELECT doc_id, lang, text, $md5BucketSql AS bucket
      |  FROM documents),
      |train_docs AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS toks
      |  FROM b WHERE bucket < 8
      |  UNION ALL
      |  SELECT doc_id + 2000000, lang,
      |    string_split(text, ' ')[1:greatest(len(string_split(text, ' ')) - 1, 1)]
      |  FROM b WHERE bucket = 9),
      |train AS (
      |  SELECT doc_id, lang, unnest(list_distinct(
      |    list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
      |      i -> array_to_string(toks[i:i+2], ' ')))) AS sh
      |  FROM train_docs),
      |test_docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM b WHERE bucket = 9),
      |test AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
      |      i -> array_to_string(toks[i:i+2], ' ')))) AS sh
      |  FROM test_docs),
      |na AS (SELECT doc_id, COUNT(*) AS n_a FROM train GROUP BY doc_id),
      |nb AS (SELECT doc_id, COUNT(*) AS n_b FROM test GROUP BY doc_id),
      |pairs AS (
      |  SELECT t.doc_id AS id_a, t.lang, e.doc_id AS id_b,
      |    COUNT(*) AS n_common
      |  FROM train t JOIN test e ON t.sh = e.sh
      |  GROUP BY t.doc_id, t.lang, e.doc_id
      |  HAVING COUNT(*) >= 5),
      |j AS (
      |  SELECT p.id_a, p.lang, p.id_b,
      |    CAST(p.n_common AS BIGINT) AS n_common,
      |    CAST(p.n_common * 1000000 // (na.n_a + nb.n_b - p.n_common)
      |      AS BIGINT) AS jac_scaled,
      |    3 * p.n_common >= na.n_a + nb.n_b AS contaminated
      |  FROM pairs p
      |    JOIN na ON na.doc_id = p.id_a
      |    JOIN nb ON nb.doc_id = p.id_b),
      |r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY id_a
      |      ORDER BY jac_scaled DESC, id_b) AS rk,
      |    COUNT(*) OVER (PARTITION BY id_a) AS n_cand
      |  FROM j)
      |SELECT id_a AS doc_id, lang, CAST(n_cand AS BIGINT) AS n_cand,
      |  id_b AS best_test_id, n_common AS best_n_common,
      |  jac_scaled AS best_jac_scaled, contaminated
      |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin))

  // One-pass pipeline: the composed training-data front door — language ×
  // split × quality × exact-dedup bookkeeping — in a SINGLE scan of
  // `documents`. Every per-doc feature (token count, quality gate, content
  // hash, split bucket) is a narrow projection fused into the scan; the
  // only shuffles are the dedup window (by content hash) and the final
  // rollup. This is the "cheap first pass runs at scan speed" claim made
  // concrete: at 100 TB the corpus is read ONCE for the whole gate, and a
  // plan-shape spec pins the single-scan property so a refactor can't
  // silently re-read it.
  val pipelineOnePass: Q = Q(
    "text_pipeline_one_pass",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val nTok = size(split(col("text"), " "))
      val nPunct = length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
      val feat = docs.select(
        col("doc_id"), col("lang"),
        nTok.as("n_tok"),
        (nTok.between(5, 100000) && nPunct * 10 < length(col("text")))
          .as("quality_ok"),
        md5(col("text")).as("chash"),
        md5Bucket.as("bucket"))
        .withColumn("split",
          when(col("bucket") < 8, "train")
            .when(col("bucket") === 8, "val").otherwise("test"))
      val w = Window.partitionBy(col("chash")).orderBy(col("doc_id"))
      feat.withColumn("canonical", row_number().over(w) === 1)
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok").cast(LongType)).as("n_tokens"),
          count(when(col("quality_ok"), 1)).as("n_quality_ok"),
          count(when(col("canonical"), 1)).as("n_canonical"),
          count(when(!col("canonical"), 1)).as("n_exact_dups"))
        .orderBy(col("lang"), col("split"))
    },
    Some(s"""WITH feat AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    (len(string_split(text, ' ')) BETWEEN 5 AND 100000
      |     AND length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 10 < length(text)) AS quality_ok,
      |    md5(text) AS chash,
      |    $md5BucketSql AS bucket
      |  FROM documents),
      |sp AS (
      |  SELECT *, CASE WHEN bucket < 8 THEN 'train'
      |                 WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
      |    ROW_NUMBER() OVER (PARTITION BY chash ORDER BY doc_id) = 1 AS canonical
      |  FROM feat)
      |SELECT lang, split, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(CASE WHEN quality_ok THEN 1 END) AS BIGINT) AS n_quality_ok,
      |  CAST(COUNT(CASE WHEN canonical THEN 1 END) AS BIGINT) AS n_canonical,
      |  CAST(COUNT(CASE WHEN NOT canonical THEN 1 END) AS BIGINT) AS n_exact_dups
      |FROM sp GROUP BY lang, split ORDER BY lang, split""".stripMargin))

  // Mixture budgeting: allocate a fixed global token budget across sources
  // proportionally to their token mass (the "data mixing" table a training
  // run starts from). Integer floor division keeps the allocation exact
  // and engine-independent; one hash agg + a 1-row broadcast.
  private val MixBudget = 100000L

  val mixtureBudget: Q = Q(
    "text_mixture_budget",
    (s, dir) => {
      // persisted: the scalar-total crossJoin consumes this subtree twice,
      // and Spark doesn't share duplicate subplans — without the persist
      // the corpus scan+tokenize runs once per consumer (same fix as q15).
      // The frame is source-cardinality (tiny); cache residency is bounded
      // and the multi-sweep bench clears the session cache between sweeps.
      val perSource = Tables.load(s, dir, "documents")
        .select(col("source"), size(split(col("text"), " ")).as("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .persist()
      perSource
        .crossJoin(broadcast(perSource.agg(sum(col("n_tokens")).as("total"))))
        .withColumn("alloc_tokens", expr(s"$MixBudget * n_tokens div total"))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("alloc_tokens"))
        .orderBy(col("source"))
    },
    Some(s"""WITH per_src AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM per_src)
      |SELECT source, n_docs, n_tokens,
      |  $MixBudget * n_tokens // total AS alloc_tokens
      |FROM per_src CROSS JOIN tot ORDER BY source""".stripMargin))

  // ------------------------------------------------------------------
  // Gopher-style repetition signals (Rae et al. 2021 §A1.1): per-document
  // duplicate-token fraction and most-frequent-n-gram fraction — the
  // standard "remove boilerplate/spam" filter a training-data pipeline
  // runs after quality scoring. Integer-exact counts; the flag applies the
  // published thresholds (top bigram >= 20% of bigrams, or more than half
  // the tokens are repeats).
  //
  // Scale shape: explode + two-level hash agg. The (doc_id, token) count
  // benefits from map-side partial aggregation (repeated tokens collapse
  // before the shuffle), then the per-doc rollup and the three doc-level
  // frames join on doc_id — every side is document-cardinality, never
  // token-cardinality, past the first agg.
  val repetition: Q = q(
    "text_repetition",
    """WITH base AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tok AS (
      |  SELECT doc_id, max(n) AS top_token_n, count(*) AS n_distinct FROM (
      |    SELECT doc_id, w, count(*) AS n
      |    FROM (SELECT doc_id, unnest(ws) AS w FROM base)
      |    GROUP BY 1, 2)
      |  GROUP BY 1),
      |bg AS (
      |  SELECT doc_id, max(n) AS top_bigram_n FROM (
      |    SELECT doc_id, b, count(*) AS n
      |    FROM (SELECT doc_id,
      |            unnest(list_transform(range(1, len(ws)),
      |              i -> ws[i] || ' ' || ws[i + 1])) AS b
      |          FROM base)
      |    GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT b.doc_id,
      |  CAST(len(b.ws) AS INT) AS n_tokens,
      |  CAST(tok.n_distinct AS INT) AS n_distinct,
      |  CAST(tok.top_token_n AS INT) AS top_token_n,
      |  CAST(greatest(len(b.ws) - 1, 0) AS INT) AS n_bigrams,
      |  CAST(COALESCE(bg.top_bigram_n, 0) AS INT) AS top_bigram_n,
      |  ((len(b.ws) > 1 AND COALESCE(bg.top_bigram_n, 0) * 5 >= len(b.ws) - 1)
      |   OR (len(b.ws) - tok.n_distinct) * 2 > len(b.ws)) AS repetitive
      |FROM base b JOIN tok USING (doc_id) LEFT JOIN bg USING (doc_id)
      |ORDER BY doc_id"""
  ) { docs =>
    val base = docs.select(col("doc_id"), toks.as("ws"))
    val tokStats = base
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("top_token_n"), count(lit(1)).as("n_distinct"))
    // bigram stream; guard single-token docs (sequence(1,0) descends)
    val bigram = transform(
      sequence(lit(1), size(col("ws")) - 1),
      i => concat_ws(" ", element_at(col("ws"), i), element_at(col("ws"), i + 1)))
    val bgStats = base
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(bigram).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id")).agg(max(col("n")).as("top_bigram_n"))
    val nTok = size(col("ws"))
    val topBg = coalesce(col("top_bigram_n"), lit(0L))
    base
      .join(tokStats, "doc_id")
      .join(bgStats, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        col("n_distinct").cast(IntegerType).as("n_distinct"),
        col("top_token_n").cast(IntegerType).as("top_token_n"),
        greatest(nTok - 1, lit(0)).as("n_bigrams"),
        topBg.cast(IntegerType).as("top_bigram_n"),
        ((nTok > 1 && topBg * 5 >= nTok - 1) ||
          (nTok - col("n_distinct")) * 2 > nTok).as("repetitive"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // Corpus-rare-bigram ratio: fraction of a document's bigrams that occur
  // ≤2 times corpus-wide — high ratio flags garbled/OCR-damaged text the
  // same way high LM perplexity would, but integer-exact (a true bigram-LM
  // log-prob sum is float-order-dependent across engines, so this is the
  // oracle-able stand-in with the same filtering power).
  //
  // Scale shape: the bigram stream is token-cardinality and is scanned
  // twice (once into the corpus-count agg, once into the join) — two
  // narrow re-derivations from the scan, deliberately NOT cached (caching
  // token-cardinality data is the wrong trade at 100 TB; the vocab-
  // cardinality count side is what the join shuffles).
  val rareBigram: Q = q(
    "text_rare_bigram_ratio",
    """WITH b AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |    i -> ws[i] || ' ' || ws[i + 1])) AS bg
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |        WHERE len(string_split(text, ' ')) >= 2)),
      |c AS (SELECT bg, count(*) AS n FROM b GROUP BY bg)
      |SELECT b.doc_id,
      |  CAST(count(*) AS INT) AS n_bigrams,
      |  CAST(sum(CASE WHEN c.n <= 2 THEN 1 ELSE 0 END) AS INT) AS n_rare,
      |  CAST(sum(CASE WHEN c.n <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
      |    AS rare_ratio
      |FROM b JOIN c USING (bg)
      |GROUP BY b.doc_id ORDER BY b.doc_id"""
  ) { docs =>
    val base = docs.select(col("doc_id"), toks.as("ws"))
      .filter(size(col("ws")) >= 2)
    val bigram = transform(
      sequence(lit(1), size(col("ws")) - 1),
      i => concat_ws(" ", element_at(col("ws"), i), element_at(col("ws"), i + 1)))
    val b = base.select(col("doc_id"), explode(bigram).as("bg"))
    val c = b.groupBy(col("bg")).agg(count(lit(1)).as("n"))
    b.join(c, "bg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(IntegerType).as("n_bigrams"),
        sum(when(col("n") <= 2, 1).otherwise(0)).cast(IntegerType).as("n_rare"))
      .withColumn("rare_ratio",
        col("n_rare").cast(DoubleType) / col("n_bigrams"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // PII detection + redaction — the scrub pass every training-data
  // pipeline runs before anything else ships. The synthetic corpus
  // carries no PII, so the spans are INJECTED deterministically from
  // doc_id (email, US-style phone, IPv4) in BOTH engines; detection and
  // redaction then run real regex machinery against text whose expected
  // content is a formula, which lets the oracle pin the REDACTED OUTPUT
  // ITSELF by md5 — not just the match counts. Patterns stay in the
  // RE2 ∩ java.util.regex common dialect (char classes, bounded repeats,
  // \b word boundaries — no lookaround), so both engines compile them.
  //
  // Scale shape: pure narrow map over the scan (regexp_extract_all +
  // three regexp_replace passes, all codegen'd), presentation sort only —
  // scan-speed at 100 TB like the rest of the text family.
  private val EmailRe = """[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""
  private val PhoneRe = """\b555-[0-9]{4}\b"""
  private val Ipv4Re = """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"""

  val piiScrub: Q = q(
    "text_pii_scrub",
    s"""WITH aug AS (
      |  SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR)
      |      || '@mail.example.com or 555-'
      |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |      || ' at 10.' || CAST(doc_id % 256 AS VARCHAR)
      |      || '.' || CAST(doc_id % 7 AS VARCHAR) || '.9 end' AS t
      |  FROM documents),
      |red AS (
      |  SELECT doc_id, t,
      |    regexp_replace(regexp_replace(regexp_replace(t,
      |      '$EmailRe', '<EMAIL>', 'g'),
      |      '$Ipv4Re', '<IP>', 'g'),
      |      '$PhoneRe', '<PHONE>', 'g') AS r
      |  FROM aug)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS INT) AS n_emails,
      |  CAST(len(regexp_extract_all(t, '$PhoneRe')) AS INT) AS n_phones,
      |  CAST(len(regexp_extract_all(t, '$Ipv4Re')) AS INT) AS n_ips,
      |  len(regexp_extract_all(t, '$EmailRe')) + len(regexp_extract_all(t, '$PhoneRe'))
      |    + len(regexp_extract_all(t, '$Ipv4Re')) > 0 AS has_pii,
      |  CAST(length(r) AS INT) AS red_len,
      |  md5(r) AS red_md5
      |FROM red ORDER BY doc_id"""
  ) { docs =>
    val aug = concat(
      col("text"), lit(" contact user"), col("doc_id").cast(StringType),
      lit("@mail.example.com or 555-"),
      lpad((col("doc_id") % 10000).cast(StringType), 4, "0"),
      lit(" at 10."), (col("doc_id") % 256).cast(StringType),
      lit("."), (col("doc_id") % 7).cast(StringType), lit(".9 end"))
    val red = regexp_replace(regexp_replace(regexp_replace(
      col("t"), lit(EmailRe), lit("<EMAIL>")),
      lit(Ipv4Re), lit("<IP>")),
      lit(PhoneRe), lit("<PHONE>"))
    def hits(re: String): Column =
      size(regexp_extract_all(col("t"), lit(re), lit(0)))
    docs.select(col("doc_id"), aug.as("t"))
      .select(col("doc_id"), col("t"), red.as("r"))
      .select(
        col("doc_id"),
        hits(EmailRe).as("n_emails"),
        hits(PhoneRe).as("n_phones"),
        hits(Ipv4Re).as("n_ips"),
        (hits(EmailRe) + hits(PhoneRe) + hits(Ipv4Re) > 0).as("has_pii"),
        length(col("r")).as("red_len"),
        md5(col("r")).as("red_md5"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // Source-URL extraction + domain blocklist — the "drop known-bad
  // domains" pass (spam/ads lists) between crawl and dedup. URLs are
  // synthesized from doc_id like the PII spans above; the host is then
  // re-extracted by a real regex and rolled up against a blocklist.
  //
  // Scale shape: the blocklist is a FACT-vs-TINY-DIM join — broadcast on
  // the Spark side (a real blocklist is ~1e5 domains, far under the 10 MB
  // default broadcast threshold), so the scan never shuffles; the
  // per-domain rollup collapses map-side to one row per domain.
  private val UrlDomains = Seq(
    "news.example.org", "blog.example.net", "spam.example.biz",
    "ads.example.biz", "docs.example.org", "shop.example.net")
  private val BlockedDomains = Seq("spam.example.biz", "ads.example.biz")
  private val HostRe = """^https://([a-z.]+)/"""
  private val TldRe = """\.([a-z]+)$"""

  val urlBlocklist: Q = q(
    "text_url_blocklist",
    s"""WITH urls AS (
      |  SELECT doc_id,
      |    'https://' || CASE CAST(doc_id % 6 AS INT)
      |      ${UrlDomains.zipWithIndex.map { case (d, i) => s"WHEN $i THEN '$d'" }.mkString(" ")}
      |    END || '/p/' || CAST(doc_id AS VARCHAR) AS url,
      |    len(string_split(text, ' ')) AS n_tok
      |  FROM documents),
      |hosts AS (
      |  SELECT doc_id, n_tok,
      |    regexp_extract(url, '$HostRe', 1) AS domain FROM urls),
      |flagged AS (
      |  SELECT h.doc_id, h.n_tok, h.domain,
      |    regexp_extract(h.domain, '$TldRe', 1) AS tld,
      |    b.domain IS NOT NULL AS blocked
      |  FROM hosts h LEFT JOIN (VALUES
      |    ${BlockedDomains.map(d => s"('$d')").mkString(", ")}) b(domain)
      |    ON h.domain = b.domain)
      |SELECT domain, tld, blocked,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      |FROM flagged GROUP BY domain, tld, blocked ORDER BY domain"""
  ) { docs =>
    val spark = docs.sparkSession
    import spark.implicits._
    val url = concat(lit("https://"),
      element_at(
        array(UrlDomains.map(lit): _*), (col("doc_id") % 6).cast(IntegerType) + 1),
      lit("/p/"), col("doc_id").cast(StringType))
    val block = BlockedDomains.toDF("b_domain")
    docs.select(col("doc_id"), url.as("url"), size(toks).as("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        regexp_extract(col("url"), HostRe, 1).as("domain"))
      .join(broadcast(block), col("domain") === col("b_domain"), "left")
      .select(col("domain"),
        regexp_extract(col("domain"), TldRe, 1).as("tld"),
        col("b_domain").isNotNull.as("blocked"), col("n_tok"))
      .groupBy(col("domain"), col("tld"), col("blocked"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast(LongType).as("n_tokens"))
      .orderBy(col("domain"))
  }

  // ------------------------------------------------------------------
  // URL canonicalization dedup — the web-crawl step BEFORE any content
  // dedup: the same page arrives under http/https, WWW./case-varied
  // hosts, trailing slashes, and tracking params (utm_*, ref), and
  // canonicalizing first removes those exact duplicates at string speed
  // instead of paying shingle machinery for them. Rules (the standard
  // crawler set): scheme → https, host lowercased and www.-stripped,
  // trailing slash removed, tracking params dropped, surviving params
  // SORTED (param order is not identity); everything a narrow map — the
  // only shuffle is the final canonical-key agg.
  //
  // The corpus carries no URL column, so raw URLs derive deterministically
  // from doc_id with PLANTED variant pairs the rules must fold: per base
  // key k = doc_id div 3, variant 0 is already canonical, variant 1 is
  // the http/WWW/upper-host/trailing-slash/utm form (MUST merge with 0),
  // and variant 2 keeps a REAL param (page=2) next to a tracking one
  // (must survive as its own canonical — real params are identity).
  private val TrackingPrefixes = Seq("utm_", "ref=", "fbclid=", "gclid=")

  /** Canonicalize a URL column (generic — no corpus assumptions). */
  private[operators] def canonicalUrl(url: Column): Column = {
    val re = """^([a-zA-Z]+)://([^/?]+)([^?]*)\??(.*)$"""
    val host = regexp_replace(lower(regexp_extract(url, re, 2)), "^www\\.", "")
    val path = regexp_replace(regexp_extract(url, re, 3), "/$", "")
    val keptParams = array_sort(filter(
      split(regexp_extract(url, re, 4), "&"),
      p => p =!= "" && !TrackingPrefixes
        .map(t => lower(p).startsWith(t))
        .reduce[Column](_ || _)))
    val q = array_join(keptParams, "&")
    concat(lit("https://"), host, path,
      when(q =!= "", concat(lit("?"), q)).otherwise(lit("")))
  }

  val urlCanonicalDedup: Q = q(
    "text_url_canonical_dedup",
    s"""WITH raw AS (
       |  SELECT doc_id,
       |    CASE CAST(doc_id % 3 AS INT)
       |      WHEN 0 THEN 'https://' || dom || '/p/' || CAST(doc_id // 3 AS VARCHAR)
       |      WHEN 1 THEN 'HTTP://WWW.' || upper(dom) || '/p/' || CAST(doc_id // 3 AS VARCHAR) || '/?utm_source=feed&UTM_campaign=x'
       |      ELSE 'https://' || dom || '/p/' || CAST(doc_id // 3 AS VARCHAR) || '?page=2&ref=home'
       |    END AS url
       |  FROM (
       |    SELECT doc_id, CASE CAST((doc_id // 3) % 6 AS INT)
       |      ${UrlDomains.zipWithIndex.map { case (d, i) => s"WHEN $i THEN '$d'" }.mkString(" ")}
       |    END AS dom FROM documents)),
       |canon AS (
       |  SELECT doc_id,
       |    'https://'
       |      || regexp_replace(lower(regexp_extract(url, '^([a-zA-Z]+)://([^/?]+)([^?]*)\\??(.*)$$', 2)), '^www\\.', '')
       |      || regexp_replace(regexp_extract(url, '^([a-zA-Z]+)://([^/?]+)([^?]*)\\??(.*)$$', 3), '/$$', '')
       |      || CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical_url
       |  FROM (
       |    SELECT doc_id, url,
       |      COALESCE(array_to_string(list_sort(list_filter(
       |        string_split(regexp_extract(url, '^([a-zA-Z]+)://([^/?]+)([^?]*)\\??(.*)$$', 4), '&'),
       |        p -> p <> '' AND ${TrackingPrefixes.map(t => s"NOT starts_with(lower(p), '$t')").mkString(" AND ")})), '&'), '') AS q
       |    FROM raw))
       |SELECT canonical_url,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  MIN(doc_id) AS survivor_doc,
       |  CAST(COUNT(*) - 1 AS BIGINT) AS n_removed
       |FROM canon GROUP BY canonical_url ORDER BY canonical_url"""
  ) { docs =>
    val k = expr("doc_id div 3")
    val dom = element_at(array(UrlDomains.map(lit): _*),
      pmod(k, lit(6L)).cast(IntegerType) + 1)
    val raw = when(pmod(col("doc_id"), lit(3L)) === 0,
        concat(lit("https://"), dom, lit("/p/"), k.cast(StringType)))
      .when(pmod(col("doc_id"), lit(3L)) === 1,
        concat(lit("HTTP://WWW."), upper(dom), lit("/p/"), k.cast(StringType),
          lit("/?utm_source=feed&UTM_campaign=x")))
      .otherwise(
        concat(lit("https://"), dom, lit("/p/"), k.cast(StringType),
          lit("?page=2&ref=home")))
    docs.select(col("doc_id"), canonicalUrl(raw).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("survivor_doc"),
        (count(lit(1)) - 1).as("n_removed"))
      .orderBy(col("canonical_url"))
  }

  // ------------------------------------------------------------------
  // Weighted sampling without replacement — systematic probability-
  // proportional-to-size (PPS): lay every document's weight (here
  // n_chars) end-to-end on a line, then pick every T-th position; a
  // document is drawn once per grid position inside its interval, so
  // inclusion probability is exactly w/T (docs with w >= T are always
  // drawn — the classic certainty-inclusion property). Deterministic and
  // integer-exact — reproducible sampling is a FEATURE for training-data
  // pipelines (same corpus + same T ⇒ same sample on any engine), and it
  // is what makes the query oracle-hashable where an exponential-keys
  // (Efraimidis–Spirakis) variant would hinge on cross-engine pow/ln ulps.
  //
  // Scale shape: the prefix sum runs per-shard (the tokenPacking idiom) so
  // no single reducer sees the corpus; the grid test is then a narrow map
  // over (prefix, w). The per-shard grid offset decorrelates shard
  // boundaries. One shuffle (the sharded window), then scan-speed.
  private val SampleShards = 8
  private val SampleT = 1000L // grid step: E[picks per doc] = w / T

  val weightedSample: Q = Q(
    "text_weighted_sample",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val off = pmod(col("shard") * 37L, lit(SampleT)) // per-shard grid phase
      // Shift both interval ends by T - off so the floor-divisions operate
      // on strictly positive ints — Spark `div` truncates toward zero while
      // DuckDB `//` floors, and they only agree on non-negatives.
      val s0 = col("cum_before") + SampleT - col("off")
      val s1 = col("cum_before") + col("w") + SampleT - col("off")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(SampleShards.toLong)).as("shard"),
          col("n_chars").as("w"))
        .withColumn("off", off)
        .withColumn("cum_before", coalesce(sum(col("w")).over(w), lit(0L)))
        .withColumn("s0m1", s0 - 1).withColumn("s1m1", s1 - 1)
        .withColumn("n_picks",
          expr(s"s1m1 div $SampleT") - expr(s"s0m1 div $SampleT"))
        .filter(col("n_picks") > 0)
        .select(col("doc_id"), col("shard"), col("w"),
          col("cum_before"), col("n_picks"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH b AS (
      |  SELECT doc_id, doc_id % $SampleShards AS shard, n_chars AS w
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, shard, w, (shard * 37) % $SampleT AS off,
      |    CAST(COALESCE(SUM(w) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_before
      |  FROM b),
      |p AS (
      |  SELECT doc_id, shard, w, cum_before,
      |    (cum_before + w + $SampleT - off - 1) // $SampleT
      |      - (cum_before + $SampleT - off - 1) // $SampleT AS n_picks
      |  FROM o)
      |SELECT doc_id, shard, w, cum_before, n_picks
      |FROM p WHERE n_picks > 0 ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------------------------
  // Heavy hitters via a Misra–Gries sketch (bounded-memory frequent
  // tokens — the "what dominates this corpus" pass), pinned the
  // q_approx_stats_pinned way: the sketch's raw counters depend on
  // partitioning order (engine-native), but its GUARANTEES hold for ANY
  // reduce/merge order, so the pinned booleans are deterministic and the
  // DuckDB oracle checks them alongside the exact scalars:
  //   every token with exact count > n/k is surfaced,
  //   each surfaced estimate sits in [exact − n/k, exact],
  //   the sketch carries ≤ k−1 counters.
  // Scale shape: ONE aggregation with O(k) state per mapper — no
  // vocabulary-sized shuffle for the sketch side; the exact side (used
  // only to audit the pins) is the usual token hash-agg.
  private val HhK = 32

  val heavyHittersPinned: Q = Q(
    "text_heavy_hitters_pinned",
    (s, dir) => {
      val toks = Tables.load(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
      val exact = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // reused thrice below; vocabulary-sized (tiny)
      // total tokens from the CHECKPOINTED vocab frame (sum of counts ==
      // token count) — toks.count() would re-scan and re-explode the
      // whole corpus for a number already in hand
      val nTot = exact.agg(sum(col("c"))).head().getLong(0)
      val sketch = toks
        .agg(graft.functions.MisraGries.udafFn(HhK)(col("w")).as("m"))
        .select(explode(col("m")).as(Seq("w", "est")))
      val audit = broadcast(sketch).join(exact, Seq("w"), "right")
      val row = audit.agg(
        count(lit(1)).as("n_vocab"),
        sum(when(col("c") * HhK > nTot, 1L).otherwise(0L)).as("n_heavy_exact"),
        // guarantee 2: every exact-heavy token was surfaced
        (sum(when(col("c") * HhK > nTot && col("est").isNull, 1L)
          .otherwise(0L)) === 0L).as("all_heavy_surfaced"),
        // guarantee 1: surfaced estimates within [exact - n/k, exact]
        (sum(when(col("est").isNotNull &&
            (col("est") > col("c") ||
             (col("c") - col("est")) * HhK > nTot), 1L)
          .otherwise(0L)) === 0L).as("est_bounds_ok"),
        (sum(when(col("est").isNotNull, 1L).otherwise(0L)) <= HhK - 1)
          .as("size_le_k"))
      row.select(lit(nTot).as("n_tokens"), col("n_vocab").cast(LongType),
        col("n_heavy_exact").cast(LongType), col("all_heavy_surfaced"),
        col("est_bounds_ok"), col("size_le_k"))
    },
    Some(s"""WITH t AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM t),
      |c AS (SELECT w, COUNT(*) AS c FROM t GROUP BY w)
      |SELECT n.n_tokens,
      |  CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_vocab,
      |  CAST((SELECT COUNT(*) FROM c, n WHERE c.c * $HhK > n.n_tokens)
      |    AS BIGINT) AS n_heavy_exact,
      |  TRUE AS all_heavy_surfaced, TRUE AS est_bounds_ok,
      |  TRUE AS size_le_k
      |FROM n""".stripMargin))

  // ------------------------------------------------------------------
  // BPE merge learning — tokenizer TRAINING as a distributed operator
  // (the byte-pair-encoding loop every LLM tokenizer is built by): per
  // round, count all adjacent token pairs across the corpus, take the
  // global argmax (count desc, lexicographic tie-break), apply the merge
  // to every sequence, repeat. Three rounds unrolled; output = the
  // learned merge table (round, pair, pre-merge count, post-merge corpus
  // token count).
  //
  // The merge is applied by plain string replace on a space-DOUBLED
  // rendering of each sequence: with tokens separated by two spaces and
  // single-space padding at the ends, each occurrence of the pair is the
  // 6-token-boundary pattern ' a  b ', and its replacement ' a~b '
  // consumes one space from each flank — so the doubled-space invariant
  // survives the replacement and the scan's left-to-right non-overlap
  // behavior IS greedy BPE ('a a a' merges once, 'a b a b' merges twice;
  // both engines' replace() scan identically — verified on those cases).
  // Merged tokens join with '~' (absent from the corpus alphabet, checked
  // by the oracle-hash equality itself) and participate in later rounds
  // as ordinary tokens, exactly like real BPE vocabulary growth.
  //
  // 100 TB shape: per round ONE map-side-combinable pair-count aggregation
  // over the corpus + a narrow replace map; the driver loop carries only
  // the 1-row argmax (a bounded scalar collect, the kcore/coreness
  // discipline) — sequences never leave the executors. Rounds are the
  // training depth, same honest BSP cost as every iterative operator here.
  private val BpeRounds = 3

  /** The BPE training loop shared by `text_bpe_merges` (emits the learned
    * merge table) and `text_bpe_encode` (emits the encoded corpus): learn
    * `BpeRounds` merges by global pair-count argmax and apply each to every
    * sequence. Returns the final doubled-space-rendered frame (doc_id, s)
    * and the learned (round, a, b, pairCount, nTokensAfter) rows.
    */
  private def bpeLearn(docs: DataFrame)
      : (DataFrame, Seq[(Int, String, String, Long, Long)]) = {
    var cur = docs.select(col("doc_id"),
      concat(lit(" "), expr("replace(text, ' ', '  ')"), lit(" ")).as("s"))
      .localCheckpoint(true)
    val learned = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long, Long)]()
    (1 to BpeRounds).foreach { r =>
      val pairsOf = transform(sequence(lit(1), size(col("t")) - 1),
        i => struct(element_at(col("t"), i).as("a"),
          element_at(col("t"), i + 1).as("b")))
      val counts = cur.select(split(trim(col("s")), "  ").as("t"))
        .filter(size(col("t")) >= 2) // sequence(1,0) descends under ANSI
        .select(explode(pairsOf).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
      // bounded 1-row argmax collect: the trainer's driver loop carries
      // (a, b, cnt) per round, never sequence data. headOption: a corpus
      // with no adjacent pairs left terminates training cleanly (real BPE
      // stops when no pair remains) instead of NoSuchElementException.
      val bestOpt = counts.orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect().headOption
      if (bestOpt.isEmpty) return (cur, learned.toSeq)
      val best = bestOpt.get
      val (a, b, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      // the post-merge token count RIDES the merge materialization as an
      // observation (the kcore convergence-witness pattern) — no separate
      // per-round count job
      val obs = org.apache.spark.sql.Observation(s"bpe_nafter_$r")
      // literal-safe replace: the learned tokens are DATA — interpolating
      // them into an expr() string would break (or be altered by) any
      // token containing a quote/backslash. functions.replace carries
      // them as Column literals with the same substring semantics.
      cur = cur.select(col("doc_id"),
        replace(col("s"), lit(s" $a  $b "), lit(s" $a~$b ")).as("s"))
        .observe(obs,
          sum(size(split(trim(col("s")), "  ")).cast(LongType)).as("n"))
        .localCheckpoint(true)
      val nAfter = obs.get("n").asInstanceOf[Long]
      learned += ((r, a, b, cnt, nAfter))
    }
    (cur, learned.toSeq)
  }

  /** The shared oracle CTE chain r0 → (c_r, m_r, r_r, n_r)* replaying the
    * training loop in DuckDB; each BPE query appends its own final SELECT.
    */
  private def bpeOracleCtes: String = {
    val roundCtes = (1 to BpeRounds).map { r =>
        s"""c$r AS (
           |  SELECT t[i] AS a, t[i + 1] AS b, COUNT(*) AS cnt FROM (
           |    SELECT string_split(trim(s), '  ') AS t FROM r${r - 1}) x,
           |    unnest(range(1, len(t))) AS u(i)
           |  GROUP BY a, b),
           |m$r AS (SELECT a, b, cnt FROM c$r ORDER BY cnt DESC, a, b LIMIT 1),
           |r$r AS (
           |  SELECT doc_id,
           |    replace(s, ' ' || m$r.a || '  ' || m$r.b || ' ',
           |               ' ' || m$r.a || '~' || m$r.b || ' ') AS s
           |  FROM r${r - 1}, m$r),
           |n$r AS (SELECT SUM(len(string_split(trim(s), '  '))) AS n FROM r$r)"""
      }.mkString(",\n")
    s"""WITH r0 AS (
       |  SELECT doc_id, ' ' || replace(text, ' ', '  ') || ' ' AS s
       |  FROM documents),
       |$roundCtes"""
  }

  /** ONE sequential-trainer run per (session, dir) — `text_bpe_merges`,
    * `text_bpe_encode`, and `text_bpe_packing` all consume the identical
    * loop (r16: each previously re-ran the 3 argmax rounds itself — the
    * "replay the topic N times" mistake at the trainer level; the batched
    * trainer deliberately keeps its own run, it exists to prove the OTHER
    * algorithm). `cur` is round-checkpointed inside [[bpeLearn]], so the
    * memoized frame is already block-manager-resident. */
  private val bpeShared = new graft.SessionMemo[
      (DataFrame, Seq[(Int, String, String, Long, Long)])](
    (s, dir) => bpeLearn(Tables.load(s, dir, "documents")))

  val bpeMerges: Q = Q(
    "text_bpe_merges",
    (s, dir) => {
      val (_, learned) = bpeShared(s, dir)
      import s.implicits._
      learned
        .toDF("round", "tok_a", "tok_b", "pair_count", "n_tokens_after")
        .orderBy(col("round"))
    },
    Some {
      val rows = (1 to BpeRounds).map { r =>
        s"SELECT $r AS round, m$r.a AS tok_a, m$r.b AS tok_b, " +
          s"CAST(m$r.cnt AS BIGINT) AS pair_count, " +
          s"CAST(n$r.n AS BIGINT) AS n_tokens_after FROM m$r, n$r"
      }.mkString("\nUNION ALL ")
      s"""$bpeOracleCtes
         |$rows
         |ORDER BY round""".stripMargin
    })

  // ------------------------------------------------------------------
  // BATCHED BPE trainer — the production-scale shape of the loop above
  // (VERDICT r12 item 4): one driver round-trip and one corpus
  // materialization PER MERGE is exact but means ~30k Spark jobs for a
  // real ~30k-merge tokenizer. Instead, each round takes the TOP-M pairs
  // by the same (count desc, a, b) ranking and applies every selected one
  // in a single narrow map, so ~M merges ride one pair-count aggregation
  // — hundreds of merges in tens of rounds.
  //
  // Selection must be CONFLICT-FREE to stay well-defined: two merges
  // sharing a token interact (applying one changes the other's
  // occurrences), so a candidate is kept only when it shares no token
  // with ANY higher-ranked candidate of the round's top-M — the
  // CONSERVATIVE variant (conflicts with eliminated candidates also
  // eliminate; plain greedy would re-admit them), chosen because it is a
  // single order-independent anti-join both engines express identically,
  // not a sequential scan. Kept merges are token-DISJOINT, so the chained
  // replacements commute — applying them in rank order in one pass equals
  // applying them one at a time (BpeSpec pins batched ≡ sequential on a
  // corpus whose top-M pairs don't overlap). M=1 degenerates to the exact
  // sequential trainer, which `text_bpe_merges` keeps as the oracle twin.
  //
  // 100 TB shape: per round ONE map-side-combinable pair-count agg + ONE
  // narrow M-replace map; the driver carries M (a, b, cnt) rows per round
  // (bounded collect). Merge throughput per round is the count of
  // survivors (≥ 1 — rank 1 never conflicts), so a 30k-merge vocabulary
  // costs ~30k/M_eff rounds instead of 30k.
  private val BpeBatchM = 4
  private val BpeBatchedRounds = 3

  /** One training round's selection given the round's top-M candidates in
    * rank order: keep a pair iff it is token-disjoint from EVERY
    * higher-ranked candidate. Shared by the trainer and BpeSpec. */
  private[graft] def bpeSelectBatch(top: Seq[(String, String, Long)])
      : Seq[(Int, String, String, Long)] =
    top.zipWithIndex.collect {
      case ((a, b, cnt), i) if !top.take(i).exists { case (ha, hb, _) =>
          ha == a || ha == b || hb == a || hb == b } =>
        (i + 1, a, b, cnt)
    }

  /** The batched training loop: returns the final doubled-space frame and
    * the learned (round, rank, a, b, pairCount, nTokensAfter) rows. */
  private[graft] def bpeLearnBatched(docs: DataFrame, rounds: Int,
      m: Int): (DataFrame, Seq[(Int, Int, String, String, Long, Long)]) = {
    var cur = docs.select(col("doc_id"),
      concat(lit(" "), expr("replace(text, ' ', '  ')"), lit(" ")).as("s"))
      .localCheckpoint(true)
    val learned =
      scala.collection.mutable.ArrayBuffer[(Int, Int, String, String, Long, Long)]()
    (1 to rounds).foreach { r =>
      val pairsOf = transform(sequence(lit(1), size(col("t")) - 1),
        i => struct(element_at(col("t"), i).as("a"),
          element_at(col("t"), i + 1).as("b")))
      val counts = cur.select(split(trim(col("s")), "  ").as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(pairsOf).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
      // bounded M-row collect — the round's candidate slate
      val top = counts.orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(m).collect()
        .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
        .toSeq
      if (top.isEmpty) return (cur, learned.toSeq)
      val sel = bpeSelectBatch(top)
      // all selected merges in ONE narrow map: token-disjointness makes
      // the in-order replace chain equal simultaneous application
      val obs = org.apache.spark.sql.Observation(s"bpe_batched_nafter_$r")
      val merged = sel.foldLeft(col("s")) { case (c, (_, a, b, _)) =>
        replace(c, lit(s" $a  $b "), lit(s" $a~$b "))
      }
      cur = cur.select(col("doc_id"), merged.as("s"))
        .observe(obs,
          sum(size(split(trim(col("s")), "  ")).cast(LongType)).as("n"))
        .localCheckpoint(true)
      val nAfter = obs.get("n").asInstanceOf[Long]
      learned ++= sel.map { case (rk, a, b, cnt) => (r, rk, a, b, cnt, nAfter) }
    }
    (cur, learned.toSeq)
  }

  /** The oracle CTE chain replaying the batched loop: per round, the
    * ranked top-M slate (`topB_r`), the conflict-free survivors
    * (`selB_r`, the same anti-join rule as [[bpeSelectBatch]]), and the
    * fixed-M nested replace where a rank with no survivor degenerates to
    * a chr(1) no-op pattern. */
  private def bpeBatchedOracleCtes: String = {
    val roundCtes = (1 to BpeBatchedRounds).map { r =>
      val applied = (1 to BpeBatchM).foldLeft("s") { (acc, j) =>
        s"""replace($acc,
           |      COALESCE((SELECT ' ' || a || '  ' || b || ' ' FROM selB$r WHERE rk = $j), chr(1)),
           |      COALESCE((SELECT ' ' || a || '~' || b || ' ' FROM selB$r WHERE rk = $j), chr(1)))"""
          .stripMargin
      }
      // every CTE in this chain is MATERIALIZED: the replace chain
      // references selB$r twice per rank (8× per round) and each round's
      // rB references the previous round's — plain CTEs re-inline per
      // reference, compounding the whole replay exponentially across
      // rounds (the round-12 DuckDB lesson)
      s"""cB$r AS MATERIALIZED (
         |  SELECT t[i] AS a, t[i + 1] AS b, COUNT(*) AS cnt FROM (
         |    SELECT string_split(trim(s), '  ') AS t FROM rB${r - 1}) x,
         |    unnest(range(1, len(t))) AS u(i)
         |  GROUP BY a, b),
         |topB$r AS MATERIALIZED (
         |  SELECT a, b, cnt, rk FROM (
         |    SELECT a, b, cnt,
         |      ROW_NUMBER() OVER (ORDER BY cnt DESC, a, b) AS rk
         |    FROM cB$r) WHERE rk <= $BpeBatchM),
         |selB$r AS MATERIALIZED (
         |  SELECT t.a, t.b, t.cnt, t.rk FROM topB$r t
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM topB$r h WHERE h.rk < t.rk
         |      AND (h.a IN (t.a, t.b) OR h.b IN (t.a, t.b)))),
         |rB$r AS MATERIALIZED (
         |  SELECT doc_id, $applied AS s
         |  FROM rB${r - 1}),
         |nB$r AS (SELECT SUM(len(string_split(trim(s), '  '))) AS n FROM rB$r)"""
    }.mkString(",\n")
    s"""WITH rB0 AS MATERIALIZED (
       |  SELECT doc_id, ' ' || replace(text, ' ', '  ') || ' ' AS s
       |  FROM documents),
       |$roundCtes"""
  }

  val bpeMergesBatched: Q = q(
    "text_bpe_merges_batched",
    {
      val rows = (1 to BpeBatchedRounds).map { r =>
        s"SELECT $r AS round, CAST(selB$r.rk AS INT) AS rank, " +
          s"selB$r.a AS tok_a, selB$r.b AS tok_b, " +
          s"CAST(selB$r.cnt AS BIGINT) AS pair_count, " +
          s"CAST(nB$r.n AS BIGINT) AS n_tokens_after FROM selB$r, nB$r"
      }.mkString("\nUNION ALL ")
      s"""$bpeBatchedOracleCtes
         |$rows
         |ORDER BY round, rank"""
    }
  ) { docs =>
    val (_, learned) = bpeLearnBatched(docs, BpeBatchedRounds, BpeBatchM)
    val sess = docs.sparkSession
    import sess.implicits._
    learned
      .toDF("round", "rank", "tok_a", "tok_b", "pair_count", "n_tokens_after")
      .orderBy(col("round"), col("rank"))
  }

  // ------------------------------------------------------------------
  // BPE ENCODE — tokenizer APPLICATION: run the learned merge table over
  // the corpus and emit, per document, the encoded sequence's stats plus
  // an md5 pin of the exact token stream (so the oracle hash certifies
  // every encoded token of every document, not just the counts). The
  // invariant n_tokens − n_tokens_encoded = Σ per-token '~' count is what
  // BpeSpec asserts structurally; the oracle re-derives all five columns
  // from the same doubled-space replay as text_bpe_merges.
  //
  // 100 TB shape: training (3 bounded argmax rounds) is the same loop as
  // text_bpe_merges; the application itself is a pure narrow map — at
  // scale you'd learn merges on a sample and apply them corpus-wide at
  // scan speed, which is exactly the split this pair of queries models.
  val bpeEncode: Q = Q(
    "text_bpe_encode",
    (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val (cur, _) = bpeShared(s, dir)
    val t = split(trim(col("s")), "  ")
    docs.select(col("doc_id"), size(toks).as("n_tokens"))
      .join(cur.select(col("doc_id"), t.as("t")), "doc_id")
      .select(
        col("doc_id"),
        col("n_tokens"),
        size(col("t")).as("n_tokens_encoded"),
        size(filter(col("t"), x => x.contains("~"))).as("n_merged_tokens"),
        md5(array_join(col("t"), " ")).as("enc_md5"))
      .orderBy(col("doc_id"))
    },
    Some(s"""$bpeOracleCtes,
       |enc AS (SELECT doc_id, string_split(trim(s), '  ') AS t
       |        FROM r$BpeRounds)
       |SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |  CAST(len(t) AS INT) AS n_tokens_encoded,
       |  CAST(len(list_filter(t, x -> contains(x, '~'))) AS INT) AS n_merged_tokens,
       |  md5(array_to_string(t, ' ')) AS enc_md5
       |FROM documents JOIN enc USING (doc_id)
       |ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------------------------
  // BPE-token context packing — the real loader's packing unit: windows
  // are cut every `PackBudget` LEARNED-tokenizer ids, not whitespace
  // tokens (text_token_packing's simplification). Fuses the bpeLearn
  // application frame into the per-SHARD running-offset packing: same
  // shard discipline (doc_id mod 32, window partitioned BY SHARD — a
  // global prefix sum would serialize one reducer at 100 TB), same pack-id
  // arithmetic, but n_tok counts the post-merge token stream, so merges
  // learned in training directly change where windows cut. The oracle
  // replays the identical BPE rounds (shared bpeOracleCtes) and the
  // identical windowed sum.
  val bpePacking: Q = Q(
    "text_bpe_packing",
    (s, dir) => {
    val (cur, _) = bpeShared(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    cur.select(col("doc_id"),
        pmod(col("doc_id"), lit(PackShards.toLong)).as("shard"),
        size(split(trim(col("s")), "  ")).as("n_tok"))
      .withColumn("start_offset",
        coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("pack_id",
        col("shard") * 1000000000000L + expr(s"start_offset div $PackBudget"))
      .select(col("doc_id"), col("shard"), col("pack_id"),
        col("start_offset"), col("n_tok"))
      .orderBy(col("doc_id"))
    },
    Some(s"""$bpeOracleCtes,
       |enc AS (
       |  SELECT doc_id, doc_id % $PackShards AS shard,
       |    CAST(len(string_split(trim(s), '  ')) AS INT) AS n_tok
       |  FROM r$BpeRounds),
       |o AS (
       |  SELECT doc_id, shard, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS start_offset
       |  FROM enc)
       |SELECT doc_id, shard, shard * 1000000000000 + start_offset // $PackBudget AS pack_id,
       |  start_offset, n_tok
       |FROM o ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------------------------
  // Deterministic epoch shuffle — the training loader's final step: a
  // seeded global permutation of the corpus into fixed shards with a
  // stable position inside each shard, different per epoch, byte-identical
  // on rerun. key = md5(epoch:doc_id) gives the permutation; shard = the
  // key's first 16 bits mod NShards; pos = rank of the key within the
  // (epoch, shard) cell. Two epochs emitted so the output certifies that
  // epochs really are distinct permutations of the same membership.
  //
  // 100 TB shape: shard assignment is a narrow map; the within-shard
  // ordering is exactly `repartition(shard).sortWithinPartitions(key)` —
  // one shuffle whose width you control by NShards (at scale, one shard
  // ≈ one output file, tens of thousands of shards, each a few hundred
  // MB). The window formulation here is the oracle-able equivalent; no
  // global sort, no single-reducer order-by, ever.
  private val ShuffleShards = 8

  val epochShuffle: Q = q(
    "text_epoch_shuffle",
    s"""WITH e AS (
       |  SELECT epoch, doc_id,
       |    md5(epoch || ':' || doc_id) AS sort_key
       |  FROM documents, unnest([0, 1]) AS u(epoch)),
       |s AS (
       |  SELECT epoch, doc_id, sort_key,
       |    ((strpos('0123456789abcdef', substr(sort_key, 1, 1)) - 1) * 4096
       |     + (strpos('0123456789abcdef', substr(sort_key, 2, 1)) - 1) * 256
       |     + (strpos('0123456789abcdef', substr(sort_key, 3, 1)) - 1) * 16
       |     + (strpos('0123456789abcdef', substr(sort_key, 4, 1)) - 1))
       |      % $ShuffleShards AS shard
       |  FROM e)
       |SELECT CAST(epoch AS INT) AS epoch, CAST(shard AS INT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY epoch, shard
       |         ORDER BY sort_key, doc_id) AS BIGINT) AS pos,
       |  doc_id, sort_key
       |FROM s
       |ORDER BY epoch, shard, pos"""
  ) { docs =>
    val key = md5(concat(col("epoch").cast(StringType), lit(":"),
      col("doc_id").cast(StringType)))
    val withKey = docs
      .select(col("doc_id"), explode(array(lit(0), lit(1))).as("epoch"))
      .select(col("epoch"), col("doc_id"), key.as("sort_key"))
      .withColumn("shard",
        pmod(conv(substring(col("sort_key"), 1, 4), 16, 10).cast(IntegerType),
          lit(ShuffleShards)))
    withKey
      .select(col("epoch"), col("shard"),
        row_number().over(Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("sort_key"), col("doc_id"))).cast(LongType).as("pos"),
        col("doc_id"), col("sort_key"))
      .orderBy(col("epoch"), col("shard"), col("pos"))
  }

  // ------------------------------------------------------------------
  // Duplicated-segment scrub — the line-level dedup step every web-scale
  // pipeline runs (CCNet / RefinedWeb remove lines repeated across the
  // corpus: headers, footers, cookie banners). The corpus here is
  // single-line word soup, so the "line" unit is a fixed 10-word segment;
  // to exercise the removal path deterministically the query first plants
  // the boilerplate: a shared 10-word banner prepended to every document
  // (exactly segment-width, so the remaining segmentation matches the
  // unbannered text). A segment occurring more than once corpus-wide is
  // dropped; survivors reassemble in order and the scrubbed text is
  // md5-pinned, so the oracle hash certifies the exact post-scrub corpus.
  //
  // 100 TB shape: segmenting is a narrow map; the duplicate count is ONE
  // map-side-combinable hash agg at segment cardinality; the verdict join
  // is a segment-keyed equi-join (this is the line-dedup shuffle — both
  // sides segment-cardinality, no all-pairs anywhere); reassembly is a
  // per-document sort_array over ≤ len(doc)/10 elements, bounded by the
  // row-size bound a document already has to satisfy.
  private val SegW = 10
  private val Banner =
    "graft corpus boilerplate banner alpha beta gamma delta epsilon zeta"

  val dupSegmentScrub: Q = q(
    "text_dup_segment_scrub",
    s"""WITH base AS (
       |  SELECT doc_id,
       |    string_split('$Banner' || ' ' || text, ' ') AS ws
       |  FROM documents),
       |seg AS (
       |  SELECT doc_id, i AS seg_idx,
       |    array_to_string(ws[(i * $SegW + 1):(i * $SegW + $SegW)], ' ') AS seg
       |  FROM base,
       |    unnest(range(0, CAST(ceil(len(ws) / $SegW.0) AS BIGINT))) AS u(i)),
       |c AS (SELECT seg, COUNT(*) AS n_occ FROM seg GROUP BY seg),
       |k AS (SELECT s.doc_id, s.seg_idx, s.seg, c.n_occ
       |      FROM seg s JOIN c USING (seg))
       |SELECT doc_id,
       |  CAST(COUNT(*) AS INT) AS n_segments,
       |  CAST(SUM(CASE WHEN n_occ = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
       |  CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS INT) AS n_dropped,
       |  md5(string_agg(CASE WHEN n_occ = 1 THEN seg END, ' '
       |        ORDER BY seg_idx)) AS scrub_md5
       |FROM k GROUP BY doc_id ORDER BY doc_id"""
  ) { docs =>
    val base = docs.select(col("doc_id"),
      split(concat(lit(Banner), lit(" "), col("text")), " ").as("ws"))
    val segOf = transform(
      expr(s"sequence(0, cast(ceil(size(ws) / $SegW.0) as int) - 1)"),
      i => array_join(slice(col("ws"), (i * SegW + 1).cast(IntegerType),
        lit(SegW)), " "))
    val seg = base
      .select(col("doc_id"), posexplode(segOf).as(Seq("seg_idx", "seg")))
    val counts = seg.groupBy(col("seg")).agg(count(lit(1)).as("n_occ"))
    val k = seg.join(counts, "seg")
    k.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast(IntegerType).as("n_segments"),
        sum(when(col("n_occ") === 1, 1).otherwise(0)).cast(IntegerType)
          .as("n_kept"),
        sum(when(col("n_occ") > 1, 1).otherwise(0)).cast(IntegerType)
          .as("n_dropped"),
        // in-order reassembly: sort the (seg_idx, seg) structs, then join
        // the surviving segment texts — NULL (not '') when nothing kept,
        // matching string_agg-over-no-rows in the oracle
        array_sort(collect_list(
          when(col("n_occ") === 1, struct(col("seg_idx"), col("seg")))))
          .as("kept"))
      .select(col("doc_id"), col("n_segments"), col("n_kept"), col("n_dropped"),
        when(col("n_kept") === 0, lit(null).cast(StringType))
          .otherwise(md5(array_join(transform(col("kept"), _.getField("seg")),
            " "))).as("scrub_md5"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // Vocabulary construction + id encoding — the "tokenize to ids" step
  // between BPE training and the training loader: build the vocab table
  // (token → dense id, most-frequent-first, ties lexicographic — the
  // conventional tokenizer ordering) and re-express every document as its
  // id sequence. Output md5-pins the exact id stream per document plus an
  // integer id-sum as independent evidence.
  //
  // 100 TB shape: the token count is a map-side-combinable hash agg that
  // collapses corpus cardinality to VOCAB cardinality before anything
  // expensive; the id assignment is a row_number over the vocab only —
  // the one global sort in the pipeline, over the agg's output, never the
  // corpus (the same shape production tokenizers use; with a multi-GB
  // vocab you'd switch to a range-partitioned sort + partition-offset
  // zipWithIndex, same cost envelope). Encoding is a token-keyed
  // equi-join (broadcast when the vocab fits, shuffle-hash when it
  // doesn't) and a per-document bounded reassembly.
  val vocabIds: Q = q(
    "text_vocab_ids",
    """WITH t AS (
      |  SELECT doc_id, i AS pos, ws[i] AS w
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |    unnest(range(1, len(ws) + 1)) AS u(i)),
      |c AS (SELECT w, COUNT(*) AS n FROM t GROUP BY w),
      |v AS (SELECT w, row_number() OVER (ORDER BY n DESC, w) - 1 AS id FROM c),
      |e AS (SELECT t.doc_id, t.pos, v.id FROM t JOIN v USING (w))
      |SELECT doc_id,
      |  CAST(COUNT(*) AS INT) AS n_tokens,
      |  CAST(SUM(id) AS BIGINT) AS id_sum,
      |  md5(string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos)) AS ids_md5
      |FROM e GROUP BY doc_id ORDER BY doc_id"""
  ) { docs =>
    val t = docs.select(col("doc_id"),
      posexplode(toks).as(Seq("pos", "w")))
    val counts = t.groupBy(col("w")).agg(count(lit(1)).as("n"))
    // two-pass global rank over the vocabulary (r17 — the single global
    // window here was the one "all data to a single partition" WindowExec
    // in a query path whose input is UNBOUNDED at corpus scale; the
    // range-partitioned rank is output-identical — (n desc, w) is total
    // since w is distinct — and scales with the vocab)
    val vocab = graft.Ranks
      .globalRank(counts, "id", col("n").desc, col("w"))
      .select(col("w"), col("id"))
    t.join(vocab, "w")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast(IntegerType).as("n_tokens"),
        sum(col("id")).as("id_sum"),
        array_sort(collect_list(struct(col("pos"), col("id")))).as("seq"))
      .select(col("doc_id"), col("n_tokens"), col("id_sum"),
        md5(array_join(transform(col("seq"),
          _.getField("id").cast(StringType)), " ")).as("ids_md5"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // Token co-occurrence mining — frequent-itemset pairs (the market-basket
  // pass over documents): token pairs appearing together in ≥ MinSupport
  // documents, with the integer evidence for lift/PMI (n_both · N vs
  // n_a · n_b — the cross-multiplied form, no division, so the oracle
  // compares exactly). The a-priori discipline orders the plan: per-doc
  // DISTINCT tokens first, then frequent TOKENS (support ≥ MinSupport —
  // any frequent pair's members are frequent), and only then the pair
  // expansion over the pruned token set.
  //
  // 100 TB shape: doc→distinct-token explode is a narrow map; token
  // support is a map-side-combinable hash agg; the pair generation is a
  // self-join per document restricted to FREQUENT tokens (the a-priori
  // prune is what bounds per-doc fan-out), and the pair count collapses
  // under partial aggregation. Vocabulary here is tiny; at scale the
  // prune carries the load, exactly as in the published algorithm.
  private val MinSupport = 100

  val tokenCooccurrence: Q = q(
    "text_token_cooccurrence",
    s"""WITH dt AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM dt),
      |sup AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w FROM dt GROUP BY w
      |  HAVING COUNT(*) >= $MinSupport),
      |pairs AS (
      |  SELECT a.w AS w_a, b.w AS w_b, CAST(COUNT(*) AS BIGINT) AS n_both
      |  FROM (SELECT dt.doc_id, dt.w FROM dt JOIN sup USING (w)) a
      |  JOIN (SELECT dt.doc_id, dt.w FROM dt JOIN sup USING (w)) b
      |    ON a.doc_id = b.doc_id AND a.w < b.w
      |  GROUP BY a.w, b.w
      |  HAVING COUNT(*) >= $MinSupport)
      |SELECT p.w_a, p.w_b, p.n_both, sa.n_w AS n_a, sb.n_w AS n_b,
      |  p.n_both * n.n_docs AS lift_num, sa.n_w * sb.n_w AS lift_den,
      |  p.n_both * n.n_docs > sa.n_w * sb.n_w AS positively_associated
      |FROM pairs p
      |JOIN sup sa ON sa.w = p.w_a
      |JOIN sup sb ON sb.w = p.w_b
      |CROSS JOIN n
      |ORDER BY w_a, w_b"""
  ) { docs =>
    val dt = docs.select(col("doc_id"), explode(toks).as("w")).distinct()
      .localCheckpoint(true) // feeds support, both pair sides, and N
    val nDocs = dt.agg(countDistinct(col("doc_id")).as("n_docs"))
    val sup = dt.groupBy(col("w")).agg(count(lit(1)).as("n_w"))
      .filter(col("n_w") >= MinSupport)
    val pruned = dt.join(sup.select(col("w")), "w")
    val pairs = pruned.select(col("doc_id"), col("w").as("w_a"))
      .join(pruned.select(col("doc_id"), col("w").as("w_b")), Seq("doc_id"))
      .filter(col("w_a") < col("w_b"))
      .groupBy(col("w_a"), col("w_b")).agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= MinSupport)
    pairs
      .join(sup.select(col("w").as("w_a"), col("n_w").as("n_a")), "w_a")
      .join(sup.select(col("w").as("w_b"), col("n_w").as("n_b")), "w_b")
      .crossJoin(broadcast(nDocs))
      .select(col("w_a"), col("w_b"), col("n_both"), col("n_a"), col("n_b"),
        (col("n_both") * col("n_docs")).as("lift_num"),
        (col("n_a") * col("n_b")).as("lift_den"),
        (col("n_both") * col("n_docs") > col("n_a") * col("n_b"))
          .as("positively_associated"))
      .orderBy(col("w_a"), col("w_b"))
  }

  // ------------------------------------------------------------------
  // N-gram novelty — the marginal-novelty curve dataset curation uses to
  // decide when more data stops adding information: attribute each
  // distinct 3-gram shingle to the FIRST document (smallest doc_id)
  // containing it, then score every document by how many of its shingles
  // it introduced. A crawl's novelty fraction decaying toward zero is the
  // stop signal; per-source novelty ranks which sources still pay.
  //
  // 100 TB shape: two map-side-combinable hash aggs (per-doc distinct
  // shingles; per-shingle MIN doc) and one shingle-keyed equi-join —
  // shingle cardinality everywhere past the scan, never pairs.
  val ngramNovelty: Q = q(
    "text_ngram_novelty",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS s
      |  FROM toks, unnest(range(1, len(t) - 1)) AS u(i)),
      |first AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s)
      |SELECT sh.doc_id,
      |  CAST(COUNT(*) AS INT) AS n_shingles,
      |  CAST(SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END) AS INT)
      |    AS n_novel
      |FROM sh JOIN first USING (s)
      |GROUP BY sh.doc_id ORDER BY doc_id"""
  )(docs => noveltyOf(docs, (a, b, c) => xxhash64(a, b, c)))

  /** The novelty pipeline, parameterized on the shingle key (8-byte
    * xxhash64 in the registered query — the dedup_tfidf_cosine scale key,
    * spec-pinned ≡ the string key; output carries only counts, never the
    * shingle, so the string-keyed DuckDB oracle stays valid). */
  private[graft] def noveltyOf(docsIn: DataFrame,
      keyOf: (Column, Column, Column) => Column): DataFrame = {
    // one parquet split carries the whole corpus — spread the heavy
    // tokenize+hash map across the cores first (the shingleDf/ChangeGen
    // discipline; at scale the source arrives already partitioned)
    val docs = docsIn.repartition(
      docsIn.sparkSession.sparkContext.defaultParallelism)
    val t = toks
    val shingle = transform(
      sequence(lit(1), size(t) - 2),
      i => keyOf(element_at(t, i), element_at(t, i + 1),
        element_at(t, i + 2)))
    // per-doc distinct via array_distinct BEFORE the explode (narrow map;
    // shingles only repeat within a doc, so this IS the corpus distinct)
    val sh = docs.filter(size(t) >= 3)
      .select(col("doc_id"), explode(array_distinct(shingle)).as("s"))
      .localCheckpoint(true) // feeds the first-doc agg AND the join back
    val first = sh.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(IntegerType).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1).otherwise(0))
          .cast(IntegerType).as("n_novel"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // Cross-source overlap matrix — the curation analytic behind "which
  // crawls duplicate each other": for every source pair, the number of
  // shared distinct 3-gram shingles and the EXACT Jaccard similarity of
  // their shingle sets (integer counts, one double division). High
  // overlap = a redundant source; near-1.0 = a mirror.
  //
  // 100 TB shape: the corpus collapses to distinct (source, shingle)
  // first (one map-side-combinable distinct at shingle cardinality);
  // the shingle self-join fans out at most #sources per shingle, so the
  // pair aggregation is bounded by shingles × sources — never doc pairs
  // — and the output is #sources² rows.
  val sourceOverlap: Q = q(
    "text_source_overlap",
    """WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS t
      |  FROM documents),
      |sh AS (SELECT DISTINCT source, t[i]||' '||t[i+1]||' '||t[i+2] AS s
      |  FROM toks, unnest(range(1, len(t)-1)) AS u(i)),
      |cnt AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
      |shared AS (
      |  SELECT x.source AS source_a, y.source AS source_b,
      |    COUNT(*) AS n_shared
      |  FROM sh x JOIN sh y USING (s)
      |  WHERE x.source < y.source GROUP BY 1, 2)
      |SELECT source_a, source_b, n_shared, ca.n AS n_a, cb.n AS n_b,
      |  CAST(n_shared AS DOUBLE) / (ca.n + cb.n - n_shared) AS jaccard
      |FROM shared
      |JOIN cnt ca ON ca.source = source_a
      |JOIN cnt cb ON cb.source = source_b
      |ORDER BY source_a, source_b"""
  )(docs => sourceOverlapOf(docs, (a, b, c) => xxhash64(a, b, c)))

  /** The overlap-matrix pipeline, parameterized on the shingle key
    * (8-byte xxhash64 in the registered query, spec-pinned ≡ the string
    * key — the distinct shuffle and self-join carry a long instead of a
    * ~30-byte string; output carries only counts). */
  private[graft] def sourceOverlapOf(docsIn: DataFrame,
      keyOf: (Column, Column, Column) => Column): DataFrame = {
    // single-split corpus → spread the tokenize+hash map (see noveltyOf)
    val docs = docsIn.repartition(
      docsIn.sparkSession.sparkContext.defaultParallelism)
    val t = toks
    val shingle = transform(
      sequence(lit(1), size(t) - 2),
      i => keyOf(element_at(t, i), element_at(t, i + 1),
        element_at(t, i + 2)))
    // array_distinct is per-doc only; the corpus-wide distinct on
    // (source, s) is still required (the same shingle appears in many
    // docs of one source) — but it now shuffles 8-byte keys, and the
    // pre-distinct explode is ~n_shingles per doc lighter
    val sh = docs.filter(size(t) >= 3)
      .select(col("source"), explode(array_distinct(shingle)).as("s")).distinct()
      .localCheckpoint(true) // feeds the per-source counts AND the self-join
    val cnt = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    sh.select(col("source").as("source_a"), col("s"))
      .join(sh.select(col("source").as("source_b"), col("s")), "s")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(cnt.select(col("source").as("source_a"), col("n").as("n_a"))), "source_a")
      .join(broadcast(cnt.select(col("source").as("source_b"), col("n").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        (col("n_shared").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_shared"))).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // ------------------------------------------------------------------
  // DSIR-shaped importance resampling (Data Selection via Importance
  // Resampling): pick the candidate documents whose hashed-bigram
  // distribution looks most like a trusted target slice. Target = the
  // `src0` source (the "Wikipedia" of this corpus); candidates = every
  // other source. Each bigram hashes into one of 256 buckets via the
  // fingerprint word hash (ascii*7 + len*31 + 1, identical in both
  // engines); a candidate's score is the sum over its bigram OCCURRENCES
  // of the integer-quantized target/raw count ratio
  //   (tc_b + 1) * 1_000_000 div (rc_b + 1)
  // minus its bigram count times the corpus-wide ratio
  //   (tN + 256) * 1_000_000 div (rN + 256)
  // — an add-one-smoothed, integer-exact surrogate for the DSIR
  // log-likelihood-ratio weight (positive integer division truncates
  // identically in Spark and DuckDB; no floats anywhere). Top 100 by
  // (score DESC, doc_id) are the resample.
  //
  // 100 TB shape: the bucket-stats table is ≤256 rows REGARDLESS of
  // corpus size (one map-side-combinable agg), broadcast back into the
  // candidate bigram stream; per-doc scoring is a hash agg with partial
  // combine; selection is orderBy+limit = per-partition TakeOrdered, no
  // global sort. Nothing anywhere scales with more than the corpus scan.
  private val DsirScale = 1000000L
  private val DsirBuckets = 256
  private val DsirTopN = 100

  val dsirSample: Q = q(
    "text_dsir_sample",
    s"""WITH tok AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      |bg AS (
      |  SELECT doc_id, source,
      |    ((ascii(w[i])*7 + length(w[i])*31 + 1) * 131
      |     + (ascii(w[i+1])*7 + length(w[i+1])*31 + 1)) % $DsirBuckets AS b
      |  FROM tok, unnest(generate_series(1, len(w) - 1)) AS u(i)),
      |stats AS (
      |  SELECT b,
      |    SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS tc,
      |    SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS rc
      |  FROM bg GROUP BY b),
      |tot AS (SELECT SUM(tc) AS tn, SUM(rc) AS rn_tot FROM stats),
      |scored AS (
      |  SELECT g.doc_id,
      |    SUM((s.tc + 1) * $DsirScale // (s.rc + 1)) AS bsum,
      |    COUNT(*) AS nb
      |  FROM bg g JOIN stats s ON g.b = s.b
      |  WHERE g.source <> 'src0' GROUP BY g.doc_id),
      |final AS (
      |  SELECT doc_id,
      |    bsum - nb * ((tot.tn + $DsirBuckets) * $DsirScale
      |                 // (tot.rn_tot + $DsirBuckets)) AS dsir_score
      |  FROM scored, tot)
      |SELECT doc_id, CAST(dsir_score AS BIGINT) AS dsir_score,
      |  CAST(ROW_NUMBER() OVER (ORDER BY dsir_score DESC, doc_id) AS BIGINT)
      |    AS rn
      |FROM final ORDER BY dsir_score DESC, doc_id LIMIT $DsirTopN"""
  )(dsirResample)

  /** The DSIR scoring+selection body, callable on any frame with
    * (doc_id, text, source) — the ×1/×3/×10 measurement in SCALE.md
    * (round 10) drove it over synthesized corpora. */
  def dsirResample(docs: DataFrame): DataFrame = {
    def hw(w: Column): Column =
      (ascii(w) * 7 + length(w) * 31 + 1).cast(LongType)
    val t = toks
    val buckets = zip_with(
      slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
      (a, b) => (hw(a) * 131L + hw(b)) % DsirBuckets)
    val bg = docs.select(col("doc_id"), col("source"), explode(buckets).as("b"))
    val isTarget = col("source") === "src0"
    val stats = bg.groupBy(col("b")).agg(
      sum(when(isTarget, 1L).otherwise(0L)).as("tc"),
      sum(when(isTarget, 0L).otherwise(1L)).as("rc"))
    val tot = stats.agg(sum(col("tc")).as("tn"), sum(col("rc")).as("rn_tot"))
    val scored = bg.filter(!isTarget)
      .join(broadcast(stats), "b")
      .groupBy(col("doc_id"))
      .agg(sum(expr(s"(tc + 1) * $DsirScale div (rc + 1)")).as("bsum"),
        count(lit(1)).as("nb"))
    scored.crossJoin(broadcast(tot))
      .select(col("doc_id"),
        (col("bsum") - col("nb") *
          expr(s"(tn + $DsirBuckets) * $DsirScale div (rn_tot + $DsirBuckets)"))
          .as("dsir_score"))
      .orderBy(col("dsir_score").desc, col("doc_id"))
      .limit(DsirTopN)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("dsir_score").desc, col("doc_id"))).cast(LongType))
      .orderBy(col("rn"))
  }

  // ------------------------------------------------------------------
  // BM25 top-k retrieval (rational-exact form) — the inverted-index
  // relevance scorer a query-based training-data selector needs (score a
  // corpus against a small query set, keep the best k per query). Standard
  // Okapi BM25 with k1 = 6/5, b = 3/4 written WITHOUT floats:
  //
  //   idf(term)  = (N − df + ½)/(df + ½)            = (2N − 2df + 1)/(2df + 1)
  //   tfp(t, d)  = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  //              = 44·TL·tf / (20·TL·tf + 6·TL + 18·dl·N)   with avgdl = TL/N
  //
  // (the log of the classical idf is dropped for its rational Robertson
  // surrogate — monotone-identical per term, and exactly representable).
  // Each term's contribution is floor-quantized at 10⁶ in exact integer
  // arithmetic (DECIMAL(38,0) / HUGEINT — numerator bounded by
  // 2N·44·TL·tf·10⁶ ≲ 10³⁴ even at N = 10¹⁰ docs, TL = 10¹³ tokens) and
  // the per-(query, doc) score is an exact integer SUM — order-independent,
  // so the oracle hash is stable under any partitioning.
  //
  // The query set is data-derived and deterministic: rank terms by
  // (df DESC, term), take ranks 5..12, pair them into 4 two-term queries.
  // Plan shape: df/qterms are vocab-bounded (broadcast); candidates =
  // docs containing a query term via a broadcast semi-join on the tf
  // table — never a corpus scan per query. The per-query top-k window
  // sorts only the candidate set; when k ≪ candidates at scale, swap in
  // the bounded-buffer TopKAggregator (Relational.scala:236) — same
  // result, k pairs per mapper through the shuffle.
  private[graft] val Bm25K = 10

  /** The t/n/tlt/df/qterms/qlabel/tf/dl/scored/topk CTE chain — shared by
    * `text_bm25_topk` (and by reference `text_bm25_served`, which reuses
    * that oracle verbatim) and `text_bm25_negatives`. */
  private def bm25OracleCtes: String =
    s"""WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |tlt AS (SELECT COUNT(*) AS tl FROM t),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY term),
      |top12 AS (SELECT term, df FROM df ORDER BY df DESC, term LIMIT 12),
      |ranked AS (
      |  SELECT term, df, ROW_NUMBER() OVER (ORDER BY df DESC, term) AS r
      |  FROM top12),
      |qterms AS (
      |  SELECT CAST((r - 5) // 2 AS INT) AS query_id, term, df, r
      |  FROM ranked WHERE r BETWEEN 5 AND 12),
      |qlabel AS (
      |  SELECT query_id, min_by(term, r) || ' ' || max_by(term, r) AS q_terms
      |  FROM qterms GROUP BY query_id),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
      |scored AS (
      |  SELECT q.query_id, tf.doc_id,
      |    CAST(SUM(
      |      (CAST(2 AS HUGEINT) * (SELECT n FROM n) - 2 * q.df + 1)
      |        * 44 * (SELECT tl FROM tlt) * tf.tf * 1000000
      |      // ((CAST(2 AS HUGEINT) * q.df + 1)
      |           * (CAST(20 AS HUGEINT) * (SELECT tl FROM tlt) * tf.tf
      |              + 6 * (SELECT tl FROM tlt)
      |              + CAST(18 AS HUGEINT) * dl.dl * (SELECT n FROM n)))
      |    ) AS BIGINT) AS score
      |  FROM qterms q
      |  JOIN tf ON tf.term = q.term
      |  JOIN dl ON dl.doc_id = tf.doc_id
      |  GROUP BY q.query_id, tf.doc_id),
      |topk AS (
      |  SELECT query_id, doc_id, score,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY score DESC, doc_id) AS rn
      |  FROM scored)""".stripMargin

  val bm25TopK: Q = Q(
    "text_bm25_topk",
    (s, dir) => bm25Retrieve(
      Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))),
    Some(s"""$bm25OracleCtes
      |SELECT k.query_id, l.q_terms, CAST(k.rn AS INT) AS rank, k.doc_id,
      |  k.score
      |FROM topk k JOIN qlabel l USING (query_id)
      |WHERE k.rn <= $Bm25K
      |ORDER BY k.query_id, k.rn""".stripMargin))

  /** Query-term selection from a (term, df) dictionary: rank by (df desc,
    * term), take ranks 5-12 as 4 two-term queries. The input to the
    * ranking window is bounded BEFORE the global window (sort+limit 12).
    * ONE definition shared by the recompute-per-run and index-serving
    * paths — they share an oracle, so they must share this. */
  private def bm25QueryTerms(dict: DataFrame): DataFrame =
    dict.orderBy(col("df").desc, col("term")).limit(12)
      .withColumn("r", row_number().over(
        Window.orderBy(col("df").desc, col("term"))))
      .filter(col("r").between(5, 12))
      .withColumn("query_id", expr("CAST((r - 5) div 2 AS INT)"))

  /** The rational-exact Okapi scoring expression (k1=1.2 b=0.75 as the
    * integer fractions 6/5 and 3/4, folded into one DECIMAL(38) integer
    * division) — shared verbatim by both BM25 paths. */
  private def bm25Contrib: Column = expr(
    """(CAST(2 AS DECIMAL(38,0)) * n_corpus - 2 * df + 1)
      | * 44 * tl_corpus * tf * 1000000
      | div ((CAST(2 AS DECIMAL(38,0)) * df + 1)
      |   * (CAST(20 AS DECIMAL(38,0)) * tl_corpus * tf
      |      + 6 * tl_corpus
      |      + CAST(18 AS DECIMAL(38,0)) * dl * n_corpus))""".stripMargin)

  /** Per-(query, doc) exact integer BM25 scores. `postings` = (term,
    * doc_id, tf); `stats` = 1 row (n_corpus, tl_corpus), broadcast into
    * the plan (the tfidf scalar pattern). */
  private def bm25Scored(postings: DataFrame, qterms: DataFrame,
      dl: DataFrame, stats: DataFrame): DataFrame = postings
    .join(broadcast(qterms.select(col("query_id"), col("term"), col("df"))), "term")
    .join(dl, "doc_id")
    .crossJoin(broadcast(stats))
    .groupBy(col("query_id"), col("doc_id"))
    .agg(sum(bm25Contrib).as("score"))

  /** Two-term query label per query_id. */
  private def bm25Labels(qterms: DataFrame): DataFrame =
    qterms.groupBy(col("query_id"))
      .agg(concat_ws(" ",
        min_by(col("term"), col("r")), max_by(col("term"), col("r"))).as("q_terms"))

  /** Score postings against the query terms and emit the labelled top-k —
    * the shared tail of `text_bm25_topk` and `text_bm25_served`. */
  private def bm25ScoreTopK(postings: DataFrame, qterms: DataFrame,
      dl: DataFrame, stats: DataFrame): DataFrame = {
    val scored = bm25Scored(postings, qterms, dl, stats)
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= Bm25K)
      .join(broadcast(bm25Labels(qterms)), "query_id")
      .select(col("query_id"), col("q_terms"), col("rn").as("rank"),
        col("doc_id"), col("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The BM25 scoring+retrieval body over any (doc_id, text) frame —
    * spec-driven on planted corpora with hand-replicated BigInt scores. */
  def bm25Retrieve(docs: DataFrame): DataFrame = {
    val terms = docs.select(col("doc_id"), explode_outer(toks).as("term"))
    // corpus scalars stay IN the plan (1-row broadcasts, the tfidf pattern)
    val stats = docs.agg(count(lit(1)).as("n_corpus"))
      .crossJoin(terms.agg(count(lit(1)).as("tl_corpus")))
    val dfT = terms.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val qterms = bm25QueryTerms(dfT)
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    bm25ScoreTopK(tf, qterms, dl, stats)
  }

  // -- BM25 index SERVING --------------------------------------------------
  // text_bm25_topk recomputes corpus statistics per run; a retrieval
  // service persists them once and answers queries by PRUNED index scan —
  // the IVF-serving discipline (SimilarityIvf's persisted cells) applied
  // to text retrieval. The index is three parquet tables built once per
  // (session, dir): `postings` (term, doc_id, tf) PARTITIONED BY the
  // term's hash bucket, `terms` (term, df — the vocab-bounded dictionary),
  // `doclen` (doc_id, dl), `stats` (one row: n_corpus, tl_corpus). Serving
  // resolves the query terms from the dictionary, computes their bucket
  // literals (an 8-row driver-side resolve — vocab-bounded, the IVF
  // nprobe shape), and scans ONLY those partitions: the plan pins
  // PartitionFilters on tbucket, so at 100 TB the scan touches
  // |query-term buckets| / nBuckets of the posting list instead of all of
  // it. Scoring is the same rational-exact expression, so the query
  // shares text_bm25_topk's oracle verbatim — the index detour must not
  // move a single rank.
  //
  // The clustering repartition on `term` computes exactly the partition
  // value pmod(hash(term), n), so it doubles as the write's clustering
  // exchange: ≤1 file per bucket directory (the partitionBy fan-out
  // lesson), zero added shuffles.
  private[graft] val Bm25Buckets = 16

  private val bm25IndexRoot = new graft.SessionMemo[String](buildBm25Index,
    root => org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root)))

  private def buildBm25Index(s: SparkSession, dir: String): String = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25-idx").toString
    val terms = docs.select(col("doc_id"), explode_outer(toks).as("term"))
    terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("tbucket", pmod(hash(col("term")), lit(Bm25Buckets)))
      .repartition(Bm25Buckets, col("term"))
      .write.partitionBy("tbucket").parquet(s"$root/postings")
    terms.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
      .write.parquet(s"$root/terms")
    terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .write.parquet(s"$root/doclen")
    docs.agg(count(lit(1)).as("n_corpus"))
      .crossJoin(terms.agg(count(lit(1)).as("tl_corpus")))
      .write.parquet(s"$root/stats")
    root
  }

  /** One micro-batch's contribution to an INCREMENTALLY maintained BM25
    * index: postings + doc lengths (append-only — a doc lives wholly in
    * one batch) and the two ADDITIVE per-batch partials (per-term df,
    * corpus totals) that serving merges by summation. One definition so
    * the streamed index's tokenization can never drift from
    * [[bm25Retrieve]]'s. Returns (postings(term, doc_id, tf, tbucket),
    * doclen(doc_id, dl), dfPart(term, df), statsPart(n_corpus, tl_corpus)). */
  private[graft] def bm25BatchParts(batch: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // ONE tokenization pass feeds all four parts — Spark shares no
    // duplicate subplans, so without the checkpoint each part's write
    // would re-read the source and re-explode the batch
    val terms = batch.select(col("doc_id"), explode_outer(toks).as("term"))
      .localCheckpoint(true)
    val postings = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("tbucket", pmod(hash(col("term")), lit(Bm25Buckets)))
      .select(col("term"), col("doc_id"), col("tf"), col("tbucket"))
    val doclen = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val dfPart = terms.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    // n_corpus from the exploded frame (explode_outer keeps every doc;
    // batch doc_ids are unique) — counting the batch directly would be a
    // second evaluation of the source
    val statsPart = terms.agg(
      countDistinct(col("doc_id")).as("n_corpus"),
      count(lit(1)).as("tl_corpus"))
    (postings, doclen, dfPart, statsPart)
  }

  /** Serve the standard 4-query set from a STREAMED index root
    * ([[graft.streaming.Bm25IndexStream]]'s layout): df and corpus stats
    * are merged from the per-batch additive partials (vocab-bounded and
    * 1-row-per-batch respectively), the posting scan prunes on tbucket
    * ACROSS every batch directory, and the scoring tail is the shared
    * [[bm25ScoreTopK]] — so the streamed index must reproduce
    * `text_bm25_topk` bit-exactly once every document has streamed in. */
  private[graft] def bm25ServeStreamed(s: SparkSession, root: String): DataFrame = {
    val dict = s.read.parquet(s"$root/df_part")
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val qterms = bm25QueryTerms(dict)
      .localCheckpoint(true) // tiny (8 rows); feeds label, prune, score
    val resolved = qterms.select(col("term"),
      pmod(hash(col("term")), lit(Bm25Buckets)).as("tbucket")).collect()
    val termLits = resolved.map(_.getString(0)).toSeq
    val bucketLits = resolved.map(_.getInt(1)).distinct.toSeq
    val postings = s.read.parquet(s"$root/postings")
      .filter(col("tbucket").isin(bucketLits: _*)) // -> PartitionFilters
      .filter(col("term").isin(termLits: _*))
      .select(col("term"), col("doc_id"), col("tf"))
    val dl = s.read.parquet(s"$root/doclen").select(col("doc_id"), col("dl"))
    val stats = s.read.parquet(s"$root/stats_part")
      .agg(sum(col("n_corpus")).as("n_corpus"),
        sum(col("tl_corpus")).as("tl_corpus"))
    bm25ScoreTopK(postings, qterms, dl, stats)
  }

  /** Serve the standard 4-query set from a persisted index root. */
  private[graft] def bm25Serve(s: SparkSession, root: String): DataFrame = {
    val qterms = bm25QueryTerms(s.read.parquet(s"$root/terms"))
      .localCheckpoint(true) // tiny (8 rows); feeds label, prune, score
    // bucket literals for STATIC partition pruning (8 rows to the driver
    // — the nprobe cell-list resolve)
    val resolved = qterms.select(col("term"),
      pmod(hash(col("term")), lit(Bm25Buckets)).as("tbucket")).collect()
    val termLits = resolved.map(_.getString(0)).toSeq
    val bucketLits = resolved.map(_.getInt(1)).distinct.toSeq
    val postings = s.read.parquet(s"$root/postings")
      .filter(col("tbucket").isin(bucketLits: _*)) // -> PartitionFilters
      .filter(col("term").isin(termLits: _*)) // -> PushedFilters in-bucket
      .select(col("term"), col("doc_id"), col("tf"))
    bm25ScoreTopK(postings, qterms,
      s.read.parquet(s"$root/doclen"), s.read.parquet(s"$root/stats"))
  }

  val bm25Served: Q = Q(
    "text_bm25_served",
    (s, dir) => bm25Serve(s, bm25IndexRoot(s, dir)),
    bm25TopK.oracle)

  /** Build the streamed index once per (session, dir): three waves of the
    * corpus (doc_id mod 3 — every doc in exactly one wave) through
    * [[graft.streaming.Bm25IndexStream.applyBatch]], the same function the
    * foreachBatch sink runs (the real StreamingQuery path is spec-driven
    * in Bm25IndexStreamSpec). */
  private val bm25StreamRoot = new graft.SessionMemo[String]({ (s, dir) =>
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25-stream").toString
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    (0 until 3).foreach(w => graft.streaming.Bm25IndexStream.applyBatch(
      docs.filter(pmod(col("doc_id"), lit(3)) === w), root, w.toLong))
    root
  }, root => org.apache.commons.io.FileUtils.deleteDirectory(
    new java.io.File(root)))

  // The streamed-index serving endpoint: after the three waves the
  // summed partials equal the batch corpus statistics (a doc lives wholly
  // in one wave), so this MUST reproduce text_bm25_topk bit-exactly —
  // the oracle is shared verbatim, making "incremental maintenance lost
  // nothing" a driver-hash-checked claim.
  val bm25StreamServed: Q = Q(
    "text_bm25_stream_served",
    (s, dir) => bm25ServeStreamed(s, bm25StreamRoot(s, dir)),
    bm25TopK.oracle)

  // ------------------------------------------------------------------
  // BM25 hard-negative mining — the DPR data-prep recipe (Karpukhin et
  // al.): per query, the top-k pseudo-POSITIVES (hits containing ALL the
  // query's terms) AND the top-k HARD NEGATIVES — the best-BM25-scoring
  // docs that match only part of the query, exactly the "lexically close
  // but wrong" examples a dense retriever trains against. Coverage is one
  // integer count per (query, doc) from the same tf semi-join shape as
  // scoring; ranking is ONE window partitioned by (query, side) — both
  // lists fall out of a single rank pass (the sim_hard_negatives
  // discipline applied to text retrieval). All-integer scores + counts →
  // exact oracle hash.
  val bm25Negatives: Q = Q(
    "text_bm25_negatives",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val terms = docs.select(col("doc_id"), explode_outer(toks).as("term"))
      val stats = docs.agg(count(lit(1)).as("n_corpus"))
        .crossJoin(terms.agg(count(lit(1)).as("tl_corpus")))
      val dfT = terms.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
      // tiny (8 rows) but its lineage is the full-corpus explode+agg, and
      // FOUR consumers broadcast it (labels, coverage, scoring, qWidth) —
      // the bm25Serve discipline
      val qterms = bm25QueryTerms(dfT).localCheckpoint(true)
      val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dl = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val coverage = tf
        .join(broadcast(qterms.select(col("query_id"), col("term"))), "term")
        .groupBy(col("query_id"), col("doc_id"))
        .agg(countDistinct(col("term")).as("n_terms_hit"))
      // every scored doc contains >= 1 query term, so the join is inner
      // with no coverage nulls possible; the positive bar is the query's
      // ACTUAL term count (bm25QueryTerms emits 2-term queries today, but
      // the bar must not silently misclassify if that ever changes)
      val qWidth = qterms.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_q_terms"))
      val sided = bm25Scored(tf, qterms, dl, stats)
        .join(coverage, Seq("query_id", "doc_id"))
        .join(broadcast(qWidth), "query_id")
        .withColumn("side",
          when(col("n_terms_hit") >= col("n_q_terms"), "positive")
            .otherwise("hard_negative"))
      val w = Window.partitionBy(col("query_id"), col("side"))
        .orderBy(col("score").desc, col("doc_id"))
      sided.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= Bm25K)
        .join(broadcast(bm25Labels(qterms)), "query_id")
        .select(col("query_id"), col("q_terms"), col("side"),
          col("rn").as("rank"), col("doc_id"), col("score"),
          col("n_terms_hit").cast(IntegerType).as("n_terms_hit"))
        .orderBy(col("query_id"), col("side"), col("rank"))
    },
    Some(s"""$bm25OracleCtes,
      |coverage AS (
      |  SELECT q.query_id, tf.doc_id, COUNT(DISTINCT tf.term) AS n_terms_hit
      |  FROM qterms q JOIN tf ON tf.term = q.term
      |  GROUP BY q.query_id, tf.doc_id),
      |qwidth AS (
      |  SELECT query_id, COUNT(*) AS n_q FROM qterms GROUP BY query_id),
      |sided AS (
      |  SELECT s.query_id, s.doc_id, s.score, c.n_terms_hit,
      |    CASE WHEN c.n_terms_hit >= w.n_q THEN 'positive'
      |         ELSE 'hard_negative' END AS side
      |  FROM scored s
      |  JOIN coverage c ON c.query_id = s.query_id AND c.doc_id = s.doc_id
      |  JOIN qwidth w ON w.query_id = s.query_id),
      |sranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, side
      |    ORDER BY score DESC, doc_id) AS rn
      |  FROM sided)
      |SELECT r.query_id, l.q_terms, r.side, CAST(r.rn AS INT) AS rank,
      |  r.doc_id, r.score, CAST(r.n_terms_hit AS INT) AS n_terms_hit
      |FROM sranked r JOIN qlabel l USING (query_id)
      |WHERE r.rn <= $Bm25K
      |ORDER BY r.query_id, r.side, r.rn""".stripMargin))

  // ------------------------------------------------------------------
  // Bad-words filtering — the C4 "dirty word" gate: a document is dropped
  // when ANY token is on the blocklist (C4's policy; the per-doc count and
  // fraction ride along so a consumer can soften to a ratio threshold —
  // the Dolma variant). The list here is a stand-in drawn from the corpus
  // vocabulary ("dup" marks ~5% of documents at every SF, so the verdict
  // demonstrably fires); the machinery (set membership per token, count,
  // verdict) is list-independent. Pure narrow map at scan speed; at 100 TB a real
  // (larger) blocklist broadcasts as a set into the same filter() lambda.
  private val badWords = Seq("dup")
  private val badWordsSql = badWords.map(w => s"'$w'").mkString(", ")

  val badwordsFilter: Q = q(
    "text_badwords_filter",
    s"""SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ($badWordsSql))) AS INT) AS n_flagged,
      |  len(list_filter(string_split(text, ' '), w -> w IN ($badWordsSql))) > 0 AS has_badword,
      |  len(list_filter(string_split(text, ' '), w -> w IN ($badWordsSql))) = 0 AS keep
      |FROM documents ORDER BY doc_id"""
  ) { docs =>
    val flagged = size(filter(toks, w => w.isin(badWords: _*)))
    docs.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      flagged.as("n_flagged"),
      (flagged > 0).as("has_badword"),
      (flagged === 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // Source reputation filtering — the RefinedWeb/C4 domain-level curation
  // move: instead of judging documents one at a time, aggregate a quality
  // signal per SOURCE (domain) and drop whole sources whose aggregate falls
  // below a bar, because a spammy domain's individual pages often pass
  // doc-level gates. The signal here is language-ID agreement (the recorded
  // lang matches the n-gram prediction — the strongest discriminating
  // doc-level signal on this corpus); the bar is 40% agreement, integer
  // cross-multiplied (match·100 >= 40·n) so the verdict is exact.
  //
  // 100 TB shape: ONE scan computes the per-doc boolean (the scored frame
  // is checkpointed — Spark shares no duplicate subplans, so its two
  // consumers would otherwise re-scan and re-evaluate the 3-list lang-ID
  // expression), one hash agg bounded by |sources| collapses it, and the
  // per-source verdict broadcasts back — the doc rows never shuffle.
  val sourceReputation: Q = Q(
    "text_source_reputation",
    (s, dir) => {
      val scored = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          (col("lang") === predictedLang).as("lang_match"))
        .localCheckpoint(true)
      val rep = scored.groupBy(col("source"))
        .agg(count(lit(1)).as("src_n"),
          sum(when(col("lang_match"), 1L).otherwise(0L)).as("src_match"))
        .select(col("source"), col("src_n"), col("src_match"),
          (col("src_match") * 100 < col("src_n") * 40).as("src_low_rep"))
      scored.join(broadcast(rep), "source")
        .select(col("doc_id"), col("source"), col("lang_match"),
          col("src_n"), col("src_match"), col("src_low_rep"),
          (col("lang_match") && !col("src_low_rep")).as("keep"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH scored AS (
      |  SELECT doc_id, source,
      |    lang = ($predictedLangSql) AS lang_match
      |  FROM documents),
      |rep AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS src_n,
      |    CAST(SUM(CASE WHEN lang_match THEN 1 ELSE 0 END) AS BIGINT) AS src_match
      |  FROM scored GROUP BY source)
      |SELECT s.doc_id, s.source, s.lang_match, r.src_n, r.src_match,
      |  r.src_match * 100 < r.src_n * 40 AS src_low_rep,
      |  s.lang_match AND NOT (r.src_match * 100 < r.src_n * 40) AS keep
      |FROM scored s JOIN rep r ON r.source = s.source
      |ORDER BY s.doc_id""".stripMargin))

  // ------------------------------------------------------------------
  // Curation funnel — the end-to-end report every pipeline run starts and
  // ends with: how many documents (and tokens) survive each cumulative
  // curation stage. Stages compose machinery this engine verifies
  // separately: (1) raw corpus, (2) language-ID agreement, (3) doc-level
  // quality gates, (4) exact dedup (keep the min-id member per identical
  // text AMONG prior survivors), (5) decontamination (drop any doc sharing
  // >= 20 distinct 3-gram shingles with the held-out test bucket — test-
  // bucket docs self-overlap and are dropped too, which is the correct
  // pipeline behavior for held-out data).
  //
  // 100 TB shape: stages 2-3 are narrow booleans on the scan; stage 4 is
  // one hash agg keyed by the text (xxhash64(text) at census scale); stage
  // 5 is the decontamination semi-join (test side is the small side); the
  // funnel itself is ONE pass of conditional sums — the per-stage counts
  // are products of indicator prefixes, so no stage re-scans the corpus.
  val curationFunnel: Q = Q(
    "text_curation_funnel",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val flags = d.select(col("doc_id"), col("text"),
        size(toks).cast(LongType).as("n_tok"),
        (col("lang") === predictedLang).as("p2"), qualityOk.as("p3"))
      // stage-4 representative: min doc_id per identical text among docs
      // that survived stages 2-3 (the window only ranks survivors)
      val wTxt = Window.partitionBy(col("text"), col("p2") && col("p3"))
        .orderBy(col("doc_id"))
      val withKeep = flags.withColumn("keep4",
        col("p2") && col("p3") && row_number().over(wTxt) === 1)
      // stage-5: overlap with the held-out test bucket's shingles. A
      // bucket-9 doc's every distinct shingle is in test_sh by definition,
      // so its overlap equals its distinct-shingle count — one per-doc
      // count over the bucket-9 slice instead of re-exploding the test
      // bucket through the join (and decontamShingledFrame stays the ONE
      // shingle definition)
      val testSh = decontamShingled(s, dir, md5Bucket === 9)
        .select(col("sh")).distinct()
      val trainDirty = decontamShingled(s, dir, md5Bucket =!= 9)
        .join(testSh, Seq("sh"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
        .filter(col("n_overlap") >= 20)
        .select(col("doc_id"), lit(true).as("dirty"))
      val selfDirty = decontamShingledFrame(d.filter(md5Bucket === 9))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
        .filter(col("n_sh") >= 20)
        .select(col("doc_id"), lit(true).as("dirty"))
      val staged = withKeep
        .join(trainDirty.unionAll(selfDirty), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"), col("p2"), col("p3"),
          col("keep4"), (col("keep4") && col("dirty").isNull).as("p5"))
      def cnt(p: Column) = sum(when(p, 1L).otherwise(0L))
      def tok(p: Column) = sum(when(p, col("n_tok")).otherwise(lit(0L)))
      staged.agg(
        count(lit(1)).as("n1"), sum(col("n_tok")).as("t1"),
        cnt(col("p2")).as("n2"), tok(col("p2")).as("t2"),
        cnt(col("p2") && col("p3")).as("n3"), tok(col("p2") && col("p3")).as("t3"),
        cnt(col("keep4")).as("n4"), tok(col("keep4")).as("t4"),
        cnt(col("p5")).as("n5"), tok(col("p5")).as("t5"))
        .select(expr(
          """stack(5,
            |  1, 'raw', n1, t1,
            |  2, 'lang_match', n2, t2,
            |  3, 'quality', n3, t3,
            |  4, 'exact_dedup', n4, t4,
            |  5, 'decontaminated', n5, t5
            |) AS (stage, stage_name, n_docs, n_tokens)""".stripMargin))
        .orderBy(col("stage"))
    },
    // the oracle keeps the single uniform dirty formulation (overlap of
    // EVERY doc vs test_sh) — semantically identical to the engine's
    // train-join ∪ bucket-9-self-count split, which is a plan optimization
    Some(s"""WITH flags AS (
      |  SELECT doc_id, text, CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
      |    lang = ($predictedLangSql) AS p2,
      |    $qualityOkSql AS p3
      |  FROM documents),
      |withkeep AS (
      |  SELECT doc_id, n_tok, p2, p3,
      |    p2 AND p3 AND ROW_NUMBER() OVER (
      |      PARTITION BY text, p2 AND p3 ORDER BY doc_id) = 1 AS keep4
      |  FROM flags),
      |b AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks, $md5BucketSql AS bucket
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, bucket, unnest(list_distinct(
      |    list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
      |      i -> array_to_string(toks[i:i+2], ' ')))) AS sh
      |  FROM b),
      |test_sh AS (SELECT DISTINCT sh FROM sh WHERE bucket = 9),
      |dirty AS (
      |  SELECT s.doc_id FROM sh s JOIN test_sh t ON s.sh = t.sh
      |  GROUP BY s.doc_id HAVING COUNT(*) >= 20),
      |staged AS (
      |  SELECT w.*, w.keep4 AND d.doc_id IS NULL AS p5
      |  FROM withkeep w LEFT JOIN dirty d ON d.doc_id = w.doc_id),
      |agg AS (
      |  SELECT COUNT(*) AS n1, SUM(n_tok) AS t1,
      |    SUM(CASE WHEN p2 THEN 1 ELSE 0 END) AS n2,
      |    SUM(CASE WHEN p2 THEN n_tok ELSE 0 END) AS t2,
      |    SUM(CASE WHEN p2 AND p3 THEN 1 ELSE 0 END) AS n3,
      |    SUM(CASE WHEN p2 AND p3 THEN n_tok ELSE 0 END) AS t3,
      |    SUM(CASE WHEN keep4 THEN 1 ELSE 0 END) AS n4,
      |    SUM(CASE WHEN keep4 THEN n_tok ELSE 0 END) AS t4,
      |    SUM(CASE WHEN p5 THEN 1 ELSE 0 END) AS n5,
      |    SUM(CASE WHEN p5 THEN n_tok ELSE 0 END) AS t5
      |  FROM staged)
      |SELECT CAST(1 AS INT) AS stage, 'raw' AS stage_name,
      |  CAST(n1 AS BIGINT) AS n_docs, CAST(t1 AS BIGINT) AS n_tokens FROM agg
      |UNION ALL SELECT CAST(2 AS INT), 'lang_match',
      |  CAST(n2 AS BIGINT), CAST(t2 AS BIGINT) FROM agg
      |UNION ALL SELECT CAST(3 AS INT), 'quality',
      |  CAST(n3 AS BIGINT), CAST(t3 AS BIGINT) FROM agg
      |UNION ALL SELECT CAST(4 AS INT), 'exact_dedup',
      |  CAST(n4 AS BIGINT), CAST(t4 AS BIGINT) FROM agg
      |UNION ALL SELECT CAST(5 AS INT), 'decontaminated',
      |  CAST(n5 AS BIGINT), CAST(t5 AS BIGINT) FROM agg
      |ORDER BY stage""".stripMargin))

  /** Shared drives for the bench's `drive:*` pseudo-entries (see
    * [[graft.cdc.CdcQueries.drives]]). */
  private[graft] val drives: Seq[(String, (SparkSession, String) => Unit)] =
    Seq(
      "drive:bm25_index" -> ((s, d) => { bm25IndexRoot(s, d); () }),
      "drive:bm25_stream_index" -> ((s, d) => { bm25StreamRoot(s, d); () }),
      "drive:text_bpe" -> ((s, d) => { bpeShared(s, d); () }))

  val all: Seq[Q] = Seq(tokens, quality, langId, fingerprint, tfidf, bigrams,
    hashVec, chunking, bigramLm, trainTestSplit, tokenPacking, shingleGenQ,
    stratifiedSplit, decontamination, decontaminationBloom, pipelineOnePass,
    mixtureBudget, repetition, rareBigram, piiScrub, urlBlocklist,
    urlCanonicalDedup,
    weightedSample, heavyHittersPinned, bpeMerges, bpeMergesBatched,
    bpeEncode, bpePacking,
    epochShuffle,
    dupSegmentScrub, vocabIds, tokenCooccurrence, ngramNovelty, dsirSample,
    sourceOverlap, bm25TopK, bm25Served, ccnetBuckets, decontaminationFuzzy,
    sourceReputation, curationFunnel, badwordsFilter, bm25Negatives,
    bm25StreamServed)
}
