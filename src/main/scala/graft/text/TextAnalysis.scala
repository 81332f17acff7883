package graft.text

import graft.functions.FloorLog2.floorLog2
import graft.model.{Silver, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for an LLM training-data pipeline over the
  * `documents` table: token counting, quality scoring, language ID,
  * document fingerprinting. All four are pure narrow/map-side transforms
  * (no shuffle except the fingerprint's broadcast dictionary join) — at
  * 100 TB they stream through the parquet scan at I/O speed inside one
  * WholeStageCodegen span.
  */
object TextAnalysis {

  /** t1: token statistics per document — whitespace tokens and a BPE-ish
    * regex token count (letter runs | digit runs | single punctuation, the
    * shape of a GPT-2-style pre-tokenizer), plus char length. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Corpus.docsTok(spark, dir).select(
      col("doc_id"),
      size(col("words")).cast("long").as("n_words"),
      regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]")).cast("long")
        .as("n_bpe_tokens"),
      length(col("text")).cast("long").as("n_chars_measured")
    ).orderBy("doc_id")

  val tokenStatsSql: String =
    s"""SELECT doc_id,
       |  CAST(len(${Corpus.wordsSqlExpr}) AS BIGINT) AS n_words,
       |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
       |  CAST(length(text) AS BIGINT) AS n_chars_measured
       |FROM documents ORDER BY doc_id""".stripMargin

  /** t2: heuristic quality score per document (Gopher-rules style: length
    * bounds, mean word length, stopword presence, alpha ratio). Ratios are
    * a single IEEE double division of exact integers (oracle parity, see
    * [[graft.model.Tables]]); the score itself is integer arithmetic. */
  /** The t2 quality rubric as a single Column over a `text` column —
    * shared by the batch projection below and the streaming corpus gate
    * ([[graft.streaming.StreamingCorpus.qualityGate]]): a stateless,
    * codegen'd per-row expression is streamable unchanged. Integer-exact
    * comparisons (×10 instead of float ratios) so batch, streaming, and
    * the DuckDB oracle agree bit-for-bit. */
  def qualityScoreCol: Column = qualityScoreColOf(Corpus.wordsCol)

  /** The same rubric over an already-bound words-array column (the
    * tokenize-once silver's `words` attribute) — the batch path, where
    * re-splitting `text` would waste the shared tokenization. */
  def qualityScoreColOf(ws: Column): Column = {
    val nWords = size(ws).cast("long")
    val nChars = length(col("text")).cast("long")
    val wordChars = nChars - (nWords - lit(1L))
    val nStop = size(filter(ws, w => w === "the" || w === "a")).cast("long")
    val nAlpha = (length(regexp_replace(col("text"), "[^a-zA-Z]", ""))).cast("long")
    when(nWords.between(20L, 90L), lit(25L)).otherwise(lit(0L)) +
      when(wordChars * lit(10L) > nWords * lit(30L) && wordChars * lit(10L) < nWords * lit(100L),
        lit(25L)).otherwise(lit(0L)) + // 3 < mean word len < 10, integer-exact
      when(nStop > lit(0L), lit(25L)).otherwise(lit(0L)) +
      when(nAlpha * lit(10L) >= nChars * lit(7L), lit(25L)).otherwise(lit(0L)) // >= 70% alpha
  }

  /** t6's normalization as a Column over `text` (lowercase, strip
    * non-alphanumerics, collapse whitespace, trim) — the content-identity
    * key for exact dedup (d1 at scale groups on xxhash64 of exactly this). */
  def normalizedCol: Column =
    trim(regexp_replace(regexp_replace(lower(col("text")),
      "[^a-z0-9 ]", ""), " +", " "))

  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val ws = col("words")
    val nWords = size(ws).cast("long")
    val nChars = length(col("text")).cast("long")
    // chars in words = total - separating spaces
    val wordChars = nChars - (nWords - lit(1L))
    val nStop = size(filter(ws, w => w === "the" || w === "a")).cast("long")
    val nAlpha = (length(regexp_replace(col("text"), "[^a-zA-Z]", ""))).cast("long")
    val meanWordLen = wordChars.cast("double") / nWords.cast("double")
    val stopRatio = nStop.cast("double") / nWords.cast("double")
    val alphaRatio = nAlpha.cast("double") / nChars.cast("double")
    val score = qualityScoreColOf(ws)
    Corpus.docsTok(spark, dir).select(
      col("doc_id"), nWords.as("n_words"),
      meanWordLen.as("mean_word_len"),
      stopRatio.as("stopword_ratio"),
      alphaRatio.as("alpha_ratio"),
      score.as("quality_score")
    ).orderBy("doc_id")
  }

  val qualityScoreSql: String = {
    val nw = s"CAST(len(${Corpus.wordsSqlExpr}) AS BIGINT)"
    val nc = "CAST(length(text) AS BIGINT)"
    val wc = s"($nc - ($nw - 1))"
    val nstop = s"CAST(len(list_filter(${Corpus.wordsSqlExpr}, w -> w = 'the' OR w = 'a')) AS BIGINT)"
    val nalpha = "CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)"
    s"""SELECT doc_id, $nw AS n_words,
       |  CAST($wc AS DOUBLE) / CAST($nw AS DOUBLE) AS mean_word_len,
       |  CAST($nstop AS DOUBLE) / CAST($nw AS DOUBLE) AS stopword_ratio,
       |  CAST($nalpha AS DOUBLE) / CAST($nc AS DOUBLE) AS alpha_ratio,
       |  (CASE WHEN $nw BETWEEN 20 AND 90 THEN 25 ELSE 0 END
       |   + CASE WHEN $wc * 10 > $nw * 30 AND $wc * 10 < $nw * 100 THEN 25 ELSE 0 END
       |   + CASE WHEN $nstop > 0 THEN 25 ELSE 0 END
       |   + CASE WHEN $nalpha * 10 >= $nc * 7 THEN 25 ELSE 0 END)::BIGINT AS quality_score
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** t3: n-gram-heuristic language ID — score each candidate language by
    * counts of its marker character-bigrams/stopwords, pick the argmax
    * (fixed tiebreak order en>fr>es>de>zh). The marker lists are the
    * classic textcat-style profile approach; on this synthetic corpus the
    * interesting part is the *shape* (pure map-side scoring, no shuffle),
    * and the deterministic rule is what the oracle checks. */
  private def cntPat(pat: String) = regexp_count(col("text"), lit(pat)).cast("long")
  private def scoreEn = cntPat("the ") * 3 + cntPat("th") + cntPat("he")
  private def scoreFr = cntPat("le ") * 3 + cntPat("ou") + cntPat("es")
  private def scoreEs = cntPat("el ") * 3 + cntPat("os") + cntPat("ar")
  private def scoreDe = cntPat("der ") * 3 + cntPat("ch") + cntPat("ei")
  private def scoreZh = cntPat("de ") * 3 + cntPat("sh") + cntPat("ng")

  /** t3's argmax rule as a Column over `text` — shared by [[langId]] and
    * the fused c1/c2 corpus compositions. */
  def langPredCol: Column =
    when(scoreEn >= scoreFr && scoreEn >= scoreEs && scoreEn >= scoreDe && scoreEn >= scoreZh, "en")
      .when(scoreFr >= scoreEs && scoreFr >= scoreDe && scoreFr >= scoreZh, "fr")
      .when(scoreEs >= scoreDe && scoreEs >= scoreZh, "es")
      .when(scoreDe >= scoreZh, "de")
      .otherwise("zh")

  def langId(spark: SparkSession, dir: String): DataFrame =
    Corpus.docsTok(spark, dir).select(
      col("doc_id"), col("lang").as("lang_labeled"), langPredCol.as("lang_pred"),
      scoreEn.as("score_en"), scoreZh.as("score_zh")
    ).orderBy("doc_id")

  val langIdSql: String = {
    def cnt(pat: String) = s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT)"
    val sEn = s"(${cnt("the ")} * 3 + ${cnt("th")} + ${cnt("he")})"
    val sFr = s"(${cnt("le ")} * 3 + ${cnt("ou")} + ${cnt("es")})"
    val sEs = s"(${cnt("el ")} * 3 + ${cnt("os")} + ${cnt("ar")})"
    val sDe = s"(${cnt("der ")} * 3 + ${cnt("ch")} + ${cnt("ei")})"
    val sZh = s"(${cnt("de ")} * 3 + ${cnt("sh")} + ${cnt("ng")})"
    s"""SELECT doc_id, lang AS lang_labeled,
       |  CASE WHEN $sEn >= $sFr AND $sEn >= $sEs AND $sEn >= $sDe AND $sEn >= $sZh THEN 'en'
       |       WHEN $sFr >= $sEs AND $sFr >= $sDe AND $sFr >= $sZh THEN 'fr'
       |       WHEN $sEs >= $sDe AND $sEs >= $sZh THEN 'es'
       |       WHEN $sDe >= $sZh THEN 'de'
       |       ELSE 'zh' END AS lang_pred,
       |  $sEn AS score_en, $sZh AS score_zh
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** t5: keyword extraction — top-3 terms per document ranked by term
    * frequency, ties broken by rarity (document frequency asc) then word.
    * The tf-idf ranking with INTEGER sort keys only: same ordering
    * semantics, none of the cross-engine float-log drift (log() differs
    * in the last ulp between libm implementations — Tables doc). */
  def keywords(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val tokens = Corpus.docsTok(spark, dir)
      .select(col("doc_id"), explode(col("words")).as("word"))
    val tf = tokens.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("word").asc)
    tf.join(broadcast(df), Seq("word"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("word"), col("tf"), col("df"))
      .orderBy(col("doc_id"), col("rank"))
  }

  def keywordsSql(k: Int = 3): String =
    s"""WITH tokens AS (
       |  SELECT doc_id, unnest(${Corpus.wordsSqlExpr}) AS word FROM documents),
       |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tokens GROUP BY 1, 2),
       |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
       |ranked AS (
       |  SELECT tf.doc_id, tf.word, tf.tf, df.df,
       |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
       |      ORDER BY tf.tf DESC, df.df ASC, tf.word ASC) AS rank
       |  FROM tf JOIN df USING (word))
       |SELECT doc_id, rank, word, tf, df
       |FROM ranked WHERE rank <= $k
       |ORDER BY doc_id, rank""".stripMargin

  /** t6: text normalization — the cleaning stage of a training pipeline:
    * lowercase, strip non-alphanumerics, collapse whitespace, trim.
    * Explicit character classes only (Java regex vs RE2 agree on them;
    * \\p{...} classes don't port). */
  def normalizeText(spark: SparkSession, dir: String): DataFrame =
    Corpus.docsTok(spark, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_before"),
      length(normalizedCol).cast("long").as("n_chars_after"),
      substring(normalizedCol, 1, 40).as("normalized_prefix")
    ).orderBy(col("doc_id"))

  val normalizeTextSql: String =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars_before,
      |  CAST(length(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS n_chars_after,
      |  substr(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), 1, 40) AS normalized_prefix
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** t4: document fingerprint — polynomial rolling hash over the ordered
    * word-id sequence, `h = fold(h*131 + wid mod P)`. Content-defined,
    * order-sensitive, collision-negligible at corpus scale; equal
    * fingerprints <=> equal token streams (used by exact dedup at scale
    * without comparing full text). Word ids come from the rank dictionary
    * (broadcast join; see [[Corpus]] for the 100 TB swap to xxhash64). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Corpus.docsTok(spark, dir)
      .select(col("doc_id"), posexplode(col("words")).as(Seq("pos", "word")))
      .join(broadcast(Corpus.wordDict(spark, dir)), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("wid")))),
        s => s.getField("wid")).as("wids"))
    d.select(
      col("doc_id"),
      aggregate(col("wids"), lit(0L),
        (acc, x) => (acc * lit(131L) + x) % lit(Corpus.P)).as("fingerprint"),
      size(col("wids")).cast("long").as("n_words")
    ).orderBy("doc_id")
  }

  val fingerprintSql: String =
    s"""WITH dict AS (${Corpus.wordDictSql}),
       |tok AS (
       |  SELECT doc_id, unnest(${Corpus.wordsSqlExpr}) AS word,
       |         generate_subscripts(${Corpus.wordsSqlExpr}, 1) AS pos
       |  FROM documents),
       |seqs AS (
       |  SELECT t.doc_id, list(d.wid ORDER BY t.pos) AS wids
       |  FROM tok t JOIN dict d USING (word) GROUP BY t.doc_id)
       |SELECT doc_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), wids),
       |              (acc, x) -> (acc * 131 + x) % ${Corpus.P}) AS fingerprint,
       |  CAST(len(wids) AS BIGINT) AS n_words
       |FROM seqs ORDER BY doc_id""".stripMargin

  /** t8: scale twin of t4 — the rolling-hash fingerprint over xxhash64
    * word ids (mod P) instead of rank-dictionary ids: no vocabulary, no
    * global sort, no dictionary join at all. The fold algebra is
    * identical, so the defining property survives: equal token streams ⇒
    * equal fingerprints (spec-asserted against d1's exact text groups).
    * Hash-gated since r13 via the oracle id silver: the xxhash64 id
    * sequences are materialized to parquet (the m12 discipline) and both
    * engines run the SAME rolling fold over the same bytes. */
  private def xxWordIds(spark: SparkSession, dir: String): DataFrame =
    graft.model.OracleSilver.materialize(spark, "xx_word_ids", dir) {
      Corpus.docsTok(spark, dir)
        .select(col("doc_id"),
          transform(col("words"),
            w => pmod(xxhash64(w), lit(Corpus.P))).as("wids"))
    }

  def fingerprintXxhash(spark: SparkSession, dir: String): DataFrame =
    xxWordIds(spark, dir).select(
      col("doc_id"),
      aggregate(col("wids"), lit(0L),
        (acc, x) => (acc * lit(131L) + x) % lit(Corpus.P)).as("fingerprint"),
      size(col("wids")).cast("long").as("n_words")
    ).orderBy("doc_id")

  def fingerprintXxhashSql(): String =
    s"""SELECT doc_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), wids),
       |              (acc, x) -> (acc * 131 + x) % ${Corpus.P}) AS fingerprint,
       |  CAST(len(wids) AS BIGINT) AS n_words
       |FROM read_parquet('${graft.model.OracleSilver.sqlGlob("xx_word_ids")}')
       |ORDER BY doc_id""".stripMargin

  /** t7: repetition metrics per document — the Gopher-style repetition
    * filters a quality pipeline applies after t2's length/stopword rules:
    * duplicate-word ratio (1 − distinct/total) and the fraction of word
    * 2-grams occupied by the single most frequent 2-gram. Boilerplate and
    * templated spam score high on both; natural prose stays low. Two
    * hash aggregations keyed by doc_id — explode → count, map-side
    * combined, no joins beyond the final doc-id merge.
    *
    * Short-doc semantics (identical in both engines): a document with
    * fewer than 2 tokens has NO bigrams — the bigram branch skips it
    * (guarding the descending `sequence(0, size-2)` that would otherwise
    * index element 0 and throw), the doc-id merge is a LEFT join, counts
    * zero-fill, and top_bigram_frac is null (0/0). */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionOf(Corpus.docsTok(spark, dir))

  /** [[repetition]] over an arbitrary (doc_id, text) relation — the
    * operator itself, separated so specs can drive edge-case corpora
    * (1-token and duplicate-day documents) not present in the testdata.
    * A relation that already carries the tokenized `words` column (the
    * docsTok silver) is used as-is; otherwise text is split here. */
  def repetitionOf(docsDf: DataFrame): DataFrame = {
    val wsCol = if (docsDf.columns.contains("words")) col("words") else Corpus.wordsCol
    val ws = docsDf.select(col("doc_id"), wsCol.as("ws"))
    val bigramsOf = transform(sequence(lit(0), size(col("ws")) - lit(2)),
      i => concat_ws(" ", element_at(col("ws"), i + lit(1)), element_at(col("ws"), i + lit(2))))
    val bg = ws.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(bigramsOf).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"), max(col("cnt")).as("top_bigram_count"))
    val words = ws.select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), countDistinct(col("w")).as("n_distinct_words"))
    words.join(bg, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_words"), col("n_distinct_words"),
        ((col("n_words") - col("n_distinct_words")).cast("double") /
          col("n_words").cast("double")).as("dup_word_frac"),
        coalesce(col("n_bigrams"), lit(0L)).cast("long").as("n_bigrams"),
        coalesce(col("top_bigram_count"), lit(0L)).cast("long").as("top_bigram_count"),
        when(col("n_bigrams") > 0,
          col("top_bigram_count").cast("double") /
            col("n_bigrams").cast("double")).as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  val repetitionSql: String = {
    val ws = Corpus.wordsSqlExpr
    s"""WITH bg AS (
       |  SELECT doc_id, unnest([$ws[i] || ' ' || $ws[i+1]
       |    for i in range(1, len($ws))]) AS bg
       |  FROM documents),
       |bgc AS (
       |  SELECT doc_id, bg, COUNT(*) AS cnt FROM bg GROUP BY doc_id, bg),
       |bga AS (
       |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       |    CAST(MAX(cnt) AS BIGINT) AS top_bigram_count
       |  FROM bgc GROUP BY doc_id),
       |w AS (
       |  SELECT doc_id, COUNT(*) AS n_words, COUNT(DISTINCT word) AS n_distinct_words
       |  FROM (SELECT doc_id, unnest($ws) AS word FROM documents)
       |  GROUP BY doc_id)
       |SELECT w.doc_id, w.n_words, w.n_distinct_words,
       |  CAST(w.n_words - w.n_distinct_words AS DOUBLE)
       |    / CAST(w.n_words AS DOUBLE) AS dup_word_frac,
       |  CAST(COALESCE(bga.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  CAST(COALESCE(bga.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
       |  CASE WHEN bga.n_bigrams > 0 THEN
       |    CAST(bga.top_bigram_count AS DOUBLE)
       |      / CAST(bga.n_bigrams AS DOUBLE) END AS top_bigram_frac
       |FROM w LEFT JOIN bga USING (doc_id)
       |ORDER BY w.doc_id""".stripMargin
  }

  /** t12: token-window CHUNKING — split each document into overlapping
    * windows of `window` tokens every `stride` tokens (window 64, stride
    * 48 → 16-token overlap), the unit both RAG indexing and
    * fixed-context pretraining consume (p8 packs whole docs; t12 is the
    * sub-document path for docs longer than the context). Pure per-row
    * explode — a Generator, no shuffle, no state: at 100 TB this runs at
    * scan speed and the output is written straight to the chunk lake.
    * Chunk starts come from an integer sequence (0, stride, 2·stride, …
    * < n_tokens), so every token is covered and the final short window
    * is kept — same clipping rule in both engines (Spark `slice` clips
    * at the end; the oracle LEASTs the end bound). */
  def chunk(spark: SparkSession, dir: String,
            window: Int = 64, stride: Int = 48): DataFrame = {
    val n = size(col("words"))
    Corpus.docsTok(spark, dir)
      .select(col("doc_id"), col("words"),
        explode(sequence(lit(0), n - 1, lit(stride))).as("start_tok"))
      .select(col("doc_id"),
        (col("start_tok") / stride).cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        slice(col("words"), col("start_tok") + 1, lit(window)).as("w"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("w")).cast("long").as("n_tokens_chunk"),
        concat_ws(" ", col("w")).as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  def chunkSql(window: Int = 64, stride: Int = 48): String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${Corpus.wordsSqlExpr} AS ws FROM documents),
       |starts AS (
       |  SELECT doc_id, ws, unnest(range(0, len(ws), $stride)) AS start_tok
       |  FROM toks)
       |SELECT doc_id,
       |  CAST(start_tok // $stride AS BIGINT) AS chunk_idx,
       |  CAST(start_tok AS BIGINT) AS start_tok,
       |  CAST(len(list_slice(ws, start_tok + 1, LEAST(start_tok + $window, len(ws)))) AS BIGINT)
       |    AS n_tokens_chunk,
       |  array_to_string(list_slice(ws, start_tok + 1, LEAST(start_tok + $window, len(ws))), ' ')
       |    AS chunk_text
       |FROM starts ORDER BY doc_id, chunk_idx""".stripMargin

  /** t11: token-length histogram — docs and token mass per power-of-2
    * length bucket, the dashboard behind curriculum bucketing (order
    * short→long) and packing-efficiency planning (how much of the corpus
    * is shorter than the context window → p8's padding waste). Bucket
    * edges are fixed integer thresholds (a CASE chain, not log2: float
    * log at a bucket boundary is an engine-divergence risk; integer
    * compares are exact in both engines). One map-side projection + an
    * 8-row hash aggregate — map-side-combinable at any corpus size. */
  private val LengthEdges = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L)

  def lengthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val n = size(col("words")).cast("long")
    // fold ascending: the LAST-folded (largest) edge becomes the OUTERMOST
    // test, so a 2000-token doc hits 1024, not the first small edge
    val bucket = LengthEdges.foldLeft(lit(0L)) { (acc, edge) =>
      when(n >= edge, lit(edge)).otherwise(acc)
    }
    val perDoc = Corpus.docsTok(spark, dir)
      .select(bucket.as("bucket_lo"), n.as("n_tokens"), col("n_chars"))
    val totals = perDoc.agg(sum("n_tokens").as("corpus_tokens"))
    perDoc.groupBy("bucket_lo")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens_total"),
        sum("n_chars").as("n_chars_total"))
      .crossJoin(broadcast(totals)) // 1-row corpus total, broadcast-config sized
      .withColumn("token_share",
        col("n_tokens_total").cast("double") / col("corpus_tokens").cast("double"))
      .drop("corpus_tokens")
      .orderBy("bucket_lo")
  }

  val lengthHistogramSql: String = {
    val n = s"len(${Corpus.wordsSqlExpr})"
    val bucket = LengthEdges.foldLeft("0") { (acc, edge) =>
      s"CASE WHEN $n >= $edge THEN $edge ELSE $acc END"
    }
    s"""WITH per_doc AS (
       |  SELECT CAST($bucket AS BIGINT) AS bucket_lo,
       |    CAST($n AS BIGINT) AS n_tokens, n_chars
       |  FROM documents),
       |totals AS (
       |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens FROM per_doc)
       |SELECT bucket_lo,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
       |  CAST(SUM(n_tokens) AS DOUBLE) / CAST(t.corpus_tokens AS DOUBLE) AS token_share
       |FROM per_doc CROSS JOIN totals t
       |GROUP BY bucket_lo, t.corpus_tokens
       |ORDER BY bucket_lo""".stripMargin
  }

  /** t13: unigram language-model SURPRISAL scoring — the "LM quality"
    * signal a CCNet-style pipeline ranks documents by: train a unigram LM
    * on the corpus, score each document by its mean per-token surprisal.
    * Documents full of common tokens score low (fluent/common text);
    * documents dominated by rare tokens score high (noise, code dumps,
    * OCR garbage) — the tails of the score are what a curation pass
    * inspects or drops.
    *
    * ENGINE-PORTABLE SURPRISAL: true surprisal is −log2 p(w) = log2
    * (total/count), but transcendental libm functions are NOT
    * bit-reproducible across engines (Java `Math.log` vs DuckDB's C
    * libm may differ in the last ulp, and a `floor` at a boundary then
    * diverges). Instead each word's surprisal is quantized to whole bits
    * in PURE INTEGER arithmetic: `bits(w) = floor(log2(total DIV count))`
    * = `length(binary-string(total DIV count)) − 1` — exact in both
    * engines (for integers x ≥ 1, floor(log2(floor(q))) = floor(log2 q)).
    * The per-doc mean is then ONE double division of two exact integers.
    *
    * Scale shape (100 TB): the vocabulary count is a map-side-combinable
    * hash aggregate; the fitted LM is CAPPED at the top-[[lmVocabCap]]
    * words by count before it is broadcast into the scoring join, so the
    * broadcast is cap-sized — NOT vocabulary-sized — no matter how large
    * the corpus grows; every token outside the kept set is charged the
    * max-bits OOV bucket (below); the per-doc aggregate is the only
    * corpus-sized exchange, keyed on doc_id. */
  /** Vocabulary caps for the fitted LMs: t13 keeps the top `lmVocabCap`
    * words by count (ties broken by word), t14 the top `lmBigramCap`
    * (prev, cur) pairs; everything outside the kept set is charged the
    * OOV bucket `floor(log2(corpus_tokens))` — the bits of a count-1
    * token: unseen evidence is maximal surprise. Probabilities stay
    * full-corpus (the cap prunes the broadcast table, not the counts),
    * so in-vocab scores are UNCHANGED by the cap and a cap ≥ the
    * vocabulary size reproduces the uncapped relation bit-for-bit.
    * Defaults are sized to exercise the OOV path on the test fixtures
    * (31-word vocab, ~916 bigrams); a production fit sets a few million. */
  val lmVocabCap = 24
  val lmBigramCap = 512

  /** The fit totals (cnt_total, oov_bits), computed as ONE 1-row
    * aggregate over the cached tokenize-once silver — sum of the word
    * array sizes, no explode — and collected (the v5/a20
    * broadcast-config pattern: a driver round-trip of one row). Both
    * values then enter the plans as LITERALS, so neither the fit nor
    * the scoring pass re-derives the corpus total. */
  private[graft] def lmTotals(spark: SparkSession, dir: String): (Long, Long) = {
    val total = Corpus.docsTok(spark, dir)
      .agg(sum(size(col("words")).cast("long"))).head.getLong(0)
    (total, 63L - java.lang.Long.numberOfLeadingZeros(total))
  }

  /** The fitted unigram LM: (word, bits), capped at `vocabCap` rows —
    * ONE definition of the fit algebra, shared by the batch score below
    * and the streaming gate's collect
    * ([[graft.streaming.StreamingCorpus.lmVocabBits]]), so batch/stream
    * parity is by construction, not by copy. The top-K select is a
    * TakeOrderedAndProject (per-partition top-K, K-bounded merge), not
    * a global sort. */
  private def lmBitsWith(spark: SparkSession, dir: String, vocabCap: Int,
                         cntTotal: Long): DataFrame = {
    val toks = Corpus.docsTok(spark, dir)
      .select(explode(col("words")).as("word"))
    val vocab = toks.groupBy("word").agg(count(lit(1)).as("cnt"))
    val kept = vocab.orderBy(col("cnt").desc, col("word").asc).limit(vocabCap)
    kept.select(col("word"),
      floorLog2(expr(s"${cntTotal}L DIV cnt")).as("bits"))
  }

  private[graft] def lmBits(spark: SparkSession, dir: String,
                            vocabCap: Int = lmVocabCap): DataFrame =
    lmBitsWith(spark, dir, vocabCap, lmTotals(spark, dir)._1)

  def lmSurprisal(spark: SparkSession, dir: String,
                  vocabCap: Int = lmVocabCap): DataFrame = {
    val (cntTotal, oovBits) = lmTotals(spark, dir)
    val toks = Corpus.docsTok(spark, dir)
      .select(col("doc_id"), explode(col("words")).as("word"))
    val lm = lmBitsWith(spark, dir, vocabCap, cntTotal)
    toks.join(broadcast(lm), Seq("word"), "left")
      .withColumn("tok_bits", coalesce(col("bits"), lit(oovBits)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("tok_bits")).as("sum_bits"))
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("sum_bits").cast("long").as("sum_bits"),
        (col("sum_bits").cast("double") / col("n_tokens").cast("double"))
          .as("bits_per_token"))
      .orderBy("doc_id")
  }

  val lmSurprisalSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${Corpus.wordsSqlExpr}) AS word FROM documents),
       |v AS (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt_total,
       |               CAST(length(format('{:b}', COUNT(*))) - 1 AS BIGINT) AS oov_bits
       |        FROM toks),
       |kept AS (SELECT word, cnt FROM v ORDER BY cnt DESC, word ASC LIMIT $lmVocabCap),
       |lm AS (
       |  SELECT word,
       |    CAST(length(format('{:b}', cnt_total // cnt)) - 1 AS BIGINT) AS bits
       |  FROM kept CROSS JOIN tot)
       |SELECT t.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(COALESCE(l.bits, tot.oov_bits)) AS BIGINT) AS sum_bits,
       |  CAST(SUM(COALESCE(l.bits, tot.oov_bits)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS bits_per_token
       |FROM toks t LEFT JOIN lm l USING (word) CROSS JOIN tot
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** t14: BIGRAM surprisal — the conditional upgrade of t13: each token
    * is charged bits for p(w_i | w_{i-1}) = c(w_{i-1} w_i) / c*(w_{i-1})
    * instead of its marginal probability (the CCNet-style LM filter's
    * actual shape; a doc of common words in an IMPROBABLE order — shuffled
    * text, word salad — scores high here while t13 cannot see it).
    * c*(prev) counts prev AS A BIGRAM PREFIX (= Σ_w c(prev, w)), so the
    * conditional is a true probability and the same portable integer
    * floor-log2 applies: bits = floor(log2(c*(prev) DIV c(prev, cur))).
    * The first token of a document has no predecessor and is skipped
    * (documents here are one line; a production pipeline charges BOS
    * from the unigram table). Single-token docs emit no row — the same
    * rule as the bigram branch of t7.
    *
    * Scale shape: the fitted bigram table is capped at the top-
    * [[lmBigramCap]] (prev, cur) pairs by count BEFORE broadcast —
    * bigram cardinality grows superlinearly with corpus size, so an
    * uncapped broadcast is a guaranteed OOM at 100 TB; pairs outside the
    * kept set are charged the max-bits OOV bucket from the 1-row totals.
    * Prefix totals c*(prev) stay FULL-corpus (true conditionals); the
    * corpus-side work is one explode + broadcast left join + doc_id
    * aggregate — t13's shape with a 2-token key. */
  def bigramSurprisal(spark: SparkSession, dir: String,
                      bigramCap: Int = lmBigramCap): DataFrame = {
    val bigramsOf = transform(sequence(lit(0), size(col("words")) - lit(2)),
      i => struct(element_at(col("words"), i + lit(1)).as("prev"),
        element_at(col("words"), i + lit(2)).as("cur")))
    val bg = Corpus.docsTok(spark, dir)
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), explode(bigramsOf).as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.cur").as("cur"))
    val counts = bg.groupBy("prev", "cur").agg(count(lit(1)).as("c_big"))
    val prevTotals = counts.groupBy("prev").agg(sum(col("c_big")).as("c_prev"))
    val kept = counts
      .orderBy(col("c_big").desc, col("prev").asc, col("cur").asc)
      .limit(bigramCap)
    val lm = kept.join(broadcast(prevTotals), Seq("prev"))
      .select(col("prev"), col("cur"),
        floorLog2(expr("c_prev DIV c_big")).as("bits"))
    // OOV charge from a 1-row aggregate over the cached silver (sum of
    // per-doc bigram counts, no explode), entering the plan as a literal
    val bgTotal = Corpus.docsTok(spark, dir)
      .filter(size(col("words")) >= 2)
      .agg(sum((size(col("words")) - lit(1)).cast("long"))).head.getLong(0)
    val oovBits = 63L - java.lang.Long.numberOfLeadingZeros(bgTotal)
    bg.join(broadcast(lm), Seq("prev", "cur"), "left")
      .withColumn("bg_bits", coalesce(col("bits"), lit(oovBits)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bg_bits")).as("sum_bits"))
      .select(col("doc_id"),
        col("n_bigrams").cast("long").as("n_bigrams"),
        col("sum_bits").cast("long").as("sum_bits"),
        (col("sum_bits").cast("double") / col("n_bigrams").cast("double"))
          .as("bits_per_bigram"))
      .orderBy("doc_id")
  }

  val bigramSurprisalSql: String = {
    val ws = Corpus.wordsSqlExpr
    s"""WITH bg AS (
       |  SELECT doc_id, unnest([{'prev': $ws[i], 'cur': $ws[i+1]}
       |    for i in range(1, len($ws))], recursive := true)
       |  FROM documents),
       |counts AS (
       |  SELECT prev, cur, COUNT(*) AS c_big FROM bg GROUP BY prev, cur),
       |prevtot AS (
       |  SELECT prev, CAST(SUM(c_big) AS BIGINT) AS c_prev
       |  FROM counts GROUP BY prev),
       |tot AS (
       |  SELECT CAST(length(format('{:b}', COUNT(*))) - 1 AS BIGINT) AS oov_bits
       |  FROM bg),
       |kept AS (
       |  SELECT prev, cur, c_big FROM counts
       |  ORDER BY c_big DESC, prev ASC, cur ASC LIMIT $lmBigramCap),
       |lm AS (
       |  SELECT k.prev, k.cur,
       |    CAST(length(format('{:b}', p.c_prev // k.c_big)) - 1 AS BIGINT) AS bits
       |  FROM kept k JOIN prevtot p USING (prev))
       |SELECT b.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(COALESCE(l.bits, tot.oov_bits)) AS BIGINT) AS sum_bits,
       |  CAST(SUM(COALESCE(l.bits, tot.oov_bits)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS bits_per_bigram
       |FROM bg b LEFT JOIN lm l USING (prev, cur) CROSS JOIN tot
       |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin
  }

  /** t17: the LANGUAGE-ID CONFUSION MATRIX — the d7/v6 eval-harness
    * pattern applied to t3: per (labeled, predicted) language pair, the
    * document count and the share of the label's documents it
    * represents (the per-label recall sits on the diagonal). This is
    * the quality gate before trusting a lang-id filter to route a
    * multilingual corpus — mispredicted languages silently skew the
    * source mix (m1) and the curriculum (p11). Two tiny hash
    * aggregates over the per-doc verdicts; output is |langs|² rows. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val verdicts = langId(spark, dir).select("lang_labeled", "lang_pred")
    val cells = verdicts.groupBy("lang_labeled", "lang_pred")
      .agg(count(lit(1)).as("n_docs"))
    val totals = verdicts.groupBy("lang_labeled")
      .agg(count(lit(1)).as("label_total"))
    cells.join(totals, Seq("lang_labeled"))
      .select(col("lang_labeled"), col("lang_pred"), col("n_docs"),
        col("label_total"),
        (col("n_docs").cast("double") / col("label_total").cast("double"))
          .as("label_share"))
      .orderBy("lang_labeled", "lang_pred")
  }

  val langConfusionSql: String =
    s"""WITH v AS (SELECT lang_labeled, lang_pred FROM ($langIdSql)),
       |cells AS (
       |  SELECT lang_labeled, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM v GROUP BY 1, 2),
       |totals AS (
       |  SELECT lang_labeled, CAST(COUNT(*) AS BIGINT) AS label_total
       |  FROM v GROUP BY 1)
       |SELECT c.lang_labeled, c.lang_pred, c.n_docs, t.label_total,
       |  CAST(c.n_docs AS DOUBLE) / CAST(t.label_total AS DOUBLE) AS label_share
       |FROM cells c JOIN totals t USING (lang_labeled)
       |ORDER BY c.lang_labeled, c.lang_pred""".stripMargin

  /** t15: BM25 lexical ranking in PURE INTEGER arithmetic — the scoring
    * upgrade of h1's candidate stage (h1 counts shared terms; BM25
    * weights them by rarity and saturating term frequency — the actual
    * first-stage ranker of a production retrieval stack).
    *
    * ENGINE-PORTABLE QUANTIZATION (the t13 discipline, extended):
    *  - idf: log2(n_docs/df) at milli precision WITHOUT libm — for
    *    q = (n_docs*1024) DIV df, take b = floor(log2 q) via
    *    binary-string length, then linearly interpolate the mantissa:
    *    idf_milli = (b-10)*1000 + (q - 2^b)*1000 DIV 2^b. (2^b is exact
    *    in double for b < 53, so pow+cast is exact in both engines.)
    *  - tf saturation: tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)) with
    *    k1 = 1.2, b = 0.75 becomes 22000*tf DIV (10*tf + 3 + rel_dl)
    *    where rel_dl = (9*dl*n_docs) DIV t_total — every operand an
    *    exact integer, so the score is a SUM of exact integers: no
    *    float-accumulation order dependence anywhere.
    *
    * Scale shape: h1's exactly — the df window rides the posting-list
    * join's word partitioning, terms above the df cap never enter the
    * index (the candidate bound), one (query, doc) aggregate, one
    * per-query top-k window. */
  /** t19: word-frequency SPECTRUM — the Good-Turing
    * frequency-of-frequencies table N_c (#distinct words occurring
    * exactly c times): the direct input to Good-Turing/Katz smoothing
    * and the standard Zipf-tail diagnostic (a natural corpus has
    * N_1 > N_2 > …; a template-heavy one collapses the head). Exact
    * buckets for c ≤ 8 where the smoothing estimates live, then
    * power-of-two buckets (2^⌊log2 c⌋ via the same binary-string-length
    * trick as t13 — no libm) so the output stays log-bounded however
    * large the corpus grows. One map-side-combinable vocabulary
    * aggregate + a spectrum-sized rollup; nothing broadcasts. */
  def freqSpectrum(spark: SparkSession, dir: String): DataFrame =
    Corpus.docsTok(spark, dir)
      .select(explode(col("words")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .withColumn("bucket",
        when(col("c") <= 8L, col("c"))
          .otherwise(call_function("shiftleft", lit(1L), floorLog2(col("c")).cast("int"))))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_words"), sum("c").as("mass"))
      .orderBy("bucket")

  val freqSpectrumSql: String =
    s"""WITH occ AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(${Corpus.wordsSqlExpr}) AS word FROM documents)
       |  GROUP BY word)
       |SELECT
       |  CASE WHEN c <= 8 THEN c
       |       ELSE CAST(1 AS BIGINT) << (length(format('{:b}', c)) - 1)
       |  END AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(c) AS BIGINT) AS mass
       |FROM occ GROUP BY 1 ORDER BY bucket""".stripMargin

  /** t16: LEXICAL DIVERSITY per (lang, source) domain — type-token ratio
    * and hapax share, the Heaps/Zipf-adjacent diagnostics that separate
    * natural text from boilerplate and template spam: TTR collapses when
    * a domain repeats itself, hapax share collapses when it is
    * template-generated — both are standard corpus-quality columns next
    * to t2's per-doc rubric. Milli-ratios by integer division, exact in
    * both engines.
    *
    * Scale shape: one word-level aggregate (map-side combinable — each
    * executor collapses its (lang, source, word) repeats before the
    * shuffle carries one row per distinct word) + one domain-sized
    * rollup riding the same partitioning prefix. Nothing driver-sized;
    * the vocabulary never broadcasts. */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    Corpus.docsTok(spark, dir)
      .select(col("lang"), col("source"), explode(col("words")).as("word"))
      .groupBy("lang", "source", "word")
      .agg(count(lit(1)).as("occ"))
      .groupBy("lang", "source")
      .agg(sum("occ").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("occ") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr_milli", expr("(n_types * 1000) div n_tokens"))
      .withColumn("hapax_milli", expr("(n_hapax * 1000) div n_types"))
      .orderBy("lang", "source")

  val lexicalDiversitySql: String =
    s"""WITH occ AS (
       |  SELECT lang, source, word, CAST(COUNT(*) AS BIGINT) AS occ
       |  FROM (SELECT lang, source, unnest(${Corpus.wordsSqlExpr}) AS word
       |        FROM documents)
       |  GROUP BY lang, source, word),
       |dom AS (
       |  SELECT lang, source,
       |    CAST(SUM(occ) AS BIGINT) AS n_tokens,
       |    CAST(COUNT(*) AS BIGINT) AS n_types,
       |    CAST(SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
       |  FROM occ GROUP BY lang, source)
       |SELECT lang, source, n_tokens, n_types, n_hapax,
       |  (n_types * 1000) // n_tokens AS ttr_milli,
       |  (n_hapax * 1000) // n_types AS hapax_milli
       |FROM dom ORDER BY lang, source""".stripMargin

  /** The df-capped, fully SCORED BM25 posting list (doc_id, word,
    * contrib) — t15's index half factored out so it can be PERSISTED
    * ([[graft.vector.IndexStore.writeLexical]]) and queried without
    * recomputation: contrib is query-independent (BM25's tf·idf per
    * posting), so write-once query-many is exact. */
  def bm25Index(spark: SparkSession, dir: String,
                maxDfPct: Int = 78): DataFrame =
    // memoized as the persisted-index silver the scaladoc promises
    // (IndexStore.writeLexical is the write-once path): t15/h2/h4's
    // query joins read the scored posting list as a leaf instead of
    // re-running the tf/df pipeline per call
    graft.model.Silver.memoize(spark, s"bm25Index:$maxDfPct", dir) {
      bm25IndexBuild(spark, dir, maxDfPct)
    }

  private def bm25IndexBuild(spark: SparkSession, dir: String,
                             maxDfPct: Int): DataFrame = {
    val toks = Corpus.docsTok(spark, dir)
    val totals = toks.agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("words")).cast("long")).as("t_total"))
    val tfs = toks
      .select(col("doc_id"), size(col("words")).cast("long").as("dl"),
        explode(col("words")).as("word"))
      .groupBy("doc_id", "dl", "word").agg(count(lit(1)).as("tf"))
    tfs
      .withColumn("df", count(lit(1)).over(Window.partitionBy("word")))
      .crossJoin(broadcast(totals))
      .filter(col("df") * lit(100L) <= lit(maxDfPct.toLong) * col("n_docs"))
      .withColumn("q", expr("(n_docs * 1024) DIV df"))
      .withColumn("b", floorLog2(col("q")))
      .withColumn("p", expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"))
      .withColumn("idf_milli",
        (col("b") - lit(10L)) * lit(1000L)
          + expr("(q - p) * 1000 DIV p"))
      .withColumn("rel_dl", expr("(9 * dl * n_docs) DIV t_total"))
      .withColumn("tf_milli", expr("(22000 * tf) DIV (10 * tf + 3 + rel_dl)"))
      .select(col("doc_id"), col("word"),
        (col("idf_milli") * col("tf_milli")).as("contrib"))
  }

  def bm25(spark: SparkSession, dir: String, nQueries: Int = 3,
           k: Int = 5, maxDfPct: Int = 78): DataFrame =
    bm25Query(bm25Index(spark, dir, maxDfPct), nQueries, k)

  /** t15's query half over a scored posting list (doc_id, word,
    * contrib), in memory ([[bm25Index]]) or persisted
    * ([[graft.vector.IndexStore.queryLexical]]): queries are the first
    * `nQueries` documents, their terms their own postings. */
  def bm25Query(index: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val qterms = index.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("word"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    qterms.join(index, "word")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("contrib")).as("score"), count(lit(1)).as("n_terms"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("score"), col("n_terms"))
      .orderBy("query_id", "rank")
  }

  /** t33: MULTINOMIAL NAIVE BAYES LANG CLASSIFIER — the trained
    * counterpart of t3's n-gram heuristic and the smallest member of
    * the fastText/CCNet class of learned corpus routers: train
    * per-(lang, word) counts on the EVEN doc_ids, classify the ODD
    * ones, read out the confusion matrix (t17's harness shape, now
    * over a trained model). On this synthetic corpus the lang label is
    * independent of the token stream, so the matrix sits near chance —
    * like a51's Benford deviations, that IS the readout working; the
    * oracle certifies the exact scoring pipeline, not model quality.
    *
    * Exactness: Laplace-smoothed surprisal in exact integer MILLI-BITS
    * (the t13/t15 discipline): per token, mlog2((tot_l + V)·1024 DIV
    * (cnt_{l,w} + 1)) via floor-log2 + linear mantissa; per class, the
    * prior surprisal mlog2(n_train·1024 DIV nd_l); argmin with lang-asc
    * tie-break. Integer everywhere — no libm, no float drift.
    *
    * Scale shape: the model is a (lang, word)-keyed count relation
    * (vocab·|langs| bounded, NOT corpus-bounded) joined to the test
    * token stream on (lang, word) — the standard NB scoring join,
    * linear in test tokens with a |langs| (5×) explode factor; class
    * totals and the vocab size arrive as a broadcast 5-row dim and a
    * 1-row scalar; the argmin is a per-doc window over 5 rows riding
    * the doc-keyed score agg. Confusion output is |langs|² rows. */
  def nbLangClassify(spark: SparkSession, dir: String): DataFrame = {
    // ONE tokenize+explode pass: the (doc, lang, word) tf grain is the
    // shared parent of the model, the class token totals, the vocab/doc
    // scalars AND the test side — un-materialized, Spark re-ran the
    // corpus explode once per consumer (4 full passes per call), because
    // identical non-exchange subtrees are never shared within a plan
    val tf = Silver.memoize(spark, "nbDocLangWordTf", dir) {
      Corpus.docsTok(spark, dir)
        .select(col("doc_id"), col("lang"), explode(col("words")).as("word"))
        .groupBy(col("doc_id"), col("lang"), col("word"))
        .agg(count(lit(1)).as("tf"))
    }
    val train = tf.filter(pmod(col("doc_id"), lit(2L)) === 0L)
    // model: per-(lang, word) occurrence counts — vocab-bounded
    val model = train.groupBy(col("lang"), col("word"))
      .agg(sum(col("tf")).as("cnt"))
    // class totals: tokens + docs per lang (5 rows), vocab + doc scalars
    val classTotals = train.groupBy(col("lang"))
      .agg(sum(col("tf")).as("tot_l"))
      .join(Corpus.docs(spark, dir)
        .filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .groupBy(col("lang")).agg(count(lit(1)).as("nd_l")), Seq("lang"))
    val scalars = train.agg(
      countDistinct(col("word")).as("v"),
      countDistinct(col("doc_id")).as("n_train"))
    // exact milli-bits of q/1024 (the t31 read-off: floor-log2 + linear
    // mantissa, integer DIV throughout — no libm, no doubles)
    def withBitsMilli(df: DataFrame, qExpr: String, out: String): DataFrame =
      df.withColumn("q", expr(qExpr))
        .withColumn("b", floorLog2(col("q")))
        .withColumn("p", expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"))
        .withColumn(out, expr("(b - 10) * 1000 + (q - p) * 1000 DIV p"))
        .drop("q", "b", "p")
    // test tokens with per-(doc, word) tf, exploded across the 5 classes
    val testTf = tf.filter(pmod(col("doc_id"), lit(2L)) === 1L)
      .select(col("doc_id"), col("lang").as("true_lang"), col("word"),
        col("tf"))
    val scoredTok = withBitsMilli(
      testTf
        .crossJoin(broadcast(classTotals.select(col("lang").as("c_lang"),
          col("tot_l"), col("nd_l"))))
        .join(model.select(col("lang").as("c_lang"), col("word"), col("cnt")),
          Seq("c_lang", "word"), "left")
        .crossJoin(broadcast(scalars)),
      "((tot_l + v) * 1024) DIV (COALESCE(cnt, 0) + 1)", "surp_milli")
    val priors = withBitsMilli(classTotals.crossJoin(scalars),
        "(n_train * 1024) DIV nd_l", "prior_milli")
      .select(col("lang").as("c_lang"), col("prior_milli"))
    val docScores = scoredTok
      .groupBy(col("doc_id"), col("true_lang"), col("c_lang"))
      .agg(sum(col("tf") * col("surp_milli")).cast("long").as("tok_milli"))
      .join(broadcast(priors), Seq("c_lang"))
      .withColumn("score_milli", col("tok_milli") + col("prior_milli"))
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_milli").asc, col("c_lang").asc)
    val pred = docScores.withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") === 1)
    pred.groupBy(col("true_lang"), col("c_lang").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("n_true",
        sum(col("n_docs")).over(Window.partitionBy(col("true_lang"))))
      .select(col("true_lang"), col("pred_lang"), col("n_docs"),
        expr("n_docs * 1000 DIV n_true").as("share_milli"),
        (col("true_lang") === col("pred_lang")).as("is_correct"))
      .orderBy(col("true_lang"), col("pred_lang"))
  }

  def nbLangClassifySql(): String = {
    def bits(q: String): String =
      s"""((length(format('{:b}', $q)) - 1 - 10) * 1000
         | + ($q - CAST(power(2, length(format('{:b}', $q)) - 1) AS BIGINT))
         |   * 1000 // CAST(power(2, length(format('{:b}', $q)) - 1) AS BIGINT))"""
        .stripMargin
    s"""WITH toks AS (
       |  SELECT doc_id, lang, unnest(${Corpus.wordsSqlExpr}) AS word
       |  FROM documents),
       |train AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
       |model AS (
       |  SELECT lang AS c_lang, word, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM train GROUP BY 1, 2),
       |class_totals AS (
       |  SELECT t.lang AS c_lang, t.tot_l, d.nd_l
       |  FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS tot_l
       |        FROM train GROUP BY lang) t
       |  JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nd_l
       |        FROM documents WHERE doc_id % 2 = 0 GROUP BY lang) d
       |    ON t.lang = d.lang),
       |scalars AS (
       |  SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v,
       |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_train
       |  FROM train),
       |test_tf AS (
       |  SELECT doc_id, lang AS true_lang, word, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM toks WHERE doc_id % 2 = 1 GROUP BY 1, 2, 3),
       |scored_tok AS (
       |  SELECT tt.doc_id, tt.true_lang, ct.c_lang, tt.tf,
       |    ${bits("(((ct.tot_l + s.v) * 1024) // (COALESCE(m.cnt, 0) + 1))")}
       |      AS surp_milli
       |  FROM test_tf tt
       |  CROSS JOIN class_totals ct
       |  CROSS JOIN scalars s
       |  LEFT JOIN model m ON m.c_lang = ct.c_lang AND m.word = tt.word),
       |priors AS (
       |  SELECT ct.c_lang,
       |    ${bits("((s.n_train * 1024) // ct.nd_l)")} AS prior_milli
       |  FROM class_totals ct CROSS JOIN scalars s),
       |doc_scores AS (
       |  SELECT st.doc_id, st.true_lang, st.c_lang,
       |    CAST(SUM(st.tf * st.surp_milli) AS BIGINT) + p.prior_milli
       |      AS score_milli
       |  FROM scored_tok st JOIN priors p ON p.c_lang = st.c_lang
       |  GROUP BY st.doc_id, st.true_lang, st.c_lang, p.prior_milli),
       |pred AS (
       |  SELECT doc_id, true_lang, c_lang AS pred_lang
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY score_milli ASC, c_lang ASC) AS rn
       |    FROM doc_scores)
       |  WHERE rn = 1),
       |conf AS (
       |  SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM pred GROUP BY 1, 2)
       |SELECT true_lang, pred_lang, n_docs,
       |  n_docs * 1000 // CAST(SUM(n_docs) OVER (PARTITION BY true_lang)
       |    AS BIGINT) AS share_milli,
       |  true_lang = pred_lang AS is_correct
       |FROM conf
       |ORDER BY true_lang, pred_lang""".stripMargin
  }

  /** t30: STOPWORD / DOCUMENT-FREQUENCY profile — the df-cap that h1,
    * t15 and h3 all rely on, made inspectable: the top-`topN` words by
    * document frequency with exact df/cf counts, df share in milli,
    * and the `is_capped` verdict under the shared `maxDfPct` rule —
    * the table a retrieval deployment reviews before trusting the
    * candidate-generation cut. One map-side-combinable word aggregate
    * capped by TakeOrdered; the vocabulary never sorts globally. */
  def stopwordProfile(spark: SparkSession, dir: String, topN: Int = 20,
                      maxDfPct: Int = 78): DataFrame = {
    val toks = Corpus.docsTok(spark, dir)
    val nDocs = toks.count()
    toks.select(col("doc_id"), explode(col("words")).as("word"))
      .groupBy(col("word"))
      .agg(countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("cf"))
      .orderBy(col("df").desc, col("word").asc)
      .limit(topN)
      .select(col("word"), col("df"), col("cf"),
        expr(s"df * 1000 DIV ${nDocs}L").as("df_milli"),
        (col("df") * lit(100L) > lit(maxDfPct.toLong) * lit(nDocs))
          .as("is_capped"))
      .orderBy(col("df").desc, col("word").asc)
  }

  def stopwordProfileSql(topN: Int = 20, maxDfPct: Int = 78): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${Corpus.wordsSqlExpr}) AS word
       |  FROM documents),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
       |v AS (
       |  SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
       |    CAST(COUNT(*) AS BIGINT) AS cf
       |  FROM toks GROUP BY word)
       |SELECT word, df, cf,
       |  df * 1000 // n_docs AS df_milli,
       |  df * 100 > $maxDfPct * n_docs AS is_capped
       |FROM v CROSS JOIN tot
       |ORDER BY df DESC, word ASC LIMIT $topN""".stripMargin

  /** h3: QUERY-LIKELIHOOD retrieval — the third classical ranking
    * family next to t15's BM25 and the vector stack: score each
    * candidate by the surprisal of the query under the DOCUMENT'S
    * Dirichlet-smoothed language model, p(t|d) = (tf + μ·p(t|C)) /
    * (dl + μ) (Zhai–Lafferty). Entirely in integer milli-bits:
    * p(t|C) is pre-scaled to a per-term integer `cfp` = cf·2²⁰ DIV T
    * (floored to ≥1 so unseen-term charges stay finite), and each
    * term's charge is t15's milli-log2 (binary-length + linear
    * mantissa) of ((dl+μ)·2²⁰·1024) DIV (tf·2²⁰ + μ·cfp) — every
    * product ≤ ~2⁴⁴ REGARDLESS of corpus size because T only enters
    * through the pre-normalized cfp (the direct tf·T form would
    * overflow at 100 TB). Lower total charge = more likely query.
    * Candidates come from the df-capped posting join (h1's rule);
    * each candidate is charged over ALL the query's kept terms —
    * absent terms pay the smoothing floor, so short docs don't win
    * by omission. Shape: posting join proposes, a (candidates ×
    * query-terms) broadcast join scores, one (query, doc) aggregate
    * + top-k window. */
  def queryLikelihood(spark: SparkSession, dir: String, nQueries: Int = 3,
                      k: Int = 5, mu: Int = 300,
                      maxDfPct: Int = 78): DataFrame = {
    val toks = Corpus.docsTok(spark, dir)
    val totals = toks.agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("words")).cast("long")).as("t_total"))
    val tfs = toks
      .select(col("doc_id"), size(col("words")).cast("long").as("dl"),
        explode(col("words")).as("word"))
      .groupBy("doc_id", "dl", "word").agg(count(lit(1)).as("tf"))
    val byWord = Window.partitionBy("word")
    // a silver: the df-capped stats relation feeds the query terms, the
    // posting-join candidates AND the scoring left join — as a plain
    // plan, the corpus explode + the word-window sort ran
    // once per consumer (3 full passes per call)
    val stats = Silver.memoize(spark, s"qlTermStats:$maxDfPct", dir) {
      tfs.withColumn("df", count(lit(1)).over(byWord))
        .withColumn("cf", sum(col("tf")).over(byWord))
        .crossJoin(broadcast(totals))
        .filter(col("df") * lit(100L) <= lit(maxDfPct.toLong) * col("n_docs"))
        .withColumn("cfp",
          greatest(expr("(cf * 1048576) DIV t_total"), lit(1L)))
    }
    val qterms = stats.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("word"),
        col("cfp").as("q_cfp")).distinct()
    val cands = qterms.join(
        stats.select(col("word"), col("doc_id"), col("dl")), "word")
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"), col("dl")).distinct()
    val pairs = cands.join(broadcast(qterms), "query_id")
      .join(stats.select(col("doc_id"), col("word"),
        col("tf").as("d_tf")), Seq("doc_id", "word"), "left")
      .withColumn("tf0", coalesce(col("d_tf"), lit(0L)))
      .withColumn("qr",
        expr(s"((dl + $mu) * 1048576 * 1024) DIV (tf0 * 1048576 + $mu * q_cfp)"))
      .withColumn("b", floorLog2(col("qr")))
      .withColumn("p", expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"))
      .withColumn("charge_milli",
        (col("b") - lit(10L)) * lit(1000L) + expr("(qr - p) * 1000 DIV p"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_milli").asc, col("doc_id").asc)
    pairs.groupBy("query_id", "doc_id")
      .agg(sum(col("charge_milli")).cast("long").as("score_milli"),
        sum(when(col("tf0") > 0, 1L).otherwise(0L)).cast("long").as("n_hits"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_milli"), col("n_hits"))
      .orderBy("query_id", "rank")
  }

  def queryLikelihoodSql(nQueries: Int = 3, k: Int = 5, mu: Int = 300,
                         maxDfPct: Int = 78): String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${Corpus.wordsSqlExpr} AS ws FROM documents),
       |tot AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(len(ws)) AS BIGINT) AS t_total
       |  FROM toks),
       |tfs AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, word,
       |    CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, ws, unnest(ws) AS word FROM toks)
       |  GROUP BY doc_id, len(ws), word),
       |stats AS (
       |  SELECT doc_id, dl, word, tf,
       |    GREATEST((cf * 1048576) // t_total, 1) AS cfp
       |  FROM (SELECT *,
       |          COUNT(*) OVER (PARTITION BY word) AS df,
       |          CAST(SUM(tf) OVER (PARTITION BY word) AS BIGINT) AS cf
       |        FROM tfs) CROSS JOIN tot
       |  WHERE df * 100 <= $maxDfPct * n_docs),
       |qterms AS (
       |  SELECT DISTINCT doc_id AS query_id, word, cfp AS q_cfp
       |  FROM stats WHERE doc_id < $nQueries),
       |cands AS (
       |  SELECT DISTINCT q.query_id, s.doc_id, s.dl
       |  FROM qterms q JOIN stats s USING (word)
       |  WHERE s.doc_id <> q.query_id),
       |pairs AS (
       |  SELECT c.query_id, c.doc_id,
       |    COALESCE(s.tf, 0) AS tf0, c.dl, q.q_cfp
       |  FROM cands c
       |  JOIN qterms q ON q.query_id = c.query_id
       |  LEFT JOIN stats s ON s.doc_id = c.doc_id AND s.word = q.word),
       |charged AS (
       |  SELECT query_id, doc_id, tf0,
       |    (b - 10) * 1000 + (qr - p) * 1000 // p AS charge_milli
       |  FROM (
       |    SELECT *, length(format('{:b}', qr)) - 1 AS b,
       |      CAST(power(2, length(format('{:b}', qr)) - 1) AS BIGINT) AS p
       |    FROM (
       |      SELECT query_id, doc_id, tf0,
       |        ((dl + $mu) * 1048576 * 1024)
       |          // (tf0 * 1048576 + $mu * q_cfp) AS qr
       |      FROM pairs))),
       |scored AS (
       |  SELECT query_id, doc_id,
       |    CAST(SUM(charge_milli) AS BIGINT) AS score_milli,
       |    CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       |  FROM charged GROUP BY 1, 2)
       |SELECT query_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY score_milli ASC, doc_id ASC) AS BIGINT) AS rank,
       |  doc_id, score_milli, n_hits
       |FROM scored
       |QUALIFY rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  def bm25Sql(nQueries: Int = 3, k: Int = 5, maxDfPct: Int = 78): String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${Corpus.wordsSqlExpr} AS ws FROM documents),
       |tot AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(len(ws)) AS BIGINT) AS t_total
       |  FROM toks),
       |tfs AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, word,
       |    CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, ws, unnest(ws) AS word FROM toks)
       |  GROUP BY doc_id, len(ws), word),
       |idx AS (
       |  SELECT doc_id, word, idf_milli * tf_milli AS contrib FROM (
       |    SELECT doc_id, word,
       |      (b - 10) * 1000 + (q - p) * 1000 // p AS idf_milli,
       |      (22000 * tf) // (10 * tf + 3 + rel_dl) AS tf_milli
       |    FROM (
       |      SELECT doc_id, word, tf,
       |        length(format('{:b}', q)) - 1 AS b,
       |        CAST(power(2, length(format('{:b}', q)) - 1) AS BIGINT) AS p,
       |        q, rel_dl
       |      FROM (
       |        SELECT doc_id, word, tf,
       |          (n_docs * 1024) // df AS q,
       |          (9 * dl * n_docs) // t_total AS rel_dl
       |        FROM (SELECT *, COUNT(*) OVER (PARTITION BY word) AS df
       |              FROM tfs) CROSS JOIN tot
       |        WHERE df * 100 <= $maxDfPct * n_docs)))),
       |scored AS (
       |  SELECT qt.doc_id AS query_id, i.doc_id,
       |    CAST(SUM(i.contrib) AS BIGINT) AS score,
       |    CAST(COUNT(*) AS BIGINT) AS n_terms
       |  FROM (SELECT doc_id, word FROM idx WHERE doc_id < $nQueries) qt
       |  JOIN idx i USING (word)
       |  WHERE i.doc_id <> qt.doc_id
       |  GROUP BY 1, 2)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score, n_terms
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY score DESC, doc_id ASC) AS rank
       |      FROM scored)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** t22: SPELL-CORRECTION / fuzzy entity resolution via the SymSpell
    * DELETION-NEIGHBORHOOD join — the scalable form of edit-distance
    * matching: both sides expand to their 1-deletion keys map-side
    * (word length + 1 keys per string), candidates are pairs sharing a
    * key (covers every insert/delete/substitute at distance ≤ 1, plus
    * some distance-2 noise), and the built-in `levenshtein` (codegen'd
    * in Spark, native in DuckDB — identical unit-cost semantics)
    * verifies exactly. NEVER an all-pairs scan, never a UDF: candidate
    * counts are bounded by key-bucket sizes, the fuzzy-join analogue
    * of d4's inverted index. The dirty side is a deterministic
    * synthetic-typo column (docs with doc_id ≡ 0 mod 3 drop one
    * character of their first word at a doc_id-derived position), so
    * both engines derive identical inputs; correction picks the
    * (distance ASC, count DESC, word ASC) best vocabulary word. */
  def spellCorrect(spark: SparkSession, dir: String): DataFrame = {
    def deletions(c: Column): Column =
      array_distinct(transform(sequence(lit(0), length(c)), i =>
        when(i === 0, c).otherwise(
          concat(c.substr(lit(1), i - 1), c.substr(i + 1, lit(1000000))))))
    val w1 = element_at(col("words"), 1)
    val pos = (col("doc_id") % length(w1)) + 1
    val dirty = when(col("doc_id") % 3 === 0 && length(w1) > 2,
      concat(w1.substr(lit(1), pos - 1), w1.substr(pos + 1, lit(1000000))))
      .otherwise(w1)
    val entities = Corpus.docsTok(spark, dir)
      .select(col("doc_id"), dirty.as("entity"))
    val vocab = Corpus.docsTok(spark, dir)
      .select(explode(col("words")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    val eKeys = entities.select(col("entity")).distinct()
      .select(col("entity"), explode(deletions(col("entity"))).as("k"))
    val vKeys = vocab
      .select(col("word"), col("n"), explode(deletions(col("word"))).as("k"))
    val cands = eKeys.join(vKeys, Seq("k"))
      .select(col("entity"), col("word"), col("n")).distinct()
      // bounded form: banded O(len·1) DP, -1 above the threshold, so
      // `>= 0` is the old `<= 1` filter with identical surviving
      // distances (guide §1.2 step 2)
      .withColumn("distance", levenshtein(col("entity"), col("word"), 1))
      .filter(col("distance") >= 0)
    val byEntity = Window.partitionBy(col("entity"))
      .orderBy(col("distance").asc, col("n").desc, col("word").asc)
    val best = cands.withColumn("rn", row_number().over(byEntity))
      .filter(col("rn") === 1)
      .select(col("entity"), col("word").as("corrected"),
        col("distance"), col("n").as("corrected_count"))
    entities.join(best, Seq("entity"), "left")
      .select(col("doc_id"), col("entity"),
        coalesce(col("corrected"), col("entity")).as("corrected"),
        coalesce(col("distance").cast("long"), lit(-1L)).as("distance"),
        col("corrected").isNotNull.as("matched"))
      .orderBy("doc_id")
  }

  val spellCorrectSql: String = {
    def delSql(c: String) =
      s"list_distinct(list_prepend($c, [substr($c, 1, i-1) || " +
        s"substr($c, i+1, 1000000) for i in range(1, len($c)+1)]))"
    s"""WITH docs1 AS (
       |  SELECT doc_id, ${Corpus.wordsSqlExpr}[1] AS w1 FROM documents),
       |ents AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 AND len(w1) > 2 THEN
       |      substr(w1, 1, CAST(doc_id % len(w1) AS INTEGER))
       |        || substr(w1, CAST(doc_id % len(w1) AS INTEGER) + 2, 1000000)
       |    ELSE w1 END AS entity
       |  FROM docs1),
       |vocab AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(${Corpus.wordsSqlExpr}) AS word FROM documents)
       |  GROUP BY 1),
       |ekeys AS (
       |  SELECT DISTINCT entity, unnest(${delSql("entity")}) AS k
       |  FROM (SELECT DISTINCT entity FROM ents)),
       |vkeys AS (
       |  SELECT word, n, unnest(${delSql("word")}) AS k FROM vocab),
       |cands AS (
       |  SELECT entity, word, n, levenshtein(entity, word) AS distance
       |  FROM (SELECT DISTINCT e.entity, v.word, v.n
       |        FROM ekeys e JOIN vkeys v ON e.k = v.k)
       |  WHERE levenshtein(entity, word) <= 1),
       |best AS (
       |  SELECT entity, word AS corrected, distance, n AS corrected_count
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY entity
       |          ORDER BY distance ASC, n DESC, word ASC) AS rn
       |        FROM cands) WHERE rn = 1)
       |SELECT e.doc_id, e.entity,
       |  COALESCE(b.corrected, e.entity) AS corrected,
       |  CAST(COALESCE(b.distance, -1) AS BIGINT) AS distance,
       |  b.corrected IS NOT NULL AS matched
       |FROM ents e LEFT JOIN best b USING (entity)
       |ORDER BY e.doc_id""".stripMargin
  }

  /** t18: charset / script profile — per-document character-class census
    * (letters, upper, digits, whitespace, ASCII-printable punctuation,
    * non-ASCII) plus the ascii_ratio every corpus filter thresholds on.
    * This is the script-detection primitive next to t3's lang-id: a
    * Latin-script doc claiming lang=zh (or a binary-garbage doc with
    * ascii_ratio ≪ 1) is caught here before tokenization.
    *
    * Every count is a length-difference over a regexp_replace with an
    * explicit character class — classes are spelled with literal ranges
    * (`[^A-Za-z]`, `[^ -~\t\n\r]`) that parse identically under Java
    * regex and RE2, never shorthand like \p{Alpha} or \s whose
    * definitions drift between engines. Pure narrow map at scan speed:
    * zero exchanges (plan-gated), codegen keeps the whole row pipeline
    * in one stage. At 100 TB this runs at parquet-read throughput. */
  def charsetProfile(spark: SparkSession, dir: String): DataFrame = {
    def kept(cls: String) =
      length(regexp_replace(col("text"), cls, "")).cast("long")
    val nChars = length(col("text")).cast("long")
    val nLetter = kept("[^A-Za-z]")
    val nUpper = kept("[^A-Z]")
    val nDigit = kept("[^0-9]")
    val nSpace = kept("[^ \t\n\r]")
    val nAscii = kept("[^ -~\t\n\r]")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      nChars.as("n_chars"),
      nLetter.as("n_letter"),
      nUpper.as("n_upper"),
      nDigit.as("n_digit"),
      nSpace.as("n_space"),
      (nAscii - nLetter - nDigit - nSpace).as("n_punct"),
      (nChars - nAscii).as("n_non_ascii"),
      (nAscii.cast("double") / nChars.cast("double")).as("ascii_ratio"))
      .orderBy("doc_id")
  }

  val charsetProfileSql: String = {
    def kept(cls: String) =
      s"CAST(length(regexp_replace(text, '$cls', '', 'g')) AS BIGINT)"
    val nc = "CAST(length(text) AS BIGINT)"
    val nl = kept("[^A-Za-z]")
    val nu = kept("[^A-Z]")
    val nd = kept("[^0-9]")
    val ns = kept("[^ \\t\\n\\r]")
    val na = kept("[^ -~\\t\\n\\r]")
    s"""SELECT doc_id,
       |  $nc AS n_chars,
       |  $nl AS n_letter,
       |  $nu AS n_upper,
       |  $nd AS n_digit,
       |  $ns AS n_space,
       |  $na - $nl - $nd - $ns AS n_punct,
       |  $nc - $na AS n_non_ascii,
       |  CAST($na AS DOUBLE) / CAST($nc AS DOUBLE) AS ascii_ratio
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** t31: CHARACTER-ENTROPY quality signal — the Shannon entropy of
    * each document's character distribution in ENGINE-EXACT integer
    * milli-bits: H = Σ (c/n)·log2(n/c) over the per-doc char
    * histogram, each log2 the t15 milli-log2 (binary-string length +
    * linear mantissa of q = n·1024 DIV c — floor-log2 commutes with
    * the integer floor), the division order fixed (sum the exact
    * integer mass, divide once). Low char entropy is the
    * compression-ratio quality heuristic (CCNet/Gopher lineage):
    * keyboard mash, repeated-char padding and template boilerplate
    * score < ~3 bits/char where natural English sits near 4.1 — a
    * per-doc filter signal t2's word-level rubric can't see (a doc of
    * one repeated WORD has normal word lengths). Shape: per-char
    * explode into ONE map-side-combinable (doc, char) aggregate +
    * one doc rollup — alphabet-bounded output, scan-speed input. */
  def charEntropy(spark: SparkSession, dir: String,
                  lowMilli: Long = 3000L): DataFrame = {
    val hist = Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n"),
        explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("n"), col("ch"))
      .agg(count(lit(1)).as("c"))
      .withColumn("q", expr("(n * 1024) DIV c"))
      .withColumn("b", floorLog2(col("q")))
      .withColumn("p", expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"))
      .withColumn("bits_milli",
        (col("b") - lit(10L)) * lit(1000L) + expr("(q - p) * 1000 DIV p"))
    hist.groupBy(col("doc_id"), col("n"))
      .agg(count(lit(1)).as("n_distinct_chars"),
        sum(col("c") * col("bits_milli")).cast("long").as("mass"))
      .select(col("doc_id"), col("n").as("n_chars"),
        col("n_distinct_chars"),
        expr("mass DIV n").as("entropy_milli"),
        (expr("mass DIV n") < lit(lowMilli)).as("is_low_entropy"))
      .orderBy(col("doc_id"))
  }

  def charEntropySql(lowMilli: Long = 3000L): String =
    s"""WITH hist AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n, ch,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, text,
       |          unnest(string_split(text, '')) AS ch FROM documents)
       |  GROUP BY 1, 2, 3),
       |charged AS (
       |  SELECT doc_id, n, c,
       |    (b - 10) * 1000 + (q - p) * 1000 // p AS bits_milli
       |  FROM (SELECT *, length(format('{:b}', q)) - 1 AS b,
       |          CAST(power(2, length(format('{:b}', q)) - 1) AS BIGINT)
       |            AS p
       |        FROM (SELECT doc_id, n, c, (n * 1024) // c AS q
       |              FROM hist)))
       |SELECT doc_id, n AS n_chars,
       |  CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
       |  CAST(SUM(c * bits_milli) AS BIGINT) // n AS entropy_milli,
       |  (CAST(SUM(c * bits_milli) AS BIGINT) // n) < $lowMilli
       |    AS is_low_entropy
       |FROM charged GROUP BY doc_id, n ORDER BY doc_id""".stripMargin

  /** t32: FLESCH READING-EASE profile per (source, lang) — the
    * classic readability screen (Flesch 1948; the long-form filter in
    * C4/Gopher-class curation next to t2's rubric and t31's entropy):
    * score = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/word),
    * here in exact MILLI units, all three counts integers:
    * words = the house whitespace tokens; sentences = runs of [.!?]
    * (clamped to ≥1 — this corpus carries no terminal punctuation, so
    * the sentence term degenerates to W per sentence, documented and
    * identical in both engines); syllables = vowel-group runs
    * [aeiouy]+ of the lowercased text (the standard heuristic — exact
    * syllabification needs a lexicon; vowel runs are deterministic and
    * language-blind).
    *
    * Exactness: score_milli = 206835 − (1015·W) DIV S − (84600·Y)
    * DIV W with every operand positive (truncate = floor there); the
    * group mean divides a possibly-NEGATIVE score sum, where BOTH
    * engines truncate toward zero (Spark `DIV` by definition; DuckDB
    * `//` verified empirically: −7 // 2 = −3) — the Flatten.scala:687
    * bug class, checked rather than assumed.
    *
    * Scale shape: a per-doc map over the tokenize-once silver plus
    * regexp counts on the raw text, then ONE (source, lang)-keyed
    * hash aggregate with map-side partials — group-bounded output,
    * scan-speed input, no joins. */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Corpus.docsTok(spark, dir)
      .select(col("source"), col("lang"),
        greatest(size(col("words")).cast("long"), lit(1L)).as("w"),
        greatest(regexp_count(col("text"), lit("[.!?]+")).cast("long"),
          lit(1L)).as("s"),
        greatest(regexp_count(lower(col("text")), lit("[aeiouy]+"))
          .cast("long"), lit(1L)).as("y"))
      .withColumn("score_milli",
        lit(206835L) - expr("(1015 * w) DIV s") - expr("(84600 * y) DIV w"))
    perDoc.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("score_milli")).cast("long").as("sum_s"),
        min(col("score_milli")).as("min_score_milli"),
        max(col("score_milli")).as("max_score_milli"),
        sum(col("y")).cast("long").as("sum_y"),
        sum(col("w")).cast("long").as("sum_w"))
      .select(col("source"), col("lang"), col("n_docs"),
        expr("sum_s DIV n_docs").as("mean_score_milli"),
        col("min_score_milli"), col("max_score_milli"),
        expr("sum_y * 1000 DIV sum_w").as("syll_per_word_milli"))
      .orderBy(col("source"), col("lang"))
  }

  def readabilitySql(): String =
    s"""WITH per_doc AS (
       |  SELECT source, lang,
       |    GREATEST(CAST(len(${Corpus.wordsSqlExpr}) AS BIGINT), 1) AS w,
       |    GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+'))
       |      AS BIGINT), 1) AS s,
       |    GREATEST(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
       |      AS BIGINT), 1) AS y
       |  FROM documents),
       |scored AS (
       |  SELECT source, lang, w, s, y,
       |    206835 - (1015 * w) // s - (84600 * y) // w AS score_milli
       |  FROM per_doc)
       |SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(score_milli) AS BIGINT) // COUNT(*) AS mean_score_milli,
       |  CAST(MIN(score_milli) AS BIGINT) AS min_score_milli,
       |  CAST(MAX(score_milli) AS BIGINT) AS max_score_milli,
       |  CAST(SUM(y) AS BIGINT) * 1000 // CAST(SUM(w) AS BIGINT)
       |    AS syll_per_word_milli
       |FROM scored
       |GROUP BY source, lang
       |ORDER BY source, lang""".stripMargin

  /** t23: SHINGLE-NOVELTY CURVE — per document in doc_id (ingest) order,
    * how many of its distinct 3-shingles appear for the FIRST time in the
    * corpus: the saturation diagnostic a data team tracks as a corpus
    * grows — when marginal novelty flattens toward the duplication floor,
    * more data from the same sources buys little (the scaling-law
    * counterpart of d15's boilerplate coverage: d15 asks "how much is
    * BOILERPLATE everywhere", this asks "how much of EACH new arrival is
    * new at all"). First occurrence = min(doc_id) per shingle — ingest
    * order, deterministic, no wall clock.
    *
    * Scale shape: TWO aggregates joined on doc_id, NO shingle-keyed
    * join-back. `Corpus.docShingles` is already per-doc DISTINCT, so a
    * doc's novel-shingle count is exactly the number of shingles whose
    * corpus-wide min(doc_id) is that doc — i.e. `first.groupBy(first_doc)
    * .count()` — and its total is a plain per-doc count. The naive form
    * (join every (doc, shingle) row back to the first-occurrence relation
    * ON shingle) re-shuffles the full vocabulary-scale stream a second
    * time and measured 26× time at 10× data; this form's second exchange
    * is |docs|-sized. The left join keeps docs whose every shingle was
    * seen earlier (n_novel = 0). At 100 TB the first-occurrence relation
    * is the incremental silver an ingest pipeline maintains per batch —
    * arrivals aggregate against it, never against each other. */
  def noveltyCurve(spark: SparkSession, dir: String): DataFrame = {
    val ds = Corpus.docShingles(spark, dir)
    val total = ds.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val novel = ds.groupBy(col("shingle")).agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc")).agg(count(lit(1)).as("n_novel"))
    total.join(novel, total("doc_id") === novel("first_doc"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("n_novel * 1000 div n_shingles").as("novelty_milli"))
      .orderBy(col("doc_id"))
  }

  val noveltyCurveSql: String =
    s"""WITH ds AS (${Corpus.docShinglesSql}),
       |total AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
       |  FROM ds GROUP BY 1),
       |novel AS (
       |  SELECT first_doc, CAST(COUNT(*) AS BIGINT) AS n_novel
       |  FROM (SELECT shingle, MIN(doc_id) AS first_doc FROM ds GROUP BY 1)
       |  GROUP BY 1)
       |SELECT t.doc_id, t.n_shingles,
       |  COALESCE(n.n_novel, 0) AS n_novel,
       |  COALESCE(n.n_novel, 0) * 1000 // t.n_shingles AS novelty_milli
       |FROM total t LEFT JOIN novel n ON t.doc_id = n.first_doc
       |ORDER BY t.doc_id""".stripMargin

  /** t24: GOOD-TURING ADJUSTED COUNTS over the corpus 3-gram spectrum —
    * the smoothing table a Katz-backoff n-gram LM is built from: for
    * observed count r = 1..7, the adjusted count
    * r* = (r+1)·N_{r+1}/N_r (milli precision, exact integer floor)
    * that substitutes for the raw r, the implied discount (r* over r),
    * and the unseen-mass pool P0 = N_1/N (the same milli value on every
    * row, the v26 idiom). The basis is token 3-shingles (multiset,
    * not d4's per-doc distinct sets) because that is where the
    * estimator lives — n-gram counts have the Zipf tail GT corrects,
    * where this corpus's word unigrams bottom out at c=26 and leave
    * the table empty. r stops at 7 because N_8 is the last EXACT
    * t19-style bucket. Shape: one map-side-combinable shingle agg,
    * an 8-row exact-spectrum rollup, then arithmetic over ≤8 rows.
    * All-integer, oracle-checked; a spec re-derives the identity
    * r*·N_r ≈ (r+1)·N_{r+1} from the output. */
  /** Corpus-wide token-3-shingle frequency spectrum with per-bucket
    * type count and token mass — the ≤64-row silver t24 (and any
    * other spectrum consumer) derives from, so the corpus-sized
    * shingle aggregate runs ONCE per session, not once per derived
    * statistic. Buckets are EXACT for c ≤ 15 and power-of-two from
    * 16 up — NOT t19's exact-to-8 rule, because there floor-log2
    * folds c = 9..15 into "bucket 8" on top of the exact c = 8 rows
    * (harmless for t19/t25, whose consumers only need floor-log2
    * resolution, but it would corrupt N_8 in the GT estimator). */
  def shingleSpectrum(spark: SparkSession, dir: String): DataFrame =
    graft.model.Silver.memoize(spark, "shingleSpectrum", dir) {
      Corpus.docsTok(spark, dir)
        .select(explode(Corpus.shinglesOf(col("words"))).as("sh"))
        .groupBy("sh").agg(count(lit(1)).as("c"))
        .withColumn("bucket",
          when(col("c") <= 15L, col("c"))
            .otherwise(call_function("shiftleft", lit(1L), floorLog2(col("c")).cast("int"))))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_words"), sum("c").as("mass"))
    }

  def goodTuring(spark: SparkSession, dir: String): DataFrame = {
    val spectrum = shingleSpectrum(spark, dir)
    val spec = spectrum.filter(col("bucket") <= 8L)
      .select(col("bucket").as("r"), col("n_words").as("n_r"))
    val nxt = spec.select((col("r") - 1).as("r"), col("n_r").as("n_r_next"))
    val p0 = spectrum.agg(
        coalesce(sum(when(col("bucket") === 1L, col("n_words"))), lit(0L))
          .as("n_1"),
        sum(col("mass")).as("n_total"))
      .select(expr("n_1 * 1000 div n_total").as("unseen_mass_milli"))
    spec.join(nxt, Seq("r"))
      .filter(col("r") <= 7L)
      .crossJoin(broadcast(p0))
      .select(col("r"), col("n_r"), col("n_r_next"),
        expr("(r + 1) * n_r_next * 1000 div n_r").as("r_star_milli"),
        expr("(r + 1) * n_r_next * 1000 div (n_r * r)").as("discount_milli"),
        col("unseen_mass_milli"))
      .orderBy(col("r"))
  }

  val goodTuringSql: String =
    s"""WITH occ AS (
       |  SELECT sh, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(${Corpus.shinglesSqlExpr}) AS sh FROM documents)
       |  GROUP BY sh),
       |spectrum AS (
       |  SELECT
       |    CASE WHEN c <= 15 THEN c
       |         ELSE CAST(1 AS BIGINT) << (length(format('{:b}', c)) - 1)
       |    END AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(c) AS BIGINT) AS mass
       |  FROM occ GROUP BY 1),
       |spec AS (
       |  SELECT bucket AS r, n_words AS n_r FROM spectrum WHERE bucket <= 8),
       |p0 AS (
       |  SELECT CAST(COALESCE(SUM(CASE WHEN bucket = 1 THEN n_words END), 0)
       |      * 1000 // CAST(SUM(mass) AS BIGINT) AS BIGINT) AS unseen_mass_milli
       |  FROM spectrum)
       |SELECT s.r, s.n_r, n.n_r AS n_r_next,
       |  (s.r + 1) * n.n_r * 1000 // s.n_r AS r_star_milli,
       |  (s.r + 1) * n.n_r * 1000 // (s.n_r * s.r) AS discount_milli,
       |  p0.unseen_mass_milli
       |FROM spec s JOIN spec n ON n.r = s.r + 1
       |CROSS JOIN p0
       |WHERE s.r <= 7
       |ORDER BY s.r""".stripMargin

  /** t26: DOMAIN-TRANSFER SURPRISAL — e19's drift question asked of
    * text: fit t13's capped unigram LM on ONE reference source and
    * score EVERY domain under it, rolled up to mean bits-per-token per
    * (lang, source). A domain whose tokens are cheap under its own
    * distribution but expensive under the reference's is
    * out-of-domain — the cross-entropy gap a curation team reads
    * before deciding whether new data matches the training mix
    * (CCNet scores against a Wikipedia LM for exactly this reason).
    * Same scale posture as t13: the fit is cap-bounded
    * (TakeOrdered top-K, never a vocabulary broadcast), totals are
    * collected 1-row literals, OOV is charged the max-bits bucket,
    * and the scoring pass is one explode + broadcast join + one
    * (lang, source) aggregate. Fully oracle-checked. */
  def domainSurprisal(spark: SparkSession, dir: String,
                      refSource: String = "src0",
                      vocabCap: Int = lmVocabCap): DataFrame = {
    val fitToks = Corpus.docsTok(spark, dir)
      .filter(col("source") === refSource)
    val cntTotal = fitToks
      .agg(sum(size(col("words")).cast("long"))).head.getLong(0)
    val oovBits = 63L - java.lang.Long.numberOfLeadingZeros(cntTotal)
    val vocab = fitToks.select(explode(col("words")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val lm = vocab.orderBy(col("cnt").desc, col("word").asc).limit(vocabCap)
      .select(col("word"),
        floorLog2(expr(s"${cntTotal}L DIV cnt"))
          .as("bits"))
    Corpus.docsTok(spark, dir)
      .select(col("lang"), col("source"), col("doc_id"),
        explode(col("words")).as("word"))
      .join(broadcast(lm), Seq("word"), "left")
      .withColumn("tok_bits", coalesce(col("bits"), lit(oovBits)))
      .groupBy(col("lang"), col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(col("tok_bits")).cast("long").as("sum_bits"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        col("sum_bits"),
        (col("sum_bits").cast("double") / col("n_tokens").cast("double"))
          .as("bits_per_token"),
        (col("source") === refSource).as("is_reference"))
      .orderBy("lang", "source")
  }

  def domainSurprisalSql(refSource: String = "src0",
                         vocabCap: Int = lmVocabCap): String =
    s"""WITH fit_toks AS (
       |  SELECT unnest(${Corpus.wordsSqlExpr}) AS word FROM documents
       |  WHERE source = '$refSource'),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt_total,
       |               CAST(length(format('{:b}', COUNT(*))) - 1 AS BIGINT) AS oov_bits
       |        FROM fit_toks),
       |v AS (SELECT word, COUNT(*) AS cnt FROM fit_toks GROUP BY word),
       |kept AS (SELECT word, cnt FROM v ORDER BY cnt DESC, word ASC LIMIT $vocabCap),
       |lm AS (
       |  SELECT word,
       |    CAST(length(format('{:b}', cnt_total // cnt)) - 1 AS BIGINT) AS bits
       |  FROM kept CROSS JOIN tot),
       |toks AS (
       |  SELECT lang, source, doc_id, unnest(${Corpus.wordsSqlExpr}) AS word
       |  FROM documents)
       |SELECT t.lang, t.source,
       |  CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(COALESCE(l.bits, tot.oov_bits)) AS BIGINT) AS sum_bits,
       |  CAST(SUM(COALESCE(l.bits, tot.oov_bits)) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS bits_per_token,
       |  t.source = '$refSource' AS is_reference
       |FROM toks t LEFT JOIN lm l USING (word) CROSS JOIN tot
       |GROUP BY t.lang, t.source
       |ORDER BY t.lang, t.source""".stripMargin

  /** t29: HELD-OUT surprisal — the generalization check every LM-based
    * quality filter needs before its scores are trusted: t13's capped
    * unigram LM fitted on the TRAIN split ONLY (p7's deterministic
    * 90/5/5 hash rule — the fit never sees val/test), then every
    * split scored under that one model. A val/test bits-per-token
    * materially above train's says the LM memorized its fit set (or
    * the splits aren't exchangeable) and its per-doc scores (t13, the
    * streaming gate) would mis-rank unseen data. Same scale posture
    * as t26: cap-bounded fit via TakeOrdered, 1-row collected totals,
    * OOV charged max-bits, one explode + broadcast join + a 3-row
    * split aggregate. */
  def heldoutSurprisal(spark: SparkSession, dir: String,
                       vocabCap: Int = lmVocabCap): DataFrame = {
    val fitToks = Corpus.docsTok(spark, dir)
      .filter(CorpusPrep.splitOf(col("doc_id")) === "train")
    val cntTotal = fitToks
      .agg(sum(size(col("words")).cast("long"))).head.getLong(0)
    val oovBits = 63L - java.lang.Long.numberOfLeadingZeros(cntTotal)
    val vocab = fitToks.select(explode(col("words")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val lm = vocab.orderBy(col("cnt").desc, col("word").asc).limit(vocabCap)
      .select(col("word"),
        floorLog2(expr(s"${cntTotal}L DIV cnt"))
          .as("bits"))
    Corpus.docsTok(spark, dir)
      .select(CorpusPrep.splitOf(col("doc_id")).as("split"), col("doc_id"),
        explode(col("words")).as("word"))
      .join(broadcast(lm), Seq("word"), "left")
      .withColumn("tok_bits", coalesce(col("bits"), lit(oovBits)))
      .groupBy(col("split"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(col("tok_bits")).cast("long").as("sum_bits"))
      .select(col("split"), col("n_docs"), col("n_tokens"), col("sum_bits"),
        (col("sum_bits").cast("double") / col("n_tokens").cast("double"))
          .as("bits_per_token"),
        (col("split") === "train").as("is_fit"))
      .orderBy("split")
  }

  def heldoutSurprisalSql(vocabCap: Int = lmVocabCap): String = {
    val splitCase =
      s"""CASE WHEN ${CorpusPrep.splitBucketSql} < 900 THEN 'train'
         |       WHEN ${CorpusPrep.splitBucketSql} < 950 THEN 'val'
         |       ELSE 'test' END""".stripMargin
    s"""WITH fit_toks AS (
       |  SELECT unnest(${Corpus.wordsSqlExpr}) AS word FROM documents
       |  WHERE ($splitCase) = 'train'),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt_total,
       |               CAST(length(format('{:b}', COUNT(*))) - 1 AS BIGINT) AS oov_bits
       |        FROM fit_toks),
       |v AS (SELECT word, COUNT(*) AS cnt FROM fit_toks GROUP BY word),
       |kept AS (SELECT word, cnt FROM v ORDER BY cnt DESC, word ASC LIMIT $vocabCap),
       |lm AS (
       |  SELECT word,
       |    CAST(length(format('{:b}', cnt_total // cnt)) - 1 AS BIGINT) AS bits
       |  FROM kept CROSS JOIN tot),
       |toks AS (
       |  SELECT ($splitCase) AS split, doc_id,
       |    unnest(${Corpus.wordsSqlExpr}) AS word
       |  FROM documents)
       |SELECT t.split,
       |  CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(COALESCE(l.bits, tot.oov_bits)) AS BIGINT) AS sum_bits,
       |  CAST(SUM(COALESCE(l.bits, tot.oov_bits)) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS bits_per_token,
       |  t.split = 'train' AS is_fit
       |FROM toks t LEFT JOIN lm l USING (word) CROSS JOIN tot
       |GROUP BY t.split
       |ORDER BY t.split""".stripMargin
  }

  /** t25: ZIPF RANK-FREQUENCY SLOPE per language — the corpus-health
    * fit (natural text's type-frequency curve is near-linear in
    * log-log; template/boilerplate corpora flatten, spam steepens)
    * computed WITHOUT a vocabulary-sized rank window: on a log-log
    * plot the rank of the last type with frequency ≥ f is the suffix
    * sum of t19's spectrum, so the fit points come from the
    * LOG-BOUNDED spectrum (≤ 64 rows per lang), never from ranking
    * the vocabulary. Types are token 3-shingles (t24's basis, and
    * for the same reason: this corpus's 31-word unigram vocabulary
    * has no tail to fit). x = floor-log2(f) via
    * binary-string length (t13's engine-portable log), y =
    * floor-log2(rank(f)); slope/intercept by a30's closed form —
    * exact integer moments, doubles only in the final two divisions,
    * identical op order both engines. One map-combinable (lang, word)
    * agg + a per-lang spectrum rollup + arithmetic over log-bounded
    * rows. */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val spec = Corpus.docsTok(spark, dir)
      .select(col("lang"), explode(Corpus.shinglesOf(col("words"))).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("c"))
      .withColumn("bucket",
        when(col("c") <= 8L, col("c"))
          .otherwise(call_function("shiftleft", lit(1L), floorLog2(col("c")).cast("int"))))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_words"))
    val wSuffix = Window.partitionBy(col("lang")).orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val points = spec
      .withColumn("rank_at", sum(col("n_words")).over(wSuffix))
      .select(col("lang"),
        floorLog2(col("bucket")).as("x"),
        floorLog2(col("rank_at")).as("y"))
    points.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope",
        expr("CAST(n_points * sxy - sx * sy AS DOUBLE)") /
          expr("CAST(nullif(n_points * sxx - sx * sx, 0) AS DOUBLE)"))
      .withColumn("intercept",
        (expr("CAST(sy AS DOUBLE)") - col("slope") * expr("CAST(sx AS DOUBLE)")) /
          expr("CAST(n_points AS DOUBLE)"))
      .select(col("lang"), col("n_points"), col("slope"), col("intercept"))
      .orderBy(col("lang"))
  }

  val zipfSlopeSql: String =
    s"""WITH occ AS (
       |  SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT lang, unnest(${Corpus.shinglesSqlExpr}) AS word
       |        FROM documents)
       |  GROUP BY lang, word),
       |spec AS (
       |  SELECT lang,
       |    CASE WHEN c <= 8 THEN c
       |         ELSE CAST(1 AS BIGINT) << (length(format('{:b}', c)) - 1)
       |    END AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS n_words
       |  FROM occ GROUP BY 1, 2),
       |pts AS (
       |  SELECT lang,
       |    CAST(length(format('{:b}', bucket)) - 1 AS BIGINT) AS x,
       |    CAST(length(format('{:b}', CAST(SUM(n_words) OVER (
       |      PARTITION BY lang ORDER BY bucket DESC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT))) - 1 AS BIGINT) AS y
       |  FROM spec),
       |mom AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_points,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx
       |  FROM pts GROUP BY lang)
       |SELECT lang, n_points,
       |  CAST(n_points * sxy - sx * sy AS DOUBLE)
       |    / CAST(nullif(n_points * sxx - sx * sx, 0) AS DOUBLE) AS slope,
       |  (CAST(sy AS DOUBLE) - (CAST(n_points * sxy - sx * sy AS DOUBLE)
       |    / CAST(nullif(n_points * sxx - sx * sx, 0) AS DOUBLE))
       |    * CAST(sx AS DOUBLE)) / CAST(n_points AS DOUBLE) AS intercept
       |FROM mom ORDER BY lang""".stripMargin

  /** t27: PMI COLLOCATIONS per language — the top word pairs whose
    * adjacency is most above chance: PMI = log2( p(a,b) / (p(a)·p(b)) )
    * over adjacent-token bigrams, the standard collocation miner (and
    * the phrase-vocabulary builder word2vec-style pipelines run before
    * training). Engine parity uses the house integer floor-log2:
    * with N = bigram tokens per lang, num = c_ab·N, den = c_a·c_b,
    * pmi_bits = floor(log2(num div den)) when num ≥ den, else
    * −floor(log2(den div num)) — exact 64-bit arithmetic both engines
    * (num ≤ c_ab·N ≈ 10¹⁴ at sf0.1; at extreme corpus sizes the same
    * statistic drops to bit-length differences, no product). A
    * `minCount` floor keeps the rare-pair PMI explosion out (the
    * textbook failure mode: hapax pairs score max PMI). Top `topN`
    * per lang by (pmi_bits, c_ab) with full lexical tiebreaks.
    *
    * Shape: one bigram count agg + one unigram count agg (both
    * map-side combinable), two vocabulary-bounded broadcast joins, and
    * a per-lang top-N window over the vocab²-bounded pair relation —
    * the corpus-sized scans never shuffle more than (lang, pair) keys. */
  def pmiCollocations(spark: SparkSession, dir: String,
                      minCount: Long = 5L, topN: Int = 20): DataFrame = {
    val bigramsOf = transform(sequence(lit(0), size(col("words")) - lit(2)),
      i => struct(element_at(col("words"), i + lit(1)).as("wa"),
        element_at(col("words"), i + lit(2)).as("wb")))
    val bg = Corpus.docsTok(spark, dir)
      .filter(size(col("words")) >= 2)
      .select(col("lang"), explode(bigramsOf).as("b"))
      .select(col("lang"), col("b.wa").as("wa"), col("b.wb").as("wb"))
    val pairC = bg.groupBy("lang", "wa", "wb").agg(count(lit(1)).as("c_ab"))
    val totals = pairC.groupBy("lang").agg(sum(col("c_ab")).cast("long").as("n_bigrams"))
    val uniC = bg.select(col("lang"), col("wa").as("w")).groupBy("lang", "w")
      .agg(count(lit(1)).as("c_first"))
    val uniC2 = bg.select(col("lang"), col("wb").as("w")).groupBy("lang", "w")
      .agg(count(lit(1)).as("c_second"))
    val scored = pairC
      .join(broadcast(totals), Seq("lang"))
      .join(broadcast(uniC.withColumnRenamed("w", "wa")), Seq("lang", "wa"))
      .join(broadcast(uniC2.withColumnRenamed("w", "wb")), Seq("lang", "wb"))
      .filter(col("c_ab") >= minCount)
      .withColumn("num", col("c_ab") * col("n_bigrams"))
      .withColumn("den", col("c_first") * col("c_second"))
      .withColumn("pmi_bits",
        when(col("num") >= col("den"),
          floorLog2(expr("num DIV den")))
          .otherwise(-floorLog2(expr("den DIV num"))))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("pmi_bits").desc, col("c_ab").desc,
        col("wa").asc, col("wb").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topN)
      .select(col("lang"), col("rank"), col("wa"), col("wb"),
        col("c_ab"), col("c_first"), col("c_second"), col("pmi_bits"))
      .orderBy(col("lang"), col("rank"))
  }

  def pmiCollocationsSql(minCount: Long = 5L, topN: Int = 20): String = {
    val ws = Corpus.wordsSqlExpr
    s"""WITH bg AS (
       |  SELECT lang, unnest([{'wa': $ws[i], 'wb': $ws[i+1]}
       |    for i in range(1, len($ws))], recursive := true)
       |  FROM documents),
       |pair_c AS (
       |  SELECT lang, wa, wb, CAST(COUNT(*) AS BIGINT) AS c_ab
       |  FROM bg GROUP BY 1, 2, 3),
       |totals AS (
       |  SELECT lang, CAST(SUM(c_ab) AS BIGINT) AS n_bigrams
       |  FROM pair_c GROUP BY 1),
       |uni_a AS (
       |  SELECT lang, wa, CAST(COUNT(*) AS BIGINT) AS c_first
       |  FROM bg GROUP BY 1, 2),
       |uni_b AS (
       |  SELECT lang, wb, CAST(COUNT(*) AS BIGINT) AS c_second
       |  FROM bg GROUP BY 1, 2),
       |scored AS (
       |  SELECT p.lang, p.wa, p.wb, p.c_ab, a.c_first, b.c_second,
       |    CASE WHEN p.c_ab * t.n_bigrams >= a.c_first * b.c_second
       |      THEN CAST(length(format('{:b}',
       |        (p.c_ab * t.n_bigrams) // (a.c_first * b.c_second))) - 1
       |        AS BIGINT)
       |      ELSE -CAST(length(format('{:b}',
       |        (a.c_first * b.c_second) // (p.c_ab * t.n_bigrams))) - 1
       |        AS BIGINT)
       |    END AS pmi_bits
       |  FROM pair_c p
       |  JOIN totals t USING (lang)
       |  JOIN uni_a a USING (lang, wa)
       |  JOIN uni_b b USING (lang, wb)
       |  WHERE p.c_ab >= $minCount),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang
       |    ORDER BY pmi_bits DESC, c_ab DESC, wa ASC, wb ASC) AS BIGINT)
       |    AS rank
       |  FROM scored)
       |SELECT lang, rank, wa, wb, c_ab, c_first, c_second, pmi_bits
       |FROM ranked WHERE rank <= $topN
       |ORDER BY lang, rank""".stripMargin
  }

  /** t28: KNESER–NEY CONTINUATION TABLE — the smoothing statistics the
    * strongest classical n-gram LMs are built from, as a relation:
    * per word, the unigram count, the LEFT context diversity
    * N₁₊(•w) = #distinct predecessors (KN's famous insight: "Francisco"
    * is frequent but only ever follows "San", so its continuation
    * probability should be tiny), the right diversity N₁₊(w•), and the
    * continuation probability P_cont(w) = N₁₊(•w) / #bigram types in
    * exact milli. Every row also carries the corpus's absolute-discount
    * constant D = n₁/(n₁+2n₂) (micro units) from the bigram
    * count-of-counts — t24's Good-Turing spectrum logic applied at the
    * bigram order. Complements t13/t14: those SCORE docs under a fitted
    * LM; this emits the smoothing table a production KN fit consumes.
    *
    * Shape: one bigram count agg (map-combinable), two vocab-bounded
    * distinct rollups, a 1-row discount aggregate cross-joined in —
    * nothing data-sized past the first agg. At 100 TB the bigram type
    * relation is the big intermediate; it is exactly t14's capped-fit
    * relation and the same top-K cap applies before any driver-side
    * materialization (none happens here — the table stays
    * distributed). */
  def kneserNey(spark: SparkSession, dir: String): DataFrame = {
    val bigramsOf = transform(sequence(lit(0), size(col("words")) - lit(2)),
      i => struct(element_at(col("words"), i + lit(1)).as("prev"),
        element_at(col("words"), i + lit(2)).as("cur")))
    val bg = Corpus.docsTok(spark, dir)
      .filter(size(col("words")) >= 2)
      .select(explode(bigramsOf).as("b"))
      .select(col("b.prev").as("prev"), col("b.cur").as("cur"))
    val types = bg.groupBy("prev", "cur").agg(count(lit(1)).as("c_big"))
    val disc = types
      .agg(sum(when(col("c_big") === 1L, 1L).otherwise(0L)).cast("long").as("n1"),
        sum(when(col("c_big") === 2L, 1L).otherwise(0L)).cast("long").as("n2"),
        count(lit(1)).as("n_bigram_types"))
      .select(col("n_bigram_types"),
        expr("n1 * 1000000 div nullif(n1 + 2 * n2, 0)").as("discount_micro"))
    val leftDiv = types.groupBy(col("cur").as("word"))
      .agg(count(lit(1)).as("left_types"))
    val rightDiv = types.groupBy(col("prev").as("word"))
      .agg(count(lit(1)).as("right_types"))
    val uni = Corpus.docsTok(spark, dir)
      .select(explode(col("words")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c_uni"))
    uni
      .join(leftDiv, Seq("word"), "left")
      .join(rightDiv, Seq("word"), "left")
      .crossJoin(broadcast(disc))
      .select(col("word"), col("c_uni"),
        coalesce(col("left_types"), lit(0L)).as("left_types"),
        coalesce(col("right_types"), lit(0L)).as("right_types"),
        col("n_bigram_types"), col("discount_micro"))
      .withColumn("p_cont_milli",
        expr("left_types * 1000 div n_bigram_types"))
      .orderBy(col("word"))
  }

  val kneserNeySql: String = {
    val ws = Corpus.wordsSqlExpr
    s"""WITH bg AS (
       |  SELECT unnest([{'prev': $ws[i], 'cur': $ws[i+1]}
       |    for i in range(1, len($ws))], recursive := true)
       |  FROM documents),
       |types AS (
       |  SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c_big
       |  FROM bg GROUP BY 1, 2),
       |disc AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_bigram_types,
       |    CAST(SUM(CASE WHEN c_big = 1 THEN 1 ELSE 0 END) * 1000000
       |      // NULLIF(CAST(SUM(CASE WHEN c_big = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |        + 2 * CAST(SUM(CASE WHEN c_big = 2 THEN 1 ELSE 0 END) AS BIGINT), 0)
       |      AS BIGINT) AS discount_micro
       |  FROM types),
       |left_div AS (
       |  SELECT cur AS word, CAST(COUNT(*) AS BIGINT) AS left_types
       |  FROM types GROUP BY 1),
       |right_div AS (
       |  SELECT prev AS word, CAST(COUNT(*) AS BIGINT) AS right_types
       |  FROM types GROUP BY 1),
       |uni AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS c_uni
       |  FROM (SELECT unnest($ws) AS word FROM documents) GROUP BY 1)
       |SELECT u.word, u.c_uni,
       |  COALESCE(l.left_types, 0) AS left_types,
       |  COALESCE(r.right_types, 0) AS right_types,
       |  d.n_bigram_types, d.discount_micro,
       |  COALESCE(l.left_types, 0) * 1000 // d.n_bigram_types AS p_cont_milli
       |FROM uni u
       |LEFT JOIN left_div l USING (word)
       |LEFT JOIN right_div r USING (word)
       |CROSS JOIN disc d
       |ORDER BY u.word""".stripMargin
  }

  /** t30: GOPHER REPETITION RUBRIC (Rae et al. 2021, "Scaling Language
    * Models: ... Gopher", App. A / MassiveText filters) — the
    * repeated-n-gram CHARACTER-fraction rules t7's count form doesn't
    * cover: per document, the fraction of characters inside (a) the
    * single most frequent n-gram for n = 2, 3, 4 and (b) all n-grams
    * occurring more than once for n = 5, each against its published
    * threshold (0.20 / 0.18 / 0.16 / 0.15), plus the composite
    * keep/drop verdict. Char mass of a gram occurrence = its rendered
    * length (words + separating spaces); denominator = the document's
    * full character count.
    *
    * PARITY: every number is an exact integer — counts, per-gram char
    * masses, and the milli fractions (×1000, truncating DIV).
    * MassiveText's top-gram tie (two grams with equal count) is broken
    * toward the LONGER gram by packing (cnt, len) into one BIGINT
    * (cnt·100000 + len — len < 100k by construction) and taking MAX:
    * a total order both engines agree on with plain integer max.
    *
    * Scale shape: one pass over the tokenize-once silver per n (four
    * narrow explodes of a cached relation), each a map-side-combinable
    * (doc, gram) count whose shuffle key includes doc_id — the same
    * doc-bounded-group discipline as t7; the 4-row-per-doc pivot is a
    * second doc-keyed agg on dimension-sized data. Nothing global. */
  def gopherRepetition(spark: SparkSession, dir: String): DataFrame = {
    val silver = Corpus.docsTok(spark, dir)
      .select(col("doc_id"), col("words").as("ws"),
        length(col("text")).cast("long").as("n_chars"))
    def gramsOf(n: Int): DataFrame = {
      val grams = transform(sequence(lit(0), size(col("ws")) - lit(n)),
        i => concat_ws(" ", slice(col("ws"), i + lit(1), lit(n))))
      silver.filter(size(col("ws")) >= n)
        .select(col("doc_id"), col("n_chars"), lit(n).as("n"),
          explode(grams).as("g"))
    }
    val stacked = (2 to 5).map(gramsOf).reduce(_ unionAll _)
    val perGram = stacked
      .groupBy(col("doc_id"), col("n_chars"), col("n"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), col("n_chars"), col("n"), col("cnt"),
        (length(col("g")).cast("long")).as("len"))
    val perN = perGram.groupBy(col("doc_id"), col("n_chars"), col("n"))
      .agg(max(col("cnt") * lit(100000L) + col("len")).as("top_key"),
        sum(when(col("cnt") >= 2L, col("cnt") * col("len"))
          .otherwise(0L)).as("dup_charc"))
      .select(col("doc_id"), col("n_chars"), col("n"),
        expr("((top_key DIV 100000) * (top_key % 100000)) * 1000 DIV n_chars")
          .as("top_milli"),
        expr("dup_charc * 1000 DIV n_chars").as("dup_milli"))
    perN.groupBy(col("doc_id"), col("n_chars"))
      .agg(
        max(when(col("n") === 2, col("top_milli"))).as("top2_milli"),
        max(when(col("n") === 3, col("top_milli"))).as("top3_milli"),
        max(when(col("n") === 4, col("top_milli"))).as("top4_milli"),
        max(when(col("n") === 5, col("dup_milli"))).as("dup5_milli"))
      .select(col("doc_id"), col("n_chars"),
        col("top2_milli"), col("top3_milli"), col("top4_milli"),
        col("dup5_milli"),
        (coalesce(col("top2_milli"), lit(0L)) < 200L &&
          coalesce(col("top3_milli"), lit(0L)) < 180L &&
          coalesce(col("top4_milli"), lit(0L)) < 160L &&
          coalesce(col("dup5_milli"), lit(0L)) < 150L).as("gopher_keep"))
      .orderBy(col("doc_id"))
  }

  val gopherRepetitionSql: String = {
    val ws = Corpus.wordsSqlExpr
    def gramCte(n: Int): String =
      s"""g$n AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |    $n AS n,
         |    unnest([array_to_string($ws[i:i+${n - 1}], ' ')
         |      for i in range(1, len($ws) - ${n - 2})]) AS g
         |  FROM documents WHERE len($ws) >= $n)""".stripMargin
    s"""WITH ${(2 to 5).map(gramCte).mkString(",\n")},
       |stacked AS (
       |  SELECT * FROM g2 UNION ALL SELECT * FROM g3
       |  UNION ALL SELECT * FROM g4 UNION ALL SELECT * FROM g5),
       |per_gram AS (
       |  SELECT doc_id, n_chars, n, g,
       |    CAST(COUNT(*) AS BIGINT) AS cnt,
       |    CAST(length(g) AS BIGINT) AS len
       |  FROM stacked GROUP BY 1, 2, 3, 4),
       |per_n AS (
       |  SELECT doc_id, n_chars, n,
       |    ((MAX(cnt * 100000 + len) // 100000)
       |      * (MAX(cnt * 100000 + len) % 100000)) * 1000 // n_chars
       |      AS top_milli,
       |    CAST(SUM(CASE WHEN cnt >= 2 THEN cnt * len ELSE 0 END)
       |      AS BIGINT) * 1000 // n_chars AS dup_milli
       |  FROM per_gram GROUP BY 1, 2, 3)
       |SELECT doc_id, n_chars,
       |  MAX(CASE WHEN n = 2 THEN top_milli END) AS top2_milli,
       |  MAX(CASE WHEN n = 3 THEN top_milli END) AS top3_milli,
       |  MAX(CASE WHEN n = 4 THEN top_milli END) AS top4_milli,
       |  MAX(CASE WHEN n = 5 THEN dup_milli END) AS dup5_milli,
       |  (COALESCE(MAX(CASE WHEN n = 2 THEN top_milli END), 0) < 200 AND
       |   COALESCE(MAX(CASE WHEN n = 3 THEN top_milli END), 0) < 180 AND
       |   COALESCE(MAX(CASE WHEN n = 4 THEN top_milli END), 0) < 160 AND
       |   COALESCE(MAX(CASE WHEN n = 5 THEN dup_milli END), 0) < 150)
       |    AS gopher_keep
       |FROM per_n GROUP BY doc_id, n_chars
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t34

  /** t34: VOCABULARY GROWTH (Heaps'-law readout) — cumulative distinct
    * type count vs cumulative token count at ten corpus checkpoints, the
    * curve that sizes a tokenizer vocabulary and predicts how many new
    * types the next 10 TB of corpus will surface. Checkpoints are deciles
    * of the doc_id space (ingest order). The scale-critical move: the
    * cumulative distinct at checkpoint c is NOT ten distinct-counts over
    * growing prefixes (10× corpus rescans) — each type contributes to
    * exactly one decile via its FIRST-occurrence doc (one vocab-grain
    * `min` aggregate), and the ten per-decile increments cumulate in a
    * 10-row window. Token totals cumulate the same way. ttr_milli is the
    * cumulative type/token ratio in exact integer milli. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val toks = Corpus.docsTok(spark, dir)
    val nRel = toks.agg((max(col("doc_id")) + 1L).as("n_total"))
    val docsDec = toks.crossJoin(nRel) // 1-row scalar broadcast
      .select(expr("doc_id * 10 DIV n_total").as("decile"),
        size(col("words")).cast("long").as("n_toks"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("new_docs"), sum(col("n_toks")).as("new_tokens"))
    val typesDec = toks
      .select(col("doc_id"), explode(col("words")).as("word"))
      .groupBy(col("word")).agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(nRel)
      .select(expr("first_doc * 10 DIV n_total").as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsDec.join(typesDec, Seq("decile"), "left")
      .select(col("decile"), col("new_docs"), col("new_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .select(col("decile"),
        sum(col("new_docs")).over(w).as("n_docs"),
        sum(col("new_tokens")).over(w).as("n_tokens"),
        sum(col("new_types")).over(w).as("n_types"))
      .select(col("decile"), col("n_docs"), col("n_tokens"), col("n_types"),
        expr("CASE WHEN n_tokens = 0 THEN NULL " +
          "ELSE n_types * 1000 DIV n_tokens END").as("ttr_milli"))
      .orderBy(col("decile"))
  }

  def vocabGrowthSql(): String = {
    val ws = Corpus.wordsSqlExpr
    s"""WITH n AS (SELECT MAX(doc_id) + 1 AS n_total FROM documents),
       |docs_dec AS (
       |  SELECT doc_id * 10 // n_total AS decile,
       |    CAST(COUNT(*) AS BIGINT) AS new_docs,
       |    CAST(SUM(len($ws)) AS BIGINT) AS new_tokens
       |  FROM documents, n GROUP BY 1),
       |first_doc AS (
       |  SELECT word, MIN(doc_id) AS fd
       |  FROM (SELECT doc_id, unnest($ws) AS word FROM documents)
       |  GROUP BY word),
       |types_dec AS (
       |  SELECT fd * 10 // n_total AS decile,
       |    CAST(COUNT(*) AS BIGINT) AS new_types
       |  FROM first_doc, n GROUP BY 1),
       |cum AS (
       |  SELECT d.decile,
       |    CAST(SUM(new_docs) OVER w AS BIGINT) AS n_docs,
       |    CAST(SUM(new_tokens) OVER w AS BIGINT) AS n_tokens,
       |    CAST(SUM(COALESCE(new_types, 0)) OVER w AS BIGINT) AS n_types
       |  FROM docs_dec d LEFT JOIN types_dec t USING (decile)
       |  WINDOW w AS (ORDER BY d.decile
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT decile, n_docs, n_tokens, n_types,
       |  CAST(CASE WHEN n_tokens = 0 THEN NULL
       |       ELSE n_types * 1000 // n_tokens END AS BIGINT) AS ttr_milli
       |FROM cum ORDER BY decile""".stripMargin
  }
}
