package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** t20: distributed BYTE-PAIR-ENCODING merge-rule training — the
  * tokenizer-fitting step of an LLM data pipeline, run the way every
  * production trainer runs it (HuggingFace tokenizers, SentencePiece
  * BPE mode): NOT over the corpus, but over the WORD-FREQUENCY
  * DICTIONARY — one row per distinct word with its corpus count. The
  * corpus is touched exactly once (the word-count aggregate,
  * map-side-combinable); every training iteration after that is a job
  * over the vocabulary-sized dictionary, bounded by Heaps' law, not by
  * corpus bytes. At 100 TB the dictionary fits comfortably where the
  * corpus never would — this separation IS the scalable shape.
  *
  * Per ROUND — merges are selected in BATCHES, the fix for the
  * sequential trainer's real-vocabulary latency wall (a 32k-merge
  * vocabulary at one merge per Spark job is 32k driver round-trips;
  * batching compatible merges cuts that ~[[Bpe.BatchWindow]]×):
  * (1) adjacent-symbol pair counts, frequency-weighted — an explode +
  * hash agg over the dictionary; (2) the top-[[Bpe.BatchWindow]]
  * candidates by (count DESC, pair ASC — a deterministic total order,
  * so retries and partitionings agree) via TakeOrdered, never a
  * global sort; (3) candidate i is KEPT iff its symbol set {l,r} is
  * DISJOINT from every higher-ranked candidate's — kept or not (the
  * conservative, purely-relational compatibility rule both engines
  * can evaluate identically; a greedy kept-only rule would need
  * recursion). Disjointness is what makes batching sound: a merge
  * can neither destroy nor create occurrences of a symbol-disjoint
  * pair, so every kept pair's count — and the result of applying the
  * whole batch — is exactly what sequential application would see;
  * (4) all kept merges apply to every word's symbol sequence as
  * composed left-to-right folds in ONE projection (`aggregate` HOF:
  * last symbol == left ∧ current == right → replace last with merged,
  * else append — greedy non-overlapping, the BPE rule). The fold is
  * codegen-free but narrow: no shuffle, one cached dictionary per
  * ROUND (not per merge), lineage one step deep.
  *
  * ORACLE TWIN (r8; generalized to batched rounds in r11): the
  * trainer IS expressible in DuckDB once the fixed ROUND count is
  * UNROLLED ([[Bpe.Rounds]] rounds of CTEs, each applying up to
  * [[Bpe.BatchWindow]] kept merges through nested `replace`s whose
  * patterns come from scalar subqueries — an absent k-th merge
  * COALESCEs to a chr(1)/chr(2) sentinel pair that never matches)
  * and the symbol list is represented as a DOUBLE-DELIMITED STRING:
  * `||s1||s2||...||`. One global `replace(s, '|l||r|', '|lr|')` is
  * then exactly the greedy left-to-right non-overlapping BPE merge
  * fold: each match consumes ONE `|` from each side, leaving the
  * other for the neighboring symbol, so consecutive merge sites chain
  * (`||a||a||a||a||` → `||aa||aa||`) while the surviving outer bars
  * anchor both symbol boundaries (no prefix/suffix false matches —
  * `|b||c|` cannot match inside `||ab||c||`). The representation
  * assumes `|` never occurs inside a token (whitespace-split corpus
  * text; holds for the synthetic corpus and is asserted nowhere
  * cheaper than the oracle compare itself, which would hash-diverge).
  * [[graft.BpeSpec]] additionally recomputes the whole trainer
  * in-process and asserts the merge table matches exactly. */
object Bpe {

  /** Batched training rounds (t20/t21's declared semantics — the
    * oracle unrolls exactly this many CTE rounds). */
  val Rounds = 4

  /** Candidate window per round: the top-W pairs considered for one
    * batch; kept merges per round range from 1 to W. */
  val BatchWindow = 4

  /** Split a word into single-character symbols. */
  private def charsCol(word: Column): Column =
    filter(split(word, ""), s => s =!= "")

  /** One left-to-right non-overlapping merge pass of (left, right) →
    * left||right over a symbol array — the BPE apply rule as a fold. */
  private def mergeCol(symbols: Column, left: String, right: String): Column =
    aggregate(
      symbols,
      array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(left) && s === lit(right),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(left + right))))
          .otherwise(concat(acc, array(s))))

  /** The batch-compatibility filter: candidate i (0-based, in
    * (count DESC, pair ASC) order) survives iff its symbols are
    * disjoint from EVERY higher-ranked candidate's — kept or not. */
  private[graft] def keepCompatible[A](cands: Seq[((String, String), A)])
      : Seq[((String, String), A)] =
    cands.zipWithIndex.filter { case (((l, r), _), i) =>
      cands.take(i).forall { case ((l2, r2), _) =>
        l2 != l && l2 != r && r2 != l && r2 != r
      }
    }.map(_._1)

  /** The learned merge table: (merge_rank, left, right, merged,
    * pair_count) over `rounds` batched rounds with a `window`-wide
    * candidate batch per round; pair_count is the pre-round count
    * (exact for every kept pair — disjointness guarantees the batch
    * cannot perturb it). */
  def train(spark: SparkSession, dir: String, rounds: Int = Rounds,
            window: Int = BatchWindow): DataFrame = {
    import spark.implicits._
    // the dictionary is vocabulary-sized: coalesce to a few partitions so
    // the round jobs schedule a handful of real tasks instead of
    // 32 near-empty ones (pure overhead at this relation size)
    var dict = Corpus.docsTok(spark, dir)
      .select(explode(col("words")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(charsCol(col("word")).as("symbols"), col("freq"))
      .coalesce(4)
      .cache()
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var grank = 0L
    var exhausted = false
    try {
      for (_ <- 1 to rounds if !exhausted) {
        val pairs = dict
          .select(col("freq"),
            explode(arrays_zip(
              slice(col("symbols"), lit(1), size(col("symbols")) - 1).as("l"),
              slice(col("symbols"), lit(2), size(col("symbols")) - 1).as("r"))
            ).as("p"))
          .groupBy(col("p.l").as("left"), col("p.r").as("right"))
          .agg(sum(col("freq")).as("pair_count"))
        // ONE driver round-trip per ROUND (window rows), not per merge
        val cands = pairs
          .orderBy(col("pair_count").desc, col("left").asc, col("right").asc)
          .limit(window).collect()
          .map(r => (r.getAs[String]("left"), r.getAs[String]("right")) ->
            r.getAs[Long]("pair_count")).toSeq
        if (cands.nonEmpty) {
          val kept = keepCompatible(cands)
          kept.foreach { case ((l, r), c) =>
            grank += 1
            merges += ((grank, l, r, l + r, c))
          }
          // the whole batch applies in ONE projection: disjoint pairs
          // compose order-independently, folds chained in rank order
          val batched = kept.foldLeft(col("symbols")) {
            case (acc, ((l, r), _)) => mergeCol(acc, l, r)
          }
          val parent = dict
          dict = parent.select(batched.as("symbols"), col("freq")).cache()
          dict.count() // materialize before unpersisting the parent
          parent.unpersist()
        } else exhausted = true // no pairs left: stop submitting empty jobs
      }
    } finally dict.unpersist()
    merges.result()
      .toDF("merge_rank", "left", "right", "merged", "pair_count")
      .orderBy("merge_rank")
  }

  /** t21: BPE ENCODE — the learned merge table applied to the corpus:
    * per document, every word's character sequence is rewritten by the
    * `nMerges` rules IN RANK ORDER (the BPE apply semantics), and the
    * resulting token count is emitted next to the whitespace count —
    * the fertility / compression statistic a tokenizer change is
    * judged by. The merge table is tiny (k rows, collected once) and
    * UNROLLS into k nested fold expressions over each word: the encode
    * is a pure NARROW MAP at parquet-scan speed — train once (t20),
    * encode 100 TB with zero shuffles, the exact production split.
    * Oracle-checked since r8 via [[encodeSql]] (the unrolled trainer's
    * final dictionary carries each word's token count); [[graft.BpeSpec]]
    * additionally replays an in-process encoder over the same merge
    * table and the counts match exactly. */
  def encode(spark: SparkSession, dir: String, rounds: Int = Rounds,
             window: Int = BatchWindow): DataFrame = {
    val merges = train(spark, dir, rounds, window).collect()
      .sortBy(_.getAs[Long]("merge_rank"))
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
    def encodedWord(w: Column): Column =
      merges.foldLeft(charsCol(w)) { case (acc, (l, r)) => mergeCol(acc, l, r) }
    Corpus.docsTok(spark, dir)
      .select(col("doc_id"), size(col("words")).cast("long").as("n_words"),
        aggregate(col("words"), lit(0L),
          (acc, w) => acc + size(encodedWord(w)).cast("long"))
          .as("n_bpe_tokens"))
      .withColumn("tokens_per_word",
        col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
      .orderBy("doc_id")
  }

  /** One unrolled training round for the DuckDB twins: adjacent-pair
    * counts over the delimited dictionary, the (count DESC, left, right)
    * argmax, and the merge applied via the double-delimiter replace
    * (see the object scaladoc for the equivalence argument). The split
    * array `a` is ['', s1, ..., sn, ''], so pairs live at indices
    * 2..len-2 against their successors. */
  private def roundCteSql(i: Int, window: Int): String = {
    val prev = s"dict${i - 1}"
    // up to `window` kept merges apply as nested replaces in ki order
    // (innermost first); an absent k-th merge COALESCEs to the
    // chr(1)/chr(2) sentinel pair, which never occurs in the delimited
    // string, so its replace is a no-op — exhaustion-safe by
    // construction (the r8 LEFT-JOIN discipline, scalar-subquery form)
    val nested = (1 to window).foldLeft("d.s") { (acc, k) =>
      s"replace($acc,\n" +
        s"      COALESCE((SELECT '|' || l || '||' || r || '|' " +
        s"FROM kept$i WHERE ki = $k), chr(1)),\n" +
        s"      COALESCE((SELECT '|' || l || r || '|' " +
        s"FROM kept$i WHERE ki = $k), chr(2)))"
    }
    s""",
       |pc$i AS MATERIALIZED (
       |  SELECT a[i] AS l, a[i+1] AS r, CAST(SUM(freq) AS BIGINT) AS c
       |  FROM (SELECT string_split(s, '||') AS a, freq FROM $prev) t,
       |       unnest(range(2, len(a) - 1)) AS u(i)
       |  GROUP BY 1, 2),
       |cand$i AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT l, r, c,
       |      ROW_NUMBER() OVER (ORDER BY c DESC, l ASC, r ASC) AS ri
       |    FROM pc$i) q
       |  WHERE ri <= $window),
       |kept$i AS MATERIALIZED (
       |  SELECT a.l, a.r, a.c, ROW_NUMBER() OVER (ORDER BY a.ri) AS ki
       |  FROM cand$i a
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM cand$i b
       |    WHERE b.ri < a.ri
       |      AND (b.l = a.l OR b.l = a.r OR b.r = a.l OR b.r = a.r))),
       |dict$i AS (
       |  SELECT d.word, $nested AS s, d.freq
       |  FROM $prev d)""".stripMargin
  }

  private def dictCtesSql(rounds: Int, window: Int): String =
    s"""WITH wf AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(${Corpus.wordsSqlExpr}) AS word FROM documents)
       |  GROUP BY 1),
       |dict0 AS (
       |  SELECT word,
       |    '||' || array_to_string(string_split(word, ''), '||') || '||' AS s,
       |    freq
       |  FROM wf)""".stripMargin +
      (1 to rounds).map(roundCteSql(_, window)).mkString

  /** DuckDB twin of [[train]] — the batched rounds unrolled as CTEs:
    * per round the top-`window` candidates rank via ROW_NUMBER, the
    * NOT EXISTS filter keeps exactly the higher-rank-disjoint ones,
    * and the kept batch applies through the sentinel-guarded nested
    * replaces. Global merge_rank = ROW_NUMBER over (round, ki). */
  def trainSql(rounds: Int = Rounds, window: Int = BatchWindow): String =
    dictCtesSql(rounds, window) +
      "\nSELECT ROW_NUMBER() OVER (ORDER BY round, ki) AS merge_rank," +
      """ "left", "right", merged, pair_count FROM (""" + "\n" +
      (1 to rounds).map(i =>
        s"""SELECT $i AS round, ki, l AS "left", r AS "right", l || r AS merged, c AS pair_count FROM kept$i""")
        .mkString("\nUNION ALL\n") +
      "\n) ORDER BY merge_rank"

  /** DuckDB twin of [[encode]]: the trained per-word symbol strings
    * (the final round's dictionary) ARE the encoded words — token
    * count per word is its delimiter count, and documents re-aggregate
    * the word relation. */
  def encodeSql(rounds: Int = Rounds, window: Int = BatchWindow): String =
    dictCtesSql(rounds, window) +
      s""",
         |wtok AS (
         |  SELECT word, CAST(len(string_split(s, '||')) - 2 AS BIGINT) AS ntok
         |  FROM dict$rounds),
         |docw AS (
         |  SELECT doc_id, unnest(${Corpus.wordsSqlExpr}) AS word FROM documents)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(ntok) AS BIGINT) AS n_bpe_tokens,
         |  CAST(SUM(ntok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS tokens_per_word
         |FROM docw JOIN wtok USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
