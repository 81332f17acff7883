package graft.text

import graft.model.{Silver, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared text-corpus primitives for the training-data-pipeline operators
  * (dedup / text analysis / similarity): tokenization, shingling, and the
  * integer dictionaries that make sketch algorithms (MinHash, SimHash,
  * fingerprints) bit-exact reproducible in the DuckDB oracle.
  *
  * ORACLE-DETERMINISM DESIGN: sketch algorithms need `token -> int` hashes.
  * Spark's `hash`/`xxhash64` are not reproducible in DuckDB, so the
  * oracle-checked operators derive token ids from a *rank dictionary*
  * (`row_number` over the sorted distinct vocabulary) and then apply an
  * affine hash family `h_j(x) = (a_j*x + b_j) mod P` — pure 64-bit integer
  * arithmetic, identical in any engine.
  *
  * SCALE POSTURE (100 TB): a rank dictionary is only viable while the
  * vocabulary is dimension-sized (consumers broadcast it into joins; its
  * CONSTRUCTION is already scale-clean — the ranking rides
  * [[graft.plans.GlobalRank]]'s range-partitioned two-phase shape, never
  * a single-partition window). At real scale you swap
  * `wid`/`sid` for `pmod(xxhash64(token), P)` — same downstream algebra, no
  * dictionary, no shuffle; [[graft.dedup.Dedup.minhashPairsXxhash]] is that
  * variant (bench-only, since DuckDB can't replay xxhash64).
  */
object Corpus {
  /** Modulus for all affine hash families: prime, small enough that every
    * intermediate (`P*a_j + b_j`) stays far inside Long range. */
  val P = 1000003L

  def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)

  /** Tokenize-once silver: the documents table with the split `words`
    * array attached, memoized. The whole text family consumes tokens or
    * text — t1/t2/t3/t5/t6/t8, the shingle relations, exact dedup, and
    * the c1/c2 compositions — and without sharing, each operator
    * re-reads parquet and re-splits every document. At 100 TB this is
    * the tokenized bronze table written once at ingest and read by every
    * corpus job (the same materialize-once move as Dedup's shingle
    * silver). Every caller shares one handle; Bench warms it with the
    * other silvers. */
  def docsTok(spark: SparkSession, dir: String): DataFrame =
    Silver.memoize(spark, "docsTok", dir) {
      docs(spark, dir).withColumn("words", wordsCol)
    }

  /** Whitespace tokens, in document order. Documents are single-space
    * separated by construction (TESTDATA.md); the regex keeps this robust
    * to incidental runs of whitespace without changing token content. */
  def wordsCol: Column = split(col("text"), "\\s+")

  val wordsSqlExpr = "string_split_regex(text, '\\s+')"

  /** Distinct corpus vocabulary with rank ids (1-based, sorted order).
    * Vocabulary GROWS with the corpus (unbounded token space), so the
    * ranking rides [[graft.plans.GlobalRank.withRowNumber]] — the
    * range-partitioned two-phase shape — instead of a bare
    * `row_number()` window that would funnel the whole dictionary
    * through one partition at 100 TB. Ids are identical either way
    * (the order is total: distinct words). */
  def wordDict(spark: SparkSession, dir: String): DataFrame =
    Silver.memoize(spark, "wordDict", dir) {
      // memoized like docsTok: the dictionary is the ingest-time vocab
      // silver every hashed-feature consumer (t4 family, d5, p21) reads;
      // un-memoized, each CALL re-ran the explode+distinct+GlobalRank
      // rank jobs (GlobalRank numbers eagerly), a fixed multi-job tax
      // per consuming query at any data size
      graft.plans.GlobalRank.withRowNumber(
        docsTok(spark, dir)
          .select(explode(col("words")).as("word")).distinct(),
        "wid", col("word").asc)
    }

  val wordDictSql: String =
    s"""SELECT word, CAST(row_number() OVER (ORDER BY word) AS BIGINT) AS wid
       |FROM (SELECT DISTINCT unnest($wordsSqlExpr) AS word FROM documents)""".stripMargin

  /** Word 3-shingles (space-joined) over an ALREADY-BOUND words-array
    * column, in document order, duplicates kept. The argument must be a
    * plain attribute (not the `split` expression itself): expressions
    * inside a higher-order-function lambda are re-evaluated PER ELEMENT,
    * so inlining `split` here costs O(words² · regex) per document — the
    * round-2 bench bottleneck. Callers project `wordsCol.as("ws")` first;
    * CollapseProject keeps the alias because it is non-cheap and used
    * multiple times, so the split runs once per row. */
  def shinglesOf(ws: Column): Column =
    // Guard docs with < 3 words: sequence(0, size-3) would run DESCENDING
    // (e.g. [0,-1] for 1 word) and element_at(ws, 0) throws — the same
    // short-doc crash ADVICE r2 flagged on t7's bigrams. The DuckDB twin's
    // range(1, len-1) is empty for short docs, so both engines now agree:
    // no shingles. (The synthetic corpus has no short docs; real ones do.)
    when(size(ws) >= 3,
      transform(sequence(lit(0), size(ws) - lit(3)),
        i => concat_ws(" ",
          element_at(ws, i + lit(1)), element_at(ws, i + lit(2)), element_at(ws, i + lit(3)))))
      .otherwise(array().cast("array<string>"))

  val shinglesSqlExpr: String = {
    val ws = wordsSqlExpr
    s"[list_extract($ws, i) || ' ' || list_extract($ws, i+1) || ' ' || list_extract($ws, i+2) " +
      s"for i in range(1, len($ws) - 1)]"
  }

  /** (doc_id, shingle) with per-document distinct shingles (set semantics —
    * what Jaccard/MinHash operate on). */
  def docShingles(spark: SparkSession, dir: String): DataFrame =
    docsTok(spark, dir) // `words` is a plain attribute — see shinglesOf
      .select(col("doc_id"), explode(array_distinct(shinglesOf(col("words")))).as("shingle"))

  val docShinglesSql: String =
    s"SELECT doc_id, unnest(list_distinct($shinglesSqlExpr)) AS shingle FROM documents"

  /** Distinct corpus shingle dictionary with rank ids (see class doc for
    * why rank ids instead of hashes). */
  def shingleDict(spark: SparkSession, dir: String): DataFrame =
    graft.plans.GlobalRank.withRowNumber(
      docShingles(spark, dir).select(col("shingle")).distinct(),
      "sid", col("shingle").asc)

  val shingleDictSql: String =
    s"""SELECT shingle, CAST(row_number() OVER (ORDER BY shingle) AS BIGINT) AS sid
       |FROM (SELECT DISTINCT shingle FROM ($docShinglesSql))""".stripMargin

}
