package graft.dedup

import graft.model.{Silver, Tables}
import graft.text.Corpus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for an LLM training-data pipeline over the
  * `documents` table: exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  * (Embedding-cosine near-dup lives in [[graft.vector.Similarity]] next to
  * the other vector ops.)
  *
  * Scale posture (the whole point of these shapes at 100 TB):
  *  - Everything is LONG-FORM relational — (doc, token) / (doc, j, minhash)
  *    rows, hash-partitionable on doc_id, never a per-doc driver loop and
  *    never an order-sensitive collect_list.
  *  - Candidate generation is always sub-quadratic: LSH band buckets
  *    (MinHash), byte bands (SimHash), shared-token inverted index
  *    (Jaccard). The only pairwise work done is per-candidate.
  *  - Sketch hashes are affine families `(a_j*x + b_j) mod P` over rank-
  *    dictionary ids — pure 64-bit integer math, bit-identical in the
  *    DuckDB oracle (see [[Corpus]] for the xxhash64 swap at real scale,
  *    where the rank dictionary's global sort is the thing you drop).
  */
object Dedup {

  // ---------------------------------------------------------------- d1

  /** d1: exact dedup — canonical-keeper assignment per identical text.
    * keep_id = min(doc_id) of the group (the reference-style "first upload
    * wins" idempotent overwrite, write-metrics:104, generalized to content
    * identity). One hash aggregation on the text key; at 100 TB you group
    * on xxhash64(text) and resolve the (vanishingly rare) collisions with
    * a second exact pass. */
  /** d24: PARAGRAPH-LEVEL (chunk-level) exact dedup — d1's algebra at
    * SUB-document granularity, the Dolma/C4-style pass that catches
    * shared paragraphs inside otherwise-distinct documents (quoted
    * passages, navigation blocks, licence footers) that whole-document
    * dedup (d1) and even near-dup clustering (d6) can miss when the
    * surrounding text differs. Documents split into NON-overlapping
    * 64-token chunks (t12's slice rule with stride = window — an
    * overlapping stride would duplicate by construction); tail chunks
    * under 8 tokens are excluded (trivial-match noise). A chunk is
    * `duplicated` when its exact text occurs anywhere else in the
    * corpus. Per doc: chunk counts, duplicated-chunk count, coverage
    * in exact milli, and the ≥30% flag a line-level filter acts on.
    * Shape: one chunk-text hash agg (map-side combinable) joined back
    * on the same key — both sides ride one chunk_text exchange — then
    * a doc_id rollup. */
  def chunkDedup(spark: SparkSession, dir: String,
                 window: Int = 64, minTokens: Int = 8): DataFrame = {
    val chunks = Corpus.docsTok(spark, dir)
      .select(col("doc_id"), col("words"),
        // empty-words guard: sequence(0, -1, w) THROWS (illegal
        // boundaries), and the regex tokenizer never emitting a
        // 0-length array is a property of the current tokenizer, not
        // of this operator — explode of the empty array drops the row,
        // which is the correct semantics (no chunks)
        explode(when(size(col("words")) > 0,
            sequence(lit(0), size(col("words")) - 1, lit(window)))
          .otherwise(array().cast("array<int>")))
          .as("start_tok"))
      .select(col("doc_id"),
        slice(col("words"), col("start_tok") + 1, lit(window)).as("w"))
      .filter(size(col("w")) >= minTokens)
      .select(col("doc_id"), concat_ws(" ", col("w")).as("chunk_text"))
    val freq = chunks.groupBy(col("chunk_text"))
      .agg(count(lit(1)).as("n_occurrences"))
    chunks.join(freq, "chunk_text")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_occurrences") > 1, 1L).otherwise(0L))
          .cast("long").as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        expr("n_dup_chunks * 1000 DIV n_chunks").as("dup_milli"),
        (col("n_dup_chunks") * 10 >= col("n_chunks") * 3).as("flagged"))
      .orderBy(col("doc_id"))
  }

  def chunkDedupSql(window: Int = 64, minTokens: Int = 8): String = {
    val ws = Corpus.wordsSqlExpr
    s"""WITH toks AS (
       |  SELECT doc_id, $ws AS ws FROM documents),
       |chunks AS (
       |  SELECT doc_id,
       |    array_to_string(list_slice(ws, start_tok + 1,
       |      LEAST(start_tok + $window, len(ws))), ' ') AS chunk_text
       |  FROM (SELECT doc_id, ws,
       |          unnest(range(0, len(ws), $window)) AS start_tok
       |        FROM toks)
       |  WHERE len(list_slice(ws, start_tok + 1,
       |      LEAST(start_tok + $window, len(ws)))) >= $minTokens),
       |freq AS (
       |  SELECT chunk_text, CAST(COUNT(*) AS BIGINT) AS n_occurrences
       |  FROM chunks GROUP BY chunk_text)
       |SELECT c.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(CASE WHEN f.n_occurrences > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_chunks,
       |  CAST(SUM(CASE WHEN f.n_occurrences > 1 THEN 1 ELSE 0 END) * 1000
       |    // COUNT(*) AS BIGINT) AS dup_milli,
       |  CAST(SUM(CASE WHEN f.n_occurrences > 1 THEN 1 ELSE 0 END) * 10
       |    >= COUNT(*) * 3 AS BOOLEAN) AS flagged
       |FROM chunks c JOIN freq f USING (chunk_text)
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin
  }

  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    val groups = Corpus.docsTok(spark, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("group_size"))
    Corpus.docsTok(spark, dir)
      .join(groups, Seq("text"))
      .select(col("doc_id"), col("keep_id"), col("group_size"),
        (col("doc_id") =!= col("keep_id")).as("is_duplicate"))
      .orderBy(col("doc_id"))
  }

  val exactDedupSql: String =
    """WITH groups AS (
      |  SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS group_size
      |  FROM documents GROUP BY text)
      |SELECT d.doc_id, g.keep_id, g.group_size,
      |  d.doc_id <> g.keep_id AS is_duplicate
      |FROM documents d JOIN groups g USING (text)
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- d2

  /** 16 affine hash functions grouped into 4 bands of 4 rows; `w` is the
    * per-row weight 31^(j mod 4) used to combine a band's minhashes into
    * one band key order-independently (a weighted SUM — safe because
    * minhash < P so the weighted sum is injective enough for bucketing,
    * and aggregation order never matters for integer sums). The oracle SQL
    * keeps this long form (readable, fine at oracle scale); the Spark side
    * computes the identical values as 16 wide min-aggregates — see
    * [[signaturesWide]]. */
  private val hashParamsSql: String =
    """SELECT j, 37 + 101*j AS a, 17 + 61*j AS b, j // 4 AS band,
      |  CASE j % 4 WHEN 0 THEN 1 WHEN 1 THEN 31 WHEN 2 THEN 961 ELSE 29791 END AS w
      |FROM range(16) t(j)""".stripMargin

  /** (doc_id, sid) long-form distinct shingle ids. A SILVER: this subtree
    * (tokenize → explode → dict join) feeds signatures, the inverted-index
    * self-join (twice) and the size relation — without the leaf Spark
    * recomputes it per physical occurrence. At 100 TB the same move is a
    * materialized token table (write once, read by every dedup pass), not
    * an executor-memory copy. d2/d4 share one handle; re-calls are
    * no-ops. */
  private def docSids(spark: SparkSession, dir: String): DataFrame =
    Silver.memoize(spark, "docSids", dir) {
      Corpus.docShingles(spark, dir)
        .join(broadcast(Corpus.shingleDict(spark, dir)), Seq("shingle"))
        .select(col("doc_id"), col("sid"))
    }

  private val docSidsSql: String =
    s"""SELECT ds.doc_id, d.sid
       |FROM (${Corpus.docShinglesSql}) ds
       |JOIN (${Corpus.shingleDictSql}) d USING (shingle)""".stripMargin

  private val NumHashes = 16
  private def aj(j: Int): Long = 37L + 101L * j
  private def bj(j: Int): Long = 17L + 61L * j
  private val bandWeight = Array(1L, 31L, 961L, 29791L)

  /** Wide minhash signatures: (doc_id, mh0..mh15) via 16 `min` aggregates
    * in ONE groupBy(doc_id) — map-side partial aggregation reduces each
    * partition to |docs-in-partition| rows before the shuffle. (The naive
    * 16× hash-function crossJoin multiplies the shuffle by 16 and was the
    * bench bottleneck; a custom Catalyst Expression isn't needed — 16
    * codegen'd min aggregates are exactly as fast.) */
  private def signaturesWide(spark: SparkSession, dir: String): DataFrame =
    Silver.memoize(spark, "sigsWide", dir)(signaturesWideFrom(docSids(spark, dir)))

  /** d13's signatures: [[signaturesWide]] over the mod-P xxhash ids. */
  private def signaturesWideXx(spark: SparkSession, dir: String): DataFrame =
    Silver.memoize(spark, "sigsWideXx", dir)(signaturesWideFrom(sketchSidsXx(spark, dir)))

  private def signaturesWideFrom(ds: DataFrame): DataFrame = {
    val mins = (0 until NumHashes).map(j =>
      min((col("sid") * aj(j) + bj(j)) % lit(Corpus.P)).as(s"mh$j"))
    ds.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** (doc_id, band, bandkey) long form — a 4× explode of the tiny wide
    * signature relation (NOT of the token relation). */
  private def bandKeys(sigs: DataFrame): DataFrame = {
    val arr = array((0 until 4).map { b =>
      struct(lit(b.toLong).as("band"),
        (0 until 4).map(i => col(s"mh${4 * b + i}") * bandWeight(i)).reduce(_ + _)
          .as("bandkey"))
    }: _*)
    sigs.select(col("doc_id"), explode(arr).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bandkey").as("bandkey"))
  }

  private def signaturesSqlFrom(dsSql: String): String =
    s"""SELECT ds.doc_id, h.j, h.band, h.w,
       |  MIN((h.a * ds.sid + h.b) % ${Corpus.P}) AS mh
       |FROM ($dsSql) ds CROSS JOIN ($hashParamsSql) h
       |GROUP BY ds.doc_id, h.j, h.band, h.w""".stripMargin

  private val signaturesSql: String = signaturesSqlFrom(docSidsSql)

  /** Shared-shingle pair relation: (doc_a, doc_b, n_common) via the
    * inverted-index self-join — the sub-quadratic candidate generator for
    * Jaccard (only pairs that share >= 1 shingle materialize). */
  private def commonShinglesFrom(ds: DataFrame): DataFrame =
    ds.select(col("doc_id").as("doc_a"), col("sid"))
      .join(ds.select(col("doc_id").as("doc_b"), col("sid")), Seq("sid"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))

  private def commonShingles(spark: SparkSession, dir: String): DataFrame =
    commonShinglesFrom(docSids(spark, dir))

  /** All the d-family oracle SQL below is parameterized over the
    * (doc_id, sid) relation so the xxhash twins (whose id assignment
    * DuckDB cannot compute) can swap in a read_parquet() over the
    * materialized [[graft.model.OracleSilver]] id silver — the algebra
    * strings stay literally shared with the dictionary-id family. */
  private def commonShinglesSqlFrom(dsSql: String): String =
    s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |FROM ($dsSql) a JOIN ($dsSql) b
       |  ON a.sid = b.sid AND a.doc_id < b.doc_id
       |GROUP BY 1, 2""".stripMargin

  private val commonShinglesSql: String = commonShinglesSqlFrom(docSidsSql)

  /** d2: MinHash + LSH near-dup candidates — 16 minhashes, 4 bands × 4
    * rows; docs sharing any band bucket become candidates; per candidate:
    * the LSH evidence (bands in common), the signature-estimated Jaccard
    * (equal minhashes / 16), and the exact shingle Jaccard for reference.
    * Self-join happens on (band, bandhash) buckets, NOT all pairs. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    Silver.memoize(spark, "minhashLsh", dir) {
      minhashLshFrom(signaturesWide(spark, dir), docSids(spark, dir))
    }

  /** The d2 pipeline over explicit relations: `sigs` is the wide
    * signature silver (it feeds the bands and both estimate sides),
    * `identSids` the exact-set side (any id width). d2 passes the
    * dictionary family, d13 the xxhash one (mod-P sketch ids, raw 64-bit
    * identity). */
  private def minhashLshFrom(sigs: DataFrame, identSids: DataFrame): DataFrame = {
    val bands = bandKeys(sigs)
    val cands = bands.select(col("doc_id").as("doc_a"), col("band"), col("bandkey"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("bandkey")),
        Seq("band", "bandkey"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common_bands"))
    val sa = sigs.select(col("doc_id").as("doc_a") +:
      (0 until NumHashes).map(j => col(s"mh$j").as(s"a_mh$j")): _*)
    val sb = sigs.select(col("doc_id").as("doc_b") +:
      (0 until NumHashes).map(j => col(s"mh$j").as(s"b_mh$j")): _*)
    val nEq = (0 until NumHashes)
      .map(j => when(col(s"a_mh$j") === col(s"b_mh$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = cands.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_common_bands"),
        nEq.as("n_eq_minhash"))
    val sizes = identSids.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // Exact intersections CANDIDATE-RESTRICTED (join the shingle relation
    // to the candidate pairs, not to itself): the full inverted-index
    // self-join is |pairs sharing a shingle| — fine on real corpora, but
    // it must never be on d2's critical path when LSH already cut the
    // candidate set. (d4 keeps the full relation: exact all-pair Jaccard
    // IS its semantic.)
    val ds = identSids
    val inter = cands.select(col("doc_a"), col("doc_b"))
      .join(ds.select(col("doc_id").as("doc_a"), col("sid")), Seq("doc_a"))
      .join(ds.select(col("doc_id").as("doc_b"), col("sid")), Seq("doc_b", "sid"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    est
      .join(inter, Seq("doc_a", "doc_b"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_common_bands"), col("n_eq_minhash"),
        (col("n_eq_minhash").cast("double") / 16.0).as("est_jaccard"),
        (col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")).cast("double")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private def minhashLshSqlFrom(sketchSql: String, identSql: String): String =
    s"""WITH sigs AS (${signaturesSqlFrom(sketchSql)}),
       |bands AS (
       |  SELECT doc_id, band, SUM(mh * w) AS bandkey
       |  FROM sigs GROUP BY doc_id, band),
       |cands AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common_bands
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bandkey = b.bandkey AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |est AS (
       |  SELECT c.doc_a, c.doc_b, c.n_common_bands,
       |    SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS n_eq_minhash
       |  FROM cands c
       |  JOIN sigs sa ON sa.doc_id = c.doc_a
       |  JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.j = sa.j
       |  GROUP BY 1, 2, 3),
       |ds AS ($identSql),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
       |  FROM cands c
       |  JOIN ds a ON a.doc_id = c.doc_a
       |  JOIN ds b ON b.doc_id = c.doc_b AND b.sid = a.sid
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ($identSql) GROUP BY doc_id)
       |SELECT e.doc_a, e.doc_b, e.n_common_bands,
       |  CAST(e.n_eq_minhash AS BIGINT) AS n_eq_minhash,
       |  CAST(e.n_eq_minhash AS DOUBLE) / 16.0 AS est_jaccard,
       |  CAST(cm.n_common AS DOUBLE)
       |    / CAST(za.sz + zb.sz - cm.n_common AS DOUBLE) AS jaccard
       |FROM est e
       |JOIN inter cm ON cm.doc_a = e.doc_a AND cm.doc_b = e.doc_b
       |JOIN sizes za ON za.doc_id = e.doc_a
       |JOIN sizes zb ON zb.doc_id = e.doc_b
       |ORDER BY e.doc_a, e.doc_b""".stripMargin

  val minhashLshSql: String = minhashLshSqlFrom(docSidsSql, docSidsSql)

  // ---------------------------------------------------------------- d3

  private val A32 = 2654435761L  // Knuth multiplicative constants, < 2^32
  private val B32 = 2246822519L
  private val P32 = 4294967291L  // largest 32-bit prime

  /** d3: 32-bit SimHash per document over word-frequency features:
    * h(wid) = (A*wid + B) mod P32; weight of bit b = Σ_tokens
    * cnt * (bit_b(h) ? 1 : -1); signature bit b set iff weight > 0.
    * Emitted with the 4 byte-bands used for Hamming-neighbor bucketing at
    * scale (near-dups within Hamming distance d share >= 1 of 4 bytes for
    * d <= 3 by pigeonhole). Pure map-side + one (doc_id,bit) aggregation. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    Silver.memoize(spark, "simhash", dir) { simhashBuild(spark, dir) }

  private def simhashBuild(spark: SparkSession, dir: String): DataFrame = {
    val tokens = Corpus.docsTok(spark, dir)
      .select(col("doc_id"), explode(col("words")).as("word"))
      .join(broadcast(Corpus.wordDict(spark, dir)), Seq("word"))
      .groupBy(col("doc_id"), col("wid"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h", (lit(A32) * col("wid") + lit(B32)) % lit(P32))
    val bits = spark.range(32).select(col("id").cast("long").as("bit"),
      expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))").as("pw"))
    val weights = tokens.crossJoin(broadcast(bits))
      .groupBy(col("doc_id"), col("bit"), col("pw"))
      .agg(sum(col("cnt") *
        (expr("h div pw") % 2L * 2L - 1L)).as("weight"))
    weights.groupBy(col("doc_id"))
      .agg(sum(when(col("weight") > 0, col("pw")).otherwise(0L)).as("simhash"))
      .select(col("doc_id"), col("simhash"),
        (expr("simhash div 1") % 256L).as("band0"),
        (expr("simhash div 256") % 256L).as("band1"),
        (expr("simhash div 65536") % 256L).as("band2"),
        (expr("simhash div 16777216") % 256L).as("band3"))
      .orderBy(col("doc_id"))
  }

  /** The SimHash bit algebra over an explicit (doc_id, h, cnt) token-hash
    * CTE — shared by d3 (dictionary ids hashed in-SQL) and d11 (xxhash64
    * token hashes read from the oracle silver). */
  private def simhashSqlFromTokens(tokensSql: String): String =
    s"""WITH tokens AS ($tokensSql),
       |bits AS (SELECT b AS bit, CAST(2**b AS BIGINT) AS pw FROM range(32) t(b)),
       |weights AS (
       |  SELECT doc_id, bit, pw,
       |    SUM(cnt * ((h // pw) % 2 * 2 - 1)) AS weight
       |  FROM tokens CROSS JOIN bits
       |  GROUP BY doc_id, bit, pw),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN weight > 0 THEN pw ELSE 0 END) AS BIGINT) AS simhash
       |  FROM weights GROUP BY doc_id)
       |SELECT doc_id, simhash,
       |  (simhash // 1) % 256 AS band0,
       |  (simhash // 256) % 256 AS band1,
       |  (simhash // 65536) % 256 AS band2,
       |  (simhash // 16777216) % 256 AS band3
       |FROM sig ORDER BY doc_id""".stripMargin

  val simhashSql: String = simhashSqlFromTokens(
    s"""SELECT doc_id, wid, COUNT(*) AS cnt,
       |    ($A32 * wid + $B32) % $P32 AS h
       |  FROM (
       |    SELECT t.doc_id, d.wid
       |    FROM (SELECT doc_id, unnest(${Corpus.wordsSqlExpr}) AS word FROM documents) t
       |    JOIN (${Corpus.wordDictSql}) d USING (word))
       |  GROUP BY doc_id, wid""".stripMargin)

  /** The DISTINCT-SIGNATURE candidate engine behind d8 and d22: hash
    * pairs (sh_a < sh_b) sharing at least one of the 4 signature bytes,
    * with their exact Hamming distance.
    *
    * Running the band self-join over DISTINCT simhashes — not docs —
    * is the scale fix the r10 sf1.0 slope audit demanded: duplicated
    * content (exact-dup groups, boilerplate, the 10× replica) piles
    * identical signatures into the same band cells, so a doc-grain
    * band join grows QUADRATICALLY in the duplication factor (d22
    * measured 90× at 10× data). Distinct signatures don't multiply
    * with duplication, the Hamming filter runs BEFORE any expansion
    * back to docs, and doc-grain pairs are recovered exactly by the
    * multiplicity algebra (cross-expand members of each hash pair;
    * same-hash pairs are within-group id pairs). This is the standard
    * production order: exact-collapse, then near-dup. */
  private def simhashHashPairs(spark: SparkSession, dir: String,
                               maxHamming: Int): DataFrame = {
    val distinctSig = simhash(spark, dir)
      .select(col("simhash"), col("band0"), col("band1"), col("band2"),
        col("band3")).distinct()
    val bands = distinctSig.select(col("simhash"),
      posexplode(array(col("band0"), col("band1"), col("band2"), col("band3")))
        .as(Seq("pos", "byte_band")))
    bands.select(col("simhash").as("sh_a"), col("pos"), col("byte_band"))
      .join(bands.select(col("simhash").as("sh_b"), col("pos"),
        col("byte_band")), Seq("pos", "byte_band"))
      .filter(col("sh_a") < col("sh_b"))
      // Hamming filter BEFORE the pair distinct: both signatures are in
      // the joined row, so the filter is map-side and the distinct's
      // shuffle carries only qualifying pairs — a hot band cell prunes
      // in place instead of flooding the exchange
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("sh_a"), col("sh_b"), col("hamming")).distinct()
  }

  /** (simhash, doc_id) membership — the expansion side of the
    * distinct-signature engine. */
  private def simhashMembers(spark: SparkSession, dir: String): DataFrame =
    simhash(spark, dir).select(col("simhash"), col("doc_id"))

  /** d8: SimHash near-dup pairs — complete the d3 pipeline: candidates
    * share at least one of the 4 signature bytes (pigeonhole: Hamming
    * distance ≤ 3 guarantees a shared byte; ≤ threshold generally needs
    * it with high probability), then exact Hamming distance via
    * `bit_count(xor)` (built-in, codegen'd — no custom expression
    * needed). The band self-join runs at DISTINCT-signature grain (see
    * [[simhashHashPairs]]); doc pairs are recovered exactly by member
    * expansion, so the output is bit-identical to the doc-grain join
    * while duplicated content can no longer square the candidate set. */
  def simhashPairs(spark: SparkSession, dir: String,
                   maxHamming: Int = 8): DataFrame = {
    val members = simhashMembers(spark, dir)
    val cross = simhashHashPairs(spark, dir, maxHamming)
      .join(members.select(col("simhash").as("sh_a"), col("doc_id").as("id_a")),
        Seq("sh_a"))
      .join(members.select(col("simhash").as("sh_b"), col("doc_id").as("id_b")),
        Seq("sh_b"))
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"), col("hamming"))
    val same = members.select(col("simhash"), col("doc_id").as("doc_a"))
      .join(members.select(col("simhash"), col("doc_id").as("doc_b")),
        Seq("simhash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(0L).as("hamming"))
    cross.unionAll(same)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def simhashPairsSql(maxHamming: Int = 8): String =
    s"""WITH sig AS ($simhashSql),
       |bands AS (
       |  SELECT doc_id, simhash, 0 AS pos, band0 AS byte_band FROM sig
       |  UNION ALL SELECT doc_id, simhash, 1, band1 FROM sig
       |  UNION ALL SELECT doc_id, simhash, 2, band2 FROM sig
       |  UNION ALL SELECT doc_id, simhash, 3, band3 FROM sig),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.simhash AS sh_a, b.simhash AS sh_b
       |  FROM bands a JOIN bands b
       |    ON a.pos = b.pos AND a.byte_band = b.byte_band AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
       |FROM cands
       |WHERE bit_count(xor(sh_a, sh_b)) <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin

  /** d22: HAMMING-DISTANCE PROFILE of the SimHash candidate space — how
    * many band-candidate pairs sit at each Hamming distance, with the
    * running admission count: the operating curve that CALIBRATES d8's
    * `maxHamming` threshold the way d21's bands×rows sweep calibrates
    * d2's LSH config (cum_pairs at distance d = exactly how many pairs a
    * threshold of d admits — pick the knee before the count explodes).
    * Runs over the UNFILTERED candidate relation (every pair the byte-
    * band blocking can see, the pigeonhole-complete set for d ≤ 8 and
    * the observable sample beyond), so the curve's low-d prefix is
    * exact, not sampled. One |pairs|-sized distance rollup; the running
    * sum is a window over ≤ 65 rows — bounded whatever the corpus. */
  def hammingProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("hamming"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // MULTIPLICITY ALGEBRA, never pair expansion: the full (≤64)
    // profile is quadratic in the duplication factor if materialized
    // doc-grain (the r10 sf1.0 flag: 90× at 10× data). count(d) =
    // Σ m(s)·m(t) over distinct hash pairs at distance d, plus the
    // C(m,2) same-hash mass at d=0 — exactly the doc-grain counts,
    // computed from relations that don't grow with duplication
    // (hash pairs) or grow linearly (the multiplicity table).
    val mult = simhashMembers(spark, dir)
      .groupBy(col("simhash")).agg(count(lit(1)).as("m"))
    val cross = simhashHashPairs(spark, dir, maxHamming = 64)
      .join(mult.select(col("simhash").as("sh_a"), col("m").as("m_a")),
        Seq("sh_a"))
      .join(mult.select(col("simhash").as("sh_b"), col("m").as("m_b")),
        Seq("sh_b"))
      .groupBy(col("hamming"))
      .agg(sum(col("m_a") * col("m_b")).cast("long").as("n_pairs"))
    val same = mult
      .agg(sum(expr("m * (m - 1) DIV 2")).cast("long").as("n_pairs"))
      .select(lit(0L).as("hamming"), col("n_pairs"))
      .filter(col("n_pairs") > 0)
    cross.unionByName(same)
      .groupBy(col("hamming"))
      .agg(sum(col("n_pairs")).cast("long").as("n_pairs"))
      .withColumn("cum_pairs", sum(col("n_pairs")).over(w))
      .select(col("hamming"), col("n_pairs"), col("cum_pairs"))
      .orderBy(col("hamming"))
  }

  val hammingProfileSql: String =
    s"""WITH pairs AS (${simhashPairsSql(maxHamming = 64)}),
       |counts AS (
       |  SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |  FROM pairs GROUP BY 1)
       |SELECT hamming, n_pairs,
       |  CAST(SUM(n_pairs) OVER (ORDER BY hamming
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_pairs
       |FROM counts ORDER BY hamming""".stripMargin

  // ---------------------------------------------------------------- d4

  /** d4: exact n-gram (3-shingle) Jaccard near-dup pairs above 0.2 —
    * inverted-index join (pairs sharing >= 1 shingle), never all-pairs.
    * |A ∪ B| = |A| + |B| − |A ∩ B| from per-doc set sizes. */
  def ngramJaccard(spark: SparkSession, dir: String,
                   threshold: Double = 0.2): DataFrame =
    Silver.memoize(spark, s"ngramJaccard:$threshold", dir) {
      ngramJaccardFrom(docSids(spark, dir), threshold)
    }

  private def ngramJaccardFrom(ds: DataFrame, threshold: Double): DataFrame = {
    val sizes = ds.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    commonShinglesFrom(ds)
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("size_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("size_b")), Seq("doc_b"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("size_a") + col("size_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("size_a"), col("size_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private def ngramJaccardSqlFrom(dsSql: String, threshold: Double): String =
    s"""WITH common AS (${commonShinglesSqlFrom(dsSql)}),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ($dsSql) GROUP BY doc_id)
       |SELECT c.doc_a, c.doc_b, c.n_common,
       |  za.sz AS size_a, zb.sz AS size_b,
       |  CAST(c.n_common AS DOUBLE) / CAST(za.sz + zb.sz - c.n_common AS DOUBLE) AS jaccard
       |FROM common c
       |JOIN sizes za ON za.doc_id = c.doc_a
       |JOIN sizes zb ON zb.doc_id = c.doc_b
       |WHERE CAST(c.n_common AS DOUBLE) / CAST(za.sz + zb.sz - c.n_common AS DOUBLE) >= $threshold
       |ORDER BY c.doc_a, c.doc_b""".stripMargin

  def ngramJaccardSql(threshold: Double = 0.2): String =
    ngramJaccardSqlFrom(docSidsSql, threshold)

  /** d17: CONTAINMENT dedup — the asymmetric relation Jaccard cannot
    * see: a short document embedded (near-)verbatim in a longer one
    * (quotes, re-posts with commentary, boilerplate-wrapped copies) has
    * high containment |S(a)∩S(b)| / |S(a)| while its Jaccard stays low
    * because the union is dominated by the longer side — so a
    * Jaccard-thresholded pipeline (d4/d6) ships the duplicate. One row
    * per ORDERED pair (contained, container) passing the threshold; the
    * verdict filter is integer-exact (n_common·100 ≥ pct·size, the d15
    * discipline) with the float ratios emitted for reporting only.
    * Candidates come from the SAME shingle inverted index as d4 — the
    * orientation step is a projection of the cached pair silver, so at
    * scale this adds zero joins beyond what d4 already paid. */
  def containmentPairs(spark: SparkSession, dir: String,
                       minPct: Int = 80): DataFrame = {
    // memoized: the orientation union below consumes the pair relation
    // TWICE — without the silver the inverted-index join would run twice
    // (it is the whole cost of this operator)
    val pairs = Silver.memoize(spark, "containmentBase", dir) {
      val ds = docSids(spark, dir)
      val sizes = ds.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      commonShinglesFrom(ds)
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("size_a")), Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("size_b")), Seq("doc_b"))
    }
    val oriented = pairs.select(
        col("doc_a").as("contained_doc"), col("doc_b").as("container_doc"),
        col("size_a").as("size_contained"), col("size_b").as("size_container"),
        col("n_common"))
      .unionByName(pairs.select(
        col("doc_b").as("contained_doc"), col("doc_a").as("container_doc"),
        col("size_b").as("size_contained"), col("size_a").as("size_container"),
        col("n_common")))
    oriented
      .filter(col("n_common") * lit(100L) >=
        lit(minPct.toLong) * col("size_contained"))
      .withColumn("containment",
        col("n_common").cast("double") / col("size_contained").cast("double"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("size_contained") + col("size_container") - col("n_common"))
          .cast("double"))
      .select(col("contained_doc"), col("container_doc"), col("n_common"),
        col("size_contained"), col("size_container"),
        col("containment"), col("jaccard"))
      .orderBy(col("contained_doc"), col("container_doc"))
  }

  def containmentPairsSql(minPct: Int = 80): String =
    s"""WITH common AS ($commonShinglesSql),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ($docSidsSql) GROUP BY doc_id),
       |p AS (
       |  SELECT c.doc_a, c.doc_b, c.n_common, za.sz AS size_a, zb.sz AS size_b
       |  FROM common c
       |  JOIN sizes za ON za.doc_id = c.doc_a
       |  JOIN sizes zb ON zb.doc_id = c.doc_b),
       |oriented AS (
       |  SELECT doc_a AS contained_doc, doc_b AS container_doc,
       |    size_a AS size_contained, size_b AS size_container, n_common
       |  FROM p
       |  UNION ALL
       |  SELECT doc_b, doc_a, size_b, size_a, n_common FROM p)
       |SELECT contained_doc, container_doc, n_common,
       |  size_contained, size_container,
       |  CAST(n_common AS DOUBLE) / CAST(size_contained AS DOUBLE) AS containment,
       |  CAST(n_common AS DOUBLE)
       |    / CAST(size_contained + size_container - n_common AS DOUBLE) AS jaccard
       |FROM oriented
       |WHERE n_common * 100 >= $minPct * size_contained
       |ORDER BY contained_doc, container_doc""".stripMargin

  /** d7: LSH quality evaluation — confusion counts of the MinHash
    * pipeline against exact Jaccard at threshold 0.5: true/false
    * positives among candidates (by estimated Jaccard), candidate pairs
    * the estimate missed, and true pairs LSH banding never surfaced
    * (recall loss). One row of integer counts — the eval harness a
    * production dedup pipeline runs per corpus before trusting a sketch
    * config. */
  def lshEval(spark: SparkSession, dir: String,
              threshold: Double = 0.5): DataFrame =
    lshEvalFrom(
      minhashLsh(spark, dir)
        .select(col("doc_a"), col("doc_b"), col("est_jaccard"), col("jaccard")),
      ngramJaccard(spark, dir, threshold).select(col("doc_a"), col("doc_b")),
      threshold)

  private def lshEvalFrom(cands: DataFrame, truePairs: DataFrame,
                          threshold: Double): DataFrame = {
    val missedByBanding = truePairs
      .join(cands.select(col("doc_a"), col("doc_b")), Seq("doc_a", "doc_b"), "left_anti")
    cands.agg(
        sum(when(col("est_jaccard") >= threshold && col("jaccard") >= threshold, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("est_jaccard") >= threshold && col("jaccard") < threshold, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("est_jaccard") < threshold && col("jaccard") >= threshold, 1L)
          .otherwise(0L)).as("fn_estimate"),
        count(lit(1)).as("n_candidates"))
      .crossJoin(missedByBanding.agg(count(lit(1)).as("fn_banding")))
      .select(col("tp"), col("fp"), col("fn_estimate"), col("fn_banding"),
        col("n_candidates"))
  }

  private def lshEvalSqlFrom(sketchSql: String, identSql: String,
                             threshold: Double): String =
    s"""WITH cands AS (
       |  SELECT doc_a, doc_b, est_jaccard, jaccard
       |  FROM (${minhashLshSqlFrom(sketchSql, identSql)})),
       |true_pairs AS (
       |  SELECT doc_a, doc_b FROM (${ngramJaccardSqlFrom(identSql, threshold)})),
       |missed AS (
       |  SELECT COUNT(*) AS fn_banding FROM true_pairs t
       |  WHERE NOT EXISTS (SELECT 1 FROM cands c
       |    WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b)),
       |conf AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN est_jaccard >= $threshold AND jaccard >= $threshold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN est_jaccard >= $threshold AND jaccard < $threshold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN est_jaccard < $threshold AND jaccard >= $threshold THEN 1 ELSE 0 END) AS BIGINT) AS fn_estimate,
       |    COUNT(*) AS n_candidates
       |  FROM cands)
       |SELECT conf.tp, conf.fp, conf.fn_estimate, missed.fn_banding, conf.n_candidates
       |FROM conf CROSS JOIN missed""".stripMargin

  def lshEvalSql(threshold: Double = 0.5): String =
    lshEvalSqlFrom(docSidsSql, docSidsSql, threshold)

  // ---------------------------------------------------------------- d6

  /** d6: near-dup CLUSTERS — connected components over the d4 Jaccard
    * graph (edges at >= 0.5), cluster id = min doc_id in the component,
    * every document labeled (singletons label themselves).
    *
    * The classic distributed CC algorithm: iterate label = min(label,
    * neighbors' labels) to fixpoint. Each round is one join + aggregate
    * (hash-partitioned on doc_id); rounds needed = component diameter
    * (near-dup clusters are shallow — a handful). The driver-side loop
    * carries only a convergence COUNT, never data. Oracle: DuckDB
    * replays the same closure with WITH RECURSIVE (UNION dedup
    * terminates it). */
  /** Memoized per (session, dir, threshold): the CC loop below runs
    * driver-side convergence ACTIONS at build time, so only the memo can
    * stop a second call from re-running the rounds. */
  def dupClusters(spark: SparkSession, dir: String,
                  threshold: Double = 0.5): DataFrame =
    Silver.memoize(spark, s"dupClusters:$threshold", dir) {
      dupClustersFrom(Corpus.docsTok(spark, dir),
        ngramJaccard(spark, dir, threshold).select(col("doc_a"), col("doc_b")))
    }.orderBy(col("doc_id"))

  /** Generic min-label connected components over (doc_id) vertices and
    * (doc_a, doc_b) edges — shared by d6/d10 (shingle edges) and v21's
    * semantic clusters (embedding near-dup edges). Returns an unordered
    * checkpointed leaf, which [[Silver.memoize]] keeps as-is. */
  private[graft] def dupClustersFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .cache()
    try {
      // LINEAGE TRUNCATION, not just caching: each round's plan must start
      // from the previous round's MATERIALIZED result, or the final label
      // relation carries the whole 20-round join lineage — and every later
      // action on it (d6, d10, c1, each bench iteration) re-optimizes that
      // deep tree on the DRIVER, seconds per query at any data size. The
      // classic iterative-graph fix (GraphX checkpoints the same way):
      // eager localCheckpoint pins each round's rows in executor storage
      // and replaces its plan with a shallow scan. At 100 TB the same move
      // writes rounds to durable storage every few iterations.
      var labels = docs
        .select(col("doc_id"), col("doc_id").as("label")).localCheckpoint()
      var converged = false
      var rounds = 0
      // run to CONVERGENCE, not to a silent round cap: one-hop min-label
      // propagation needs up-to-diameter rounds, and nearest-neighbor
      // edge relations (v21) form long chains where a fixed small cap
      // would emit split clusters with no error. The bound below is a
      // runaway backstop that FAILS LOUDLY instead of mis-clustering.
      val maxRounds = 1024
      while (!converged && rounds < maxRounds) {
        val viaNeighbors = edges
          .join(labels.select(col("doc_id").as("doc_b"), col("label").as("n_label")),
            Seq("doc_b"))
          .groupBy(col("doc_a").as("doc_id"))
          .agg(min(col("n_label")).as("min_n_label"))
        // carry the convergence bit in the round's own output (label
        // shrank iff some neighbor label was smaller) — the check is then
        // a filter over the checkpointed rows, not another join
        val next = labels.join(viaNeighbors, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("label"), coalesce(col("min_n_label"), col("label"))).as("label"),
            (col("min_n_label") < col("label")).as("changed"))
          .localCheckpoint()
        converged = next.filter(col("changed")).isEmpty
        labels = next.select(col("doc_id"), col("label"))
        rounds += 1
      }
      require(converged,
        s"component labeling did not converge in $maxRounds rounds — " +
          "refusing to emit partially-propagated clusters")
      val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, Seq("label"))
        .select(col("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
        // doc-count-sized label relation, read by both the d6 key and c1 —
        // checkpointed for the same shallow-plan reason as the rounds
        .localCheckpoint()
    } finally edges.unpersist() // the labels leaf no longer reads it
  }

  /** d25: DUPLICATION-INFLATION report — the one-row answer to "what
    * does duplication cost this corpus": how many near-dup clusters
    * exist, how many docs are redundant copies (cluster members that
    * are not the canonical keeper), and the token mass those copies
    * carry — the exact figure an epoch of training would re-see, and
    * the headline number a dedup run is judged by (wasted_milli =
    * wasted tokens per mille of the corpus). A projection + single
    * aggregate over the memoized d6 label relation joined to doc
    * lengths. */
  def dupInflation(spark: SparkSession, dir: String,
                   threshold: Double = 0.5): DataFrame = {
    val labels = dupClusters(spark, dir, threshold)
    val toks = Corpus.docsTok(spark, dir)
      .select(col("doc_id"), size(col("words")).cast("long").as("n_toks"))
    labels.join(toks, "doc_id")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(when(col("cluster_size") > 1, col("cluster_id")))
          .as("n_dup_clusters"),
        sum(when(col("cluster_size") > 1 && col("doc_id") =!= col("cluster_id"),
          1L).otherwise(0L)).cast("long").as("n_redundant_docs"),
        sum(col("n_toks")).cast("long").as("total_tokens"),
        sum(when(col("cluster_size") > 1 && col("doc_id") =!= col("cluster_id"),
          col("n_toks")).otherwise(lit(0L))).cast("long").as("wasted_tokens"))
      .withColumn("wasted_milli",
        expr("wasted_tokens * 1000 DIV total_tokens"))
  }

  def dupInflationSql(threshold: Double = 0.5): String =
    s"""WITH clusters AS (${dupClustersSql(threshold)}),
       |toks AS (
       |  SELECT doc_id, CAST(len(${Corpus.wordsSqlExpr}) AS BIGINT) AS n_toks
       |  FROM documents),
       |j AS (
       |  SELECT c.doc_id, c.cluster_id, c.cluster_size, t.n_toks
       |  FROM clusters c JOIN toks t USING (doc_id)),
       |agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(COUNT(DISTINCT CASE WHEN cluster_size > 1
       |      THEN cluster_id END) AS BIGINT) AS n_dup_clusters,
       |    CAST(SUM(CASE WHEN cluster_size > 1 AND doc_id <> cluster_id
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_redundant_docs,
       |    CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       |    CAST(SUM(CASE WHEN cluster_size > 1 AND doc_id <> cluster_id
       |      THEN n_toks ELSE 0 END) AS BIGINT) AS wasted_tokens
       |  FROM j)
       |SELECT *, wasted_tokens * 1000 // total_tokens AS wasted_milli
       |FROM agg""".stripMargin

  private def dupClustersSqlFrom(dsSql: String, threshold: Double): String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM (${ngramJaccardSqlFrom(dsSql, threshold)})),
       |edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM edges
       |  UNION
       |  SELECT r.src, e.doc_b AS dst
       |  FROM reach r JOIN edges e ON r.dst = e.doc_a),
       |labels AS (
       |  SELECT d.doc_id,
       |    LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS cluster_id
       |  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
       |  GROUP BY d.doc_id),
       |sizes AS (
       |  SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY cluster_id)
       |SELECT l.doc_id, l.cluster_id, s.cluster_size
       |FROM labels l JOIN sizes s USING (cluster_id)
       |ORDER BY l.doc_id""".stripMargin

  def dupClustersSql(threshold: Double = 0.5): String =
    dupClustersSqlFrom(docSidsSql, threshold)

  // ------------------------------------------------- xxhash scale variant

  /** (doc_id, sid) with RAW 64-bit xxhash64 shingle ids — the 100 TB id
    * assignment: no vocabulary dictionary, no global sort, no shuffle
    * beyond the token explode itself. Exact Jaccard and connected
    * components only need set IDENTITY (not the bounded range the affine
    * minhash family needs), so the full 64-bit hash applies unmodified
    * and collisions are ~|shingles|²/2⁶⁴ — negligible at any corpus size
    * (DedupSimilaritySpec asserts pair/cluster equality with the
    * dictionary variants on the test corpus).
    *
    * Materialized as an ORACLE SILVER (the m12 discipline): DuckDB has
    * no xxhash64, but once the id assignment is parquet bytes both
    * engines can read, the ENTIRE downstream candidate/cluster/eval
    * algebra joins the hash gate — the d-family twins stopped being
    * rows-only in r13. */
  private def docSidsXx(spark: SparkSession, dir: String): DataFrame =
    graft.model.OracleSilver.materialize(spark, "xx_ident_sids", dir) {
      Corpus.docShingles(spark, dir)
        .select(col("doc_id"), xxhash64(col("shingle")).as("sid"))
    }

  private def xxIdentSidsSql: String =
    s"SELECT doc_id, sid FROM read_parquet('${graft.model.OracleSilver.sqlGlob("xx_ident_sids")}')"

  /** (doc_id, sid) with xxhash64-mod-P shingle ids — the bounded-range
    * id family the affine minhashes need; same oracle-silver contract. */
  private def sketchSidsXx(spark: SparkSession, dir: String): DataFrame =
    graft.model.OracleSilver.materialize(spark, "xx_sketch_sids", dir) {
      Corpus.docShingles(spark, dir)
        .select(col("doc_id"),
          pmod(xxhash64(col("shingle")), lit(Corpus.P)).as("sid"))
    }

  private def xxSketchSidsSql: String =
    s"SELECT doc_id, sid FROM read_parquet('${graft.model.OracleSilver.sqlGlob("xx_sketch_sids")}')"

  /** d9: scale twin of d4 — exact 3-shingle Jaccard pairs over xxhash64
    * ids, hash-gated via the id silver (value-equality with d4 is
    * additionally spec-asserted). */
  def ngramJaccardXxhash(spark: SparkSession, dir: String,
                         threshold: Double = 0.2): DataFrame =
    Silver.memoize(spark, s"ngramJaccardXxhash:$threshold", dir) {
      ngramJaccardFrom(docSidsXx(spark, dir), threshold)
    }

  def ngramJaccardXxhashSql(threshold: Double = 0.2): String =
    ngramJaccardSqlFrom(xxIdentSidsSql, threshold)

  /** d10: scale twin of d6 — connected components over the d9 edge set.
    * With d5 (minhash), d9, and d10, every dictionary-bound dedup
    * operator has a no-global-sort path. Hash-gated via the d9 silver
    * (the oracle replays the closure with WITH RECURSIVE). */
  def dupClustersXxhash(spark: SparkSession, dir: String,
                        threshold: Double = 0.5): DataFrame =
    Silver.memoize(spark, s"dupClustersXxhash:$threshold", dir) {
      dupClustersFrom(Corpus.docsTok(spark, dir),
        ngramJaccardXxhash(spark, dir, threshold).select(col("doc_a"), col("doc_b")))
    }.orderBy(col("doc_id"))

  def dupClustersXxhashSql(threshold: Double = 0.5): String =
    dupClustersSqlFrom(xxIdentSidsSql, threshold)

  /** d11: scale twin of d3 — SimHash with per-token hashes straight from
    * xxhash64 (mod the 32-bit prime), skipping the word dictionary. The
    * bit-weight algebra is identical; signatures differ from d3 only by
    * the hash family (sketches are implementation-defined), so the spec
    * asserts structural invariants (byte bands recombine, 32-bit range)
    * AND the oracle replays the full bit algebra over the materialized
    * token-hash silver (hash-gated since r13). */
  private def simhashTokensXx(spark: SparkSession, dir: String): DataFrame =
    graft.model.OracleSilver.materialize(spark, "xx_simhash_tokens", dir) {
      Corpus.docsTok(spark, dir)
        .select(col("doc_id"), explode(col("words")).as("word"))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("h", pmod(xxhash64(col("word")), lit(P32)))
        .select(col("doc_id"), col("h"), col("cnt"))
    }

  def simhashXxhash(spark: SparkSession, dir: String): DataFrame = {
    val tokens = simhashTokensXx(spark, dir)
    val bits = spark.range(32).select(col("id").cast("long").as("bit"),
      expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))").as("pw"))
    val weights = tokens.crossJoin(broadcast(bits))
      .groupBy(col("doc_id"), col("bit"), col("pw"))
      .agg(sum(col("cnt") *
        (expr("h div pw") % 2L * 2L - 1L)).as("weight"))
    weights.groupBy(col("doc_id"))
      .agg(sum(when(col("weight") > 0, col("pw")).otherwise(0L)).as("simhash"))
      .select(col("doc_id"), col("simhash"),
        (expr("simhash div 1") % 256L).as("band0"),
        (expr("simhash div 256") % 256L).as("band1"),
        (expr("simhash div 65536") % 256L).as("band2"),
        (expr("simhash div 16777216") % 256L).as("band3"))
      .orderBy(col("doc_id"))
  }

  def simhashXxhashSql(): String = simhashSqlFromTokens(
    s"SELECT doc_id, h, cnt FROM read_parquet('${graft.model.OracleSilver.sqlGlob("xx_simhash_tokens")}')")

  /** d5: the 100 TB MinHash variant — token ids from xxhash64 instead of
    * the rank dictionary, dropping the global vocabulary sort entirely.
    * Same band/bucket algebra as [[minhashLsh]]; hash-gated via the
    * mod-P id silver since r13. */
  def minhashPairsXxhash(spark: SparkSession, dir: String): DataFrame = {
    val bands = bandKeys(signaturesWideXx(spark, dir))
    bands.select(col("doc_id").as("doc_a"), col("band"), col("bandkey"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("bandkey")),
        Seq("band", "bandkey"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common_bands"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def minhashPairsXxhashSql(): String =
    s"""WITH sigs AS (${signaturesSqlFrom(xxSketchSidsSql)}),
       |bands AS (
       |  SELECT doc_id, band, SUM(mh * w) AS bandkey
       |  FROM sigs GROUP BY doc_id, band)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  COUNT(*) AS n_common_bands
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bandkey = b.bandkey AND a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |ORDER BY doc_a, doc_b""".stripMargin

  /** d13: scale twin of d7 — the LSH confusion eval over the
    * no-dictionary id path: sketch ids are xxhash64 mod P (d5's family,
    * bounded for the affine minhashes), identity ids are raw 64-bit
    * xxhash64 (d9's family, exact set identity). Hash-gated via BOTH id
    * silvers since r13; DedupSimilaritySpec additionally asserts the
    * count algebra: tp + fn_estimate + fn_banding = |d9 true pairs|, and
    * that total equals d7's, because d9 ≡ d4 pair-for-pair. With this,
    * every dictionary-bound dedup operator — including the eval harness —
    * has a no-global-sort path. */
  def lshEvalXxhash(spark: SparkSession, dir: String,
                    threshold: Double = 0.5): DataFrame =
    lshEvalFrom(
      Silver.memoize(spark, "minhashLshXxhash", dir) {
        minhashLshFrom(signaturesWideXx(spark, dir), docSidsXx(spark, dir))
      }.select(col("doc_a"), col("doc_b"), col("est_jaccard"), col("jaccard")),
      ngramJaccardXxhash(spark, dir, threshold).select(col("doc_a"), col("doc_b")),
      threshold)

  def lshEvalXxhashSql(threshold: Double = 0.5): String =
    lshEvalSqlFrom(xxSketchSidsSql, xxIdentSidsSql, threshold)

  // ---------------------------------------------------------------- d15

  /** d15: BOILERPLATE coverage — the C4-style "frequent-span" pass that
    * exact and near-dup passes miss: spans (3-shingles) repeated across
    * MANY documents (navigation chrome, license headers, templated
    * openers) are corpus plumbing, not content. A document mostly made of
    * such spans is boilerplate even when no single other document is its
    * near-duplicate (d2/d4 score pairs; d15 scores each doc against the
    * corpus-wide span frequency).
    *
    * Definition: a shingle is boilerplate when its document frequency
    * ≥ `minDf`; per doc, coverage = boilerplate shingles / distinct
    * shingles, flagged at ≥ 10% (integer-exact `n·10 ≥ total`, the t2
    * convention — no float threshold compare). Docs with < 3 tokens have
    * no shingles and no row (same rule as the rest of the shingle family).
    *
    * Scale shape (100 TB): the document-frequency aggregate is map-side
    * combinable on the shingle key; the frequent set is THRESHOLDED
    * (df ≥ minDf keeps a vanishing fraction of the shingle space) and
    * joins back against the shared [[docSids]] silver — broadcast while
    * it fits, hash join on sid beyond that (the join key is already the
    * dictionary id, never the string); the per-doc rollup is one exchange
    * on doc_id. The d9-family xxhash twin needs no separate key: replace
    * sid with raw xxhash64 ids and the algebra is unchanged. */
  def boilerplate(spark: SparkSession, dir: String, minDf: Int = 5): DataFrame = {
    val ds = docSids(spark, dir)
    val boiler = ds.groupBy("sid").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("sid"), lit(1L).as("is_boiler"))
    ds.join(broadcast(boiler), Seq("sid"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("is_boiler"), lit(0L))).as("n_boiler"))
      .select(col("doc_id"),
        col("n_shingles").cast("long").as("n_shingles"),
        col("n_boiler").cast("long").as("n_boiler"),
        (col("n_boiler").cast("double") / col("n_shingles").cast("double"))
          .as("boiler_frac"),
        (col("n_boiler") * lit(10L) >= col("n_shingles")).as("is_boilerplate"))
      .orderBy("doc_id")
  }

  def boilerplateSql(minDf: Int = 5): String =
    s"""WITH ds AS ($docSidsSql),
       |freq AS (SELECT sid, COUNT(*) AS df FROM ds GROUP BY sid),
       |b AS (SELECT sid, CAST(1 AS BIGINT) AS is_boiler
       |      FROM freq WHERE df >= $minDf)
       |SELECT ds.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |  CAST(SUM(COALESCE(b.is_boiler, 0)) AS BIGINT) AS n_boiler,
       |  CAST(SUM(COALESCE(b.is_boiler, 0)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS boiler_frac,
       |  CAST(SUM(COALESCE(b.is_boiler, 0)) AS BIGINT) * 10 >= COUNT(*)
       |    AS is_boilerplate
       |FROM ds LEFT JOIN b USING (sid)
       |GROUP BY ds.doc_id ORDER BY ds.doc_id""".stripMargin

  // ---------------------------------------------------------------- d16

  /** d16: the DEDUP VERDICT — the actionable output the cluster relation
    * exists for: one keeper per near-dup cluster, everything else marked
    * drop. Keeper selection is QUALITY-AWARE (the Gopher/CCNet pipelines'
    * rule: among near-duplicates keep the best-scoring copy, not the
    * first-crawled one): max t2 quality score, ties to the smallest
    * doc_id (d1's first-upload-wins). Composes two silvers — the
    * memoized d6 cluster labels and the tokenize-once quality projection
    * — plus one window over clusters (bounded groups: a cluster is a set
    * of near-identical docs, its size does not grow with corpus size)
    * and one broadcast-able keeper join. The c1/c2 gates consume the
    * cluster RELATION; a lake compaction job consumes THIS verdict. */
  def dedupVerdict(spark: SparkSession, dir: String,
                   threshold: Double = 0.5): DataFrame = {
    val clusters = dupClusters(spark, dir, threshold)
    val quality = Corpus.docsTok(spark, dir).select(col("doc_id"),
      graft.text.TextAnalysis.qualityScoreColOf(col("words")).as("quality_score"))
    val scored = clusters.join(quality, Seq("doc_id"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    val keepers = scored.withColumn("rn", row_number().over(wk))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keeper_id"))
    scored.join(keepers, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("quality_score"), col("keeper_id"),
        when(col("doc_id") === col("keeper_id"), "keep").otherwise("drop")
          .as("action"))
      .orderBy("doc_id")
  }

  def dedupVerdictSql(threshold: Double = 0.5): String =
    s"""WITH clusters AS (
       |  SELECT doc_id, cluster_id, cluster_size FROM (${dupClustersSql(threshold)})),
       |quality AS (
       |  SELECT doc_id, quality_score
       |  FROM (${graft.text.TextAnalysis.qualityScoreSql})),
       |scored AS (
       |  SELECT c.doc_id, c.cluster_id, c.cluster_size, q.quality_score
       |  FROM clusters c JOIN quality q USING (doc_id)),
       |keepers AS (
       |  SELECT cluster_id, doc_id AS keeper_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
       |      ORDER BY quality_score DESC, doc_id ASC) AS rn
       |    FROM scored) WHERE rn = 1)
       |SELECT s.doc_id, s.cluster_id, s.cluster_size, s.quality_score,
       |  k.keeper_id,
       |  CASE WHEN s.doc_id = k.keeper_id THEN 'keep' ELSE 'drop' END AS action
       |FROM scored s JOIN keepers k USING (cluster_id)
       |ORDER BY s.doc_id""".stripMargin

  /** d19: SHARED-SPAN FORENSICS for containment pairs — d17 says "doc a
    * is ≥ minPct% contained in doc b"; this answers what a curation
    * reviewer (or memorization audit) asks next: how LONG is the longest
    * verbatim token stretch of the contained doc appearing in the
    * container? d18's run-collapse algebra (matched positions minus
    * their rank collapse contiguous stretches to one group key),
    * generalized from benchmark-vs-doc to doc-vs-doc: positions walk the
    * contained doc's 3-shingle stream, a position matches when its
    * shingle is in the container's distinct shingle set, a run of r
    * overlapping 3-shingles covers r + 2 tokens, and the 13-token flag
    * is d18's GPT-3-style memorization threshold.
    *
    * Scale shape: the positioned stream only materializes matches for
    * d17's VERDICT pairs (containment-thresholded — tiny by
    * construction): the pair relation broadcasts onto the positioned
    * shingle stream, the container side reuses the distinct
    * (doc, shingle) set relation, and the run/span aggregates ride one
    * (contained, container) exchange (grp refines the pair key). Every
    * verdict pair has n_common ≥ 1, so the span join is total — no
    * zero-fill needed (spec-asserted). */
  /** Doc → representative-of-identical-content map (rep = min doc_id
    * per exact text), leaf-memoized — the content-addressing leaf the
    * pair-metric keys share so duplicated corpora never re-pay
    * content-determined work per copy (the m8 decode discipline
    * applied to text; grouped by the text itself, no hash-collision
    * risk — the xxhash twins are the spelled-key scale path). */
  private def contentReps(spark: SparkSession, dir: String): DataFrame =
    graft.model.Silver.memoize(spark, "docContentRep", dir) {
      val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val r = d.groupBy(col("text")).agg(min(col("doc_id")).as("rep"))
      d.join(r, Seq("text")).select(col("doc_id"), col("rep"))
    }

  def sharedSpans(spark: SparkSession, dir: String, minPct: Int = 80): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // run-collapse metrics are CONTENT-determined (they read only the
    // two token streams), so they are computed ONCE per distinct
    // content pair and joined back to the doc-grain pair relation —
    // a doc-grain window here is inherently quadratic in the corpus
    // duplication factor (the d22 lesson; measured 22x at the 10x
    // replica before this rewrite, output unchanged)
    val reps = contentReps(spark, dir)
    // a silver: the pair relation feeds the rep-pair distinct, both
    // doc-set filters below AND the final join-back — four consumers of
    // one tiny relation, whose measured size broadcasts it
    val pairs = Silver.memoize(spark, s"sharedSpanPairs:$minPct", dir) {
      containmentPairs(spark, dir, minPct)
        .select(col("contained_doc"), col("container_doc"))
        .join(reps.select(col("doc_id").as("contained_doc"),
          col("rep").as("ra")), "contained_doc")
        .join(reps.select(col("doc_id").as("container_doc"),
          col("rep").as("rb")), "container_doc")
    }
    val repPairs = pairs.select(col("ra"), col("rb")).distinct()
    // guide §3.2: restrict BOTH token streams to the verdict pairs'
    // doc sets BEFORE the shingle explode — the pair set is containment-
    // thresholded (tiny), so without this the 3-shingle string build runs
    // over the whole corpus on each side and the (rb, shingle) join
    // shuffles the full corpus-wide distinct shingle stream (the 8-core
    // bench paid ~20x the 32-core time on exactly that sort)
    val shingPos = Corpus.docsTok(spark, dir)
      .join(repPairs.select(col("ra").as("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("ra"),
        posexplode(Corpus.shinglesOf(col("words"))))
      .select(col("ra"), (col("pos") + lit(1L)).as("pos"),
        col("col").as("shingle"))
    val contSet = Corpus.docsTok(spark, dir)
      .join(repPairs.select(col("rb").as("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("rb"),
        explode(array_distinct(Corpus.shinglesOf(col("words")))).as("shingle"))
    val matched = repPairs.join(shingPos, Seq("ra"))
      .join(contSet, Seq("rb", "shingle"))
    val w = Window.partitionBy("ra", "rb").orderBy("pos")
    val runs = matched
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("ra", "rb", "grp")
      .agg(count(lit(1)).as("run"))
    val metrics = runs.groupBy("ra", "rb")
      .agg(count(lit(1)).as("n_runs"), sum("run").as("n_matched"),
        max("run").as("longest_run"))
    pairs.join(metrics, Seq("ra", "rb"))
      .select(col("contained_doc"), col("container_doc"),
        col("n_matched"), col("n_runs"), col("longest_run"),
        (col("longest_run") + lit(2L)).as("longest_span_tokens"),
        (col("longest_run") + lit(2L) >= lit(13L)).as("flagged"))
      .orderBy(col("contained_doc"), col("container_doc"))
  }

  def sharedSpansSql(minPct: Int = 80): String = {
    val ws = Corpus.wordsSqlExpr
    s"""WITH p AS (
       |  SELECT contained_doc, container_doc
       |  FROM (${containmentPairsSql(minPct)})),
       |docs AS (
       |  SELECT doc_id, $ws AS ws FROM documents),
       |positioned AS (
       |  SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS pos FROM docs),
       |shing AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |    list_extract(ws, pos) || ' ' || list_extract(ws, pos + 1)
       |      || ' ' || list_extract(ws, pos + 2) AS shingle
       |  FROM positioned),
       |cset AS (
       |  SELECT DISTINCT doc_id AS container_doc, shingle FROM shing),
       |matched AS (
       |  SELECT p.contained_doc, p.container_doc, s.pos
       |  FROM p
       |  JOIN shing s ON s.doc_id = p.contained_doc
       |  JOIN cset c ON c.container_doc = p.container_doc
       |    AND c.shingle = s.shingle),
       |runs AS (
       |  SELECT contained_doc, container_doc, grp,
       |    CAST(COUNT(*) AS BIGINT) AS run
       |  FROM (SELECT contained_doc, container_doc, pos,
       |          pos - ROW_NUMBER() OVER (PARTITION BY contained_doc, container_doc
       |                                   ORDER BY pos) AS grp
       |        FROM matched)
       |  GROUP BY 1, 2, 3)
       |SELECT contained_doc, container_doc,
       |  CAST(SUM(run) AS BIGINT) AS n_matched,
       |  CAST(COUNT(*) AS BIGINT) AS n_runs,
       |  CAST(MAX(run) AS BIGINT) AS longest_run,
       |  CAST(MAX(run) + 2 AS BIGINT) AS longest_span_tokens,
       |  MAX(run) + 2 >= 13 AS flagged
       |FROM runs GROUP BY contained_doc, container_doc
       |ORDER BY contained_doc, container_doc""".stripMargin
  }

  /** d20: cross-source duplication matrix — provenance forensics over
    * the near-dup pair relation: how much of the duplication is WITHIN a
    * source vs BETWEEN two sources. The between-source cells are what a
    * corpus curator acts on (two crawls of the same site, a mirror, a
    * laundered scrape — drop one side wholesale); the diagonal is
    * ordinary in-source boilerplate that d6's clustering already
    * handles. Same composition discipline as d14 (split leakage): a
    * projection + rollup of the CACHED d4 pair silver, so at scale this
    * adds only the two slim (doc_id, source) joins — the inverted-index
    * work is already paid. The strong-pair verdict is integer-exact
    * (n_common·100 ≥ 80·union, the d15/d17 discipline) — no FP
    * aggregation, so the cell counts hash identically in any engine.
    * Output is |sources|²-bounded regardless of corpus size. */
  def crossSourceOverlap(spark: SparkSession, dir: String,
                         threshold: Double = 0.5,
                         strongPct: Int = 80): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    ngramJaccard(spark, dir, threshold)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")),
        Seq("doc_b"))
      .select(
        least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"),
        col("n_common"), col("size_a"), col("size_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("n_common") * 100 >=
            lit(strongPct) * (col("size_a") + col("size_b") - col("n_common")),
          1L).otherwise(0L)).as("n_strong"))
      .withColumn("is_within", col("source_a") === col("source_b"))
      .orderBy(col("source_a"), col("source_b"))
  }

  def crossSourceOverlapSql(threshold: Double = 0.5,
                            strongPct: Int = 80): String =
    s"""WITH pairs AS (${ngramJaccardSql(threshold)}),
       |cells AS (
       |  SELECT
       |    LEAST(sa.source, sb.source) AS source_a,
       |    GREATEST(sa.source, sb.source) AS source_b,
       |    p.n_common, p.size_a, p.size_b
       |  FROM pairs p
       |  JOIN documents sa ON sa.doc_id = p.doc_a
       |  JOIN documents sb ON sb.doc_id = p.doc_b)
       |SELECT source_a, source_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(CASE WHEN n_common * 100 >=
       |      $strongPct * (size_a + size_b - n_common) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_strong,
       |  source_a = source_b AS is_within
       |FROM cells GROUP BY source_a, source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** d21: LSH PARAMETER SWEEP — the bands×rows operating curve every
    * MinHash-LSH deployment tunes before committing a threshold: from
    * the SAME 16 minhashes (one signature pass — the v18/v20 sweep
    * discipline: never a re-sketch per configuration), band the
    * signature three ways (8 bands × 2 rows, 4×4, 2×8) and score each
    * config's candidate set against the exact-Jaccard truth pairs.
    * More rows per band ⇒ fewer, higher-precision candidates (the
    * s-curve steepens); the output is the 3-row
    * (candidates, precision, recall) table that picks the operating
    * point. Band keys combine a band's minhashes with 31^i weights
    * (mh < P ≈ 1e6, so the largest product ≈ 2.7e16 stays far inside
    * BIGINT in both engines — no overflow, exact parity). Candidate
    * generation stays bucket-local per config; the eval joins are
    * candidate-pair-sized. */
  def lshSweep(spark: SparkSession, dir: String,
               threshold: Double = 0.5): DataFrame = {
    val sigs = signaturesWide(spark, dir)
    val truth = ngramJaccard(spark, dir, threshold)
      .select(col("doc_a"), col("doc_b"))
    val truthN = truth.agg(count(lit(1)).as("n_truth"))
    // INJECTIVE band keys, joined as the RAW minhash columns: elementwise
    // long equality is the injective discipline directly (a weighted
    // integer sum admits cross-signature collisions; the old delimited-
    // string form was injective too but built a string per corpus band
    // row just to compare longs).
    // BAND NESTING collapses the sweep to ONE self-join: with 16 hashes
    // the r-row band b covers mh[r·b .. r·b+r−1], so an r=4 collision
    // implies collisions on both constituent r=2 bands and an r=8
    // collision on both its r=4 bands — cands(8) ⊆ cands(4) ⊆ cands(2).
    // The widest set (r=2) is the only corpus-shaped join; r=4/r=8
    // membership is re-derived per surviving pair from the two stored
    // signatures (a candidate-pair-sized broadcast join), never from
    // another corpus self-join. Output provably identical; the oracle
    // keeps its three independent self-joins as the recompute.
    val bk2 = {
      val arr = array((0 until NumHashes / 2).map { b =>
        struct(lit(b.toLong).as("band"),
          col(s"mh${2 * b}").as("k1"), col(s"mh${2 * b + 1}").as("k2"))
      }: _*)
      sigs.select(col("doc_id"), explode(arr).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"),
          col("bk.k1").as("k1"), col("bk.k2").as("k2"))
    }
    // a silver: feeds the r=2 counts/hits AND the r=4/r=8 rescoring,
    // which joins it by its measured size
    val cands2 = Silver.memoize(spark, "lshCands2", dir) {
      bk2.select(col("doc_id").as("doc_a"), col("band"), col("k1"), col("k2"))
        .join(bk2.select(col("doc_id").as("doc_b"), col("band"),
          col("k1"), col("k2")), Seq("band", "k1", "k2"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
    }
    val sa = sigs.select(col("doc_id").as("doc_a") +:
      (0 until NumHashes).map(j => col(s"mh$j").as(s"a$j")): _*)
    val sb = sigs.select(col("doc_id").as("doc_b") +:
      (0 until NumHashes).map(j => col(s"mh$j").as(s"b$j")): _*)
    val wide = cands2.join(sa, "doc_a").join(sb, "doc_b")
    def collide(r: Int): Column =
      (0 until NumHashes / r).map { b =>
        (0 until r).map(i => col(s"a${r * b + i}") === col(s"b${r * b + i}"))
          .reduce(_ && _)
      }.reduce(_ || _)
    val perConfig = Seq(2, 4, 8).map { r =>
      val nBands = NumHashes / r
      val cands =
        if (r == 2) cands2
        else wide.filter(collide(r)).select(col("doc_a"), col("doc_b"))
      val counts = cands.agg(count(lit(1)).as("n_candidates"))
      val hits = cands.join(truth, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("n_hits"))
      counts.crossJoin(hits)
        .select(lit(r.toLong).as("rows_per_band"),
          lit(nBands.toLong).as("n_bands"),
          col("n_candidates"), col("n_hits"))
    }.reduce(_ unionByName _)
    perConfig.crossJoin(broadcast(truthN))
      .select(col("rows_per_band"), col("n_bands"), col("n_candidates"),
        col("n_truth"), col("n_hits"),
        when(col("n_candidates") === 0L, lit(null).cast("double"))
          .otherwise(col("n_hits").cast("double") /
            col("n_candidates").cast("double")).as("precision"),
        when(col("n_truth") === 0L, lit(null).cast("double"))
          .otherwise(col("n_hits").cast("double") /
            col("n_truth").cast("double")).as("recall"))
      .orderBy(col("rows_per_band"))
  }

  def lshSweepSql(threshold: Double = 0.5): String = {
    def cfg(r: Int): String = {
      val nb = NumHashes / r
      s"""bk$r AS (
         |  SELECT doc_id, j // $r AS band,
         |    string_agg(CAST(mh AS VARCHAR), '|' ORDER BY j) AS bandkey
         |  FROM sigs16 GROUP BY 1, 2),
         |c$r AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bk$r a JOIN bk$r b
         |    ON a.band = b.band AND a.bandkey = b.bandkey
         |    AND a.doc_id < b.doc_id),
         |r$r AS (
         |  SELECT CAST($r AS BIGINT) AS rows_per_band,
         |    CAST($nb AS BIGINT) AS n_bands,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM c$r) AS n_candidates,
         |    (SELECT CAST(COUNT(*) AS BIGINT)
         |     FROM c$r JOIN truth USING (doc_a, doc_b)) AS n_hits)""".stripMargin
    }
    s"""WITH params16 AS (
       |  SELECT j, 37 + 101*j AS a, 17 + 61*j AS b FROM range(16) t(j)),
       |sigs16 AS (
       |  SELECT ds.doc_id, p.j, MIN((p.a * ds.sid + p.b) % ${Corpus.P}) AS mh
       |  FROM ($docSidsSql) ds CROSS JOIN params16 p
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT doc_a, doc_b FROM (${ngramJaccardSql(threshold)})),
       |tn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
       |${cfg(2)},
       |${cfg(4)},
       |${cfg(8)}
       |SELECT u.rows_per_band, u.n_bands, u.n_candidates, tn.n_truth,
       |  u.n_hits,
       |  CASE WHEN u.n_candidates = 0 THEN NULL
       |    ELSE CAST(u.n_hits AS DOUBLE) / CAST(u.n_candidates AS DOUBLE)
       |    END AS precision,
       |  CASE WHEN tn.n_truth = 0 THEN NULL
       |    ELSE CAST(u.n_hits AS DOUBLE) / CAST(tn.n_truth AS DOUBLE)
       |    END AS recall
       |FROM (SELECT * FROM r2 UNION ALL SELECT * FROM r4
       |      UNION ALL SELECT * FROM r8) u
       |CROSS JOIN tn
       |ORDER BY u.rows_per_band""".stripMargin
  }

  /** d23: TEMPLATE-PASSAGE EXTRACTION — the text d15 only COUNTS:
    * maximal runs of consecutive high-df 3-shingles per document,
    * reconstructed back into the verbatim passage (one `slice` of the
    * doc's own token array — no string surgery on shingles) and rolled
    * up across the corpus: the top-N recurring passages with document
    * frequency, total occurrences and an example doc. This is the
    * "what IS the boilerplate" report a curation team reads before
    * writing a C4-style line filter — d15 says a doc is 40% plumbing,
    * d23 shows the plumbing. Shingle admission uses d15's df ≥ minDf;
    * the reconstructed PASSAGE then needs only `minDocs` documents
    * (an exact multi-token string repeating verbatim anywhere is
    * already signal — requiring d15's df of the whole passage would
    * demand the template recur five times letter-perfect).
    * Positioned shingles ride one doc_id
    * window (d18's run-collapse), the frequent-shingle set joins like
    * d15's (shingle-df agg, broadcast-able), the passage rollup is one
    * hash agg on the passage text, and top-N is TakeOrdered — no
    * global sort. Fully oracle-checked. */
  def templatePassages(spark: SparkSession, dir: String, minDf: Int = 5,
                       minRun: Int = 2, minDocs: Int = 2,
                       topN: Int = 20): DataFrame = {
    val toks = Corpus.docsTok(spark, dir).select(col("doc_id"), col("words"))
    // a silver: the positioned shingle stream feeds the df agg AND the
    // run-collapse join — as a plain plan, the shingle explode (3-token
    // string build per position) ran twice per call
    val pos = Silver.memoize(spark, "positionedShingles", dir) {
      toks.select(col("doc_id"), posexplode(Corpus.shinglesOf(col("words"))))
        .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("sh"))
    }
    // the df-thresholded template-shingle set is a silver too: by its
    // measured size it broadcasts while it fits (d15's discipline), and
    // a boilerplate-heavy crawl's set falls back to a shuffle join
    val freq = Silver.memoize(spark, s"templateShingles:$minDf", dir) {
      pos.groupBy("sh")
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= minDf).select("sh")
    }
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = pos.join(freq, Seq("sh"))
      .withColumn("rn", row_number().over(byDoc))
      .withColumn("grp", col("pos") - col("rn"))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("start_pos"), count(lit(1)).as("run_len"))
      .filter(col("run_len") >= minRun)
    runs.join(toks, Seq("doc_id"))
      .select(col("doc_id"),
        array_join(slice(col("words"), col("start_pos").cast("int"),
          (col("run_len") + 2).cast("int")), " ").as("passage"),
        (col("run_len") + 2).as("span_tokens"))
      .groupBy(col("passage"), col("span_tokens"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("example_doc"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("passage").asc)
      .limit(topN)
      .orderBy(col("n_docs").desc, col("passage").asc)
  }

  def templatePassagesSql(minDf: Int = 5, minRun: Int = 2,
                          minDocs: Int = 2, topN: Int = 20): String = {
    val ws = Corpus.wordsSqlExpr
    s"""WITH docs AS (
       |  SELECT doc_id, $ws AS ws FROM documents),
       |positioned AS (
       |  SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS pos FROM docs),
       |shing AS (
       |  SELECT doc_id, ws, CAST(pos AS BIGINT) AS pos,
       |    list_extract(ws, pos) || ' ' || list_extract(ws, pos + 1)
       |      || ' ' || list_extract(ws, pos + 2) AS sh
       |  FROM positioned),
       |freq AS (
       |  SELECT sh FROM (
       |    SELECT sh, COUNT(DISTINCT doc_id) AS df FROM shing GROUP BY sh)
       |  WHERE df >= $minDf),
       |runs AS (
       |  SELECT doc_id, grp,
       |    CAST(MIN(pos) AS BIGINT) AS start_pos,
       |    CAST(COUNT(*) AS BIGINT) AS run_len
       |  FROM (SELECT s.doc_id, s.pos,
       |          s.pos - ROW_NUMBER() OVER (PARTITION BY s.doc_id
       |                                     ORDER BY s.pos) AS grp
       |        FROM shing s JOIN freq USING (sh))
       |  GROUP BY doc_id, grp
       |  HAVING COUNT(*) >= $minRun),
       |passages AS (
       |  SELECT r.doc_id,
       |    array_to_string(d.ws[CAST(r.start_pos AS INT) :
       |      CAST(r.start_pos + r.run_len + 1 AS INT)], ' ') AS passage,
       |    r.run_len + 2 AS span_tokens
       |  FROM runs r JOIN docs d USING (doc_id))
       |SELECT passage, CAST(span_tokens AS BIGINT) AS span_tokens,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       |  CAST(MIN(doc_id) AS BIGINT) AS example_doc
       |FROM passages
       |GROUP BY passage, span_tokens
       |HAVING COUNT(DISTINCT doc_id) >= $minDocs
       |ORDER BY n_docs DESC, passage ASC
       |LIMIT $topN""".stripMargin
  }

  /** d27: EXACT DUPLICATED-SPAN DEDUP AT ANY ALIGNMENT — the
    * suffix-array-class pass of "Deduplicating Training Data Makes
    * Language Models Better" (Lee et al. 2022) re-expressed as two
    * relational stages, closing the gap d24's fixed 64-token chunking
    * leaves: a duplicated span straddling chunk boundaries (e.g. 60
    * tokens starting at token 40) produces NO equal chunk text in
    * either doc, but it must still be found — at ANY alignment, with
    * edits anywhere outside the span.
    *
    * Stage 1 (CANDIDATES — the alignment-free seed): any common
    * substring of ≥ `minSpan` tokens contains a common contiguous
    * window of k = minSpan−2 tokens at EVERY offset inside it, so two
    * docs sharing such a span necessarily share at least one exact
    * k-token window — window equality is position-independent, which
    * is what makes the seed alignment-free. Distinct (doc, window)
    * pairs meet on the window key (one exchange); windows occurring in
    * more than `maxDf` docs are routed OUT of pairing (that is shared
    * BOILERPLATE, d15/d23's department — and the df cap bounds the
    * per-window pair fanout at C(maxDf,2), the same discipline as the
    * h1/d4 inverted-index caps).
    *
    * Stage 2 (EXACT SPANS — d19's run-collapse algebra + an ALIGNMENT
    * key): for candidate pairs only, join the two positioned 3-shingle
    * streams on shingle, key each match by diff = pos_a − pos_b (one
    * diff per alignment), and collapse consecutive pos_a runs per
    * (pair, diff) with the pos − row_number group trick. A run of r
    * consecutive matching 3-shingles at constant diff is an exact
    * common substring of r+2 tokens — no hashing, no approximation.
    *
    * Scale shape: stage 1 is one window-key exchange over an O(tokens)
    * relation (at 100 TB you swap the window TEXT for a rolling
    * xxhash64 of the token window — same algebra, fixed-width keys —
    * exactly the d5/d9 dictionary→hash swap; text keys here keep the
    * DuckDB oracle exact). Stage 2 touches only candidate-pair docs —
    * the pair relation is thresholded tiny and broadcasts onto the
    * positioned streams (d19's shape); runs/spans ride one pair-key
    * exchange. Never all-pairs anywhere. */
  def dupSpans(spark: SparkSession, dir: String,
               minSpan: Int = 50, maxDf: Int = 50): DataFrame = {
    val docsTok = Corpus.docsTok(spark, dir)
    // a silver: the pairs feed the doc filter and both sides of the join
    dupSpansOver(docsTok, minSpan, Silver.memoize(spark,
      s"dupSpanPairs:$minSpan:$maxDf", dir)(dupSpanPairs(docsTok, minSpan, maxDf)))
  }

  private[graft] def dupSpansFrom(docsTok: DataFrame,
                                  minSpan: Int, maxDf: Int): DataFrame =
    dupSpansOver(docsTok, minSpan, dupSpanPairs(docsTok, minSpan, maxDf))

  /** Stage 1: (doc_a, doc_b) pairs sharing a (minSpan − 2)-token window. */
  private def dupSpanPairs(docsTok: DataFrame, minSpan: Int, maxDf: Int): DataFrame = {
    val k = minSpan - 2
    val wins = docsTok
      .select(col("doc_id"), col("words"),
        explode(when(size(col("words")) >= k,
            sequence(lit(1), size(col("words")) - (k - 1)))
          .otherwise(array().cast("array<int>"))).as("p"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("words"), col("p"), lit(k))).as("win"))
    // d4's posting-list shape: ONE window-key exchange builds the
    // per-window doc set (collect_set dedupes in the aggregation
    // buffer), the size filter is the df gate, and pairs explode from
    // the bounded (≤ maxDf) posting arrays — no self-join. The buffer
    // transiently holds a boilerplate window's full doc set before the
    // filter drops it; at true scale a count-first semi-join pre-cap
    // bounds that too (the d4/h1 discipline).
    wins.groupBy(col("win"))
      .agg(sort_array(collect_set(col("doc_id"))).as("docs"))
      .filter(size(col("docs")) >= 2 && size(col("docs")) <= maxDf)
      .select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Stage 2: the longest shared span per candidate pair. */
  private def dupSpansOver(docsTok: DataFrame, minSpan: Int,
                           pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // stage 2 only ever needs candidate-pair docs' shingles: semi-join
    // the positioned stream down to the (tiny, broadcast) candidate doc
    // set BEFORE the (doc_b, shingle) exchange — the r13 shape shuffled
    // the FULL corpus shingle stream and dropped non-candidates at the
    // join (guide §3.2: reduce the big side before shuffling it).
    val candDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val shingPos = docsTok
      .select(col("doc_id"), posexplode(Corpus.shinglesOf(col("words"))))
      .select(col("doc_id"), (col("pos") + lit(1L)).as("pos"),
        col("col").as("shingle"))
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
    val matched = broadcast(pairs)
      .join(shingPos.select(col("doc_id").as("doc_a"),
        col("pos").as("pos_a"), col("shingle")), Seq("doc_a"))
      .join(shingPos.select(col("doc_id").as("doc_b"),
        col("pos").as("pos_b"), col("shingle")), Seq("doc_b", "shingle"))
      .withColumn("diff", col("pos_a") - col("pos_b"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diff"))
      .orderBy(col("pos_a"))
    val runs = matched
      .withColumn("grp", col("pos_a") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diff"), col("grp"))
      .agg((count(lit(1)) + 2).as("span_tokens"))
      .filter(col("span_tokens") >= minSpan)
    runs.groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("span_tokens")).as("longest_span_tokens"),
        count(lit(1)).as("n_spans"),
        sum(col("span_tokens")).cast("long").as("dup_tokens"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def dupSpansSql(minSpan: Int = 50, maxDf: Int = 50): String = {
    val ws = Corpus.wordsSqlExpr
    val k = minSpan - 2
    s"""WITH docs AS (SELECT doc_id, $ws AS ws FROM documents),
       |wins AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(list_slice(ws, p, p + ${k - 1}), ' ') AS win
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - ${k - 2})) AS p
       |        FROM docs) t),
       |elig AS (
       |  SELECT win FROM (SELECT win, COUNT(*) AS df FROM wins GROUP BY 1)
       |  WHERE df BETWEEN 2 AND $maxDf),
       |wok AS (SELECT w.doc_id, w.win FROM wins w JOIN elig USING (win)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM wok a JOIN wok b ON a.win = b.win AND a.doc_id < b.doc_id),
       |shing AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |    list_extract(ws, pos) || ' ' || list_extract(ws, pos + 1)
       |      || ' ' || list_extract(ws, pos + 2) AS shingle
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS pos
       |        FROM docs) t),
       |matched AS (
       |  SELECT p.doc_a, p.doc_b, a.pos AS pos_a, b.pos AS pos_b
       |  FROM pairs p
       |  JOIN shing a ON a.doc_id = p.doc_a
       |  JOIN shing b ON b.doc_id = p.doc_b AND b.shingle = a.shingle),
       |runs AS (
       |  SELECT doc_a, doc_b, diff, grp,
       |    CAST(COUNT(*) + 2 AS BIGINT) AS span_tokens
       |  FROM (SELECT doc_a, doc_b, pos_a, pos_a - pos_b AS diff,
       |      pos_a - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pos_a - pos_b
       |        ORDER BY pos_a) AS grp
       |    FROM matched) GROUP BY 1, 2, 3, 4)
       |SELECT doc_a, doc_b,
       |  CAST(MAX(span_tokens) AS BIGINT) AS longest_span_tokens,
       |  CAST(COUNT(*) AS BIGINT) AS n_spans,
       |  CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
       |FROM runs WHERE span_tokens >= $minSpan
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- d29

  /** Snapshot membership rule for d29: docs with `doc_id % 10 <
    * SnapshotMod` are the already-ingested corpus; the rest are today's
    * delta. Deterministic and SF-stable (the id space is dense). */
  val SnapshotMod = 8L

  /** d29: INCREMENTAL dedup — classify a DELTA of newly-arrived documents
    * against the ingested SNAPSHOT without rescanning the corpus. This is
    * the arrival-time shape of d1+d2: a production corpus is deduped once,
    * then every ingest batch is checked against two *bounded indexes*
    * maintained incrementally —
    *   - the snapshot's distinct content identities (exact index), and
    *   - the snapshot's distinct LSH band buckets (near-dup index,
    *     d2's 16-minhash / 4-band family)
    * — so per-batch work is proportional to the DELTA, never to the
    * 100 TB corpus (the reference re-derives its lake from scratch per
    * upload, process_upload.py:196-206; at corpus scale the index IS the
    * state you keep instead). Each delta doc gets both raw hits and the
    * precedence verdict exact > near > novel. A delta doc is `near` when
    * it shares >= 1 band bucket with ANY snapshot doc — the same
    * candidate rule d2 uses intra-corpus, here as a left-semi probe of
    * the band index (no pair materialization at all). Intra-delta
    * duplicates are deliberately out of scope: they are the ordinary
    * d1/d2 pass over the (small) batch itself. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val ds = docSids(spark, dir)
    val snapBands = bandKeys(signaturesWideFrom(
        ds.filter(col("doc_id") % 10 < SnapshotMod)))
      .select(col("band"), col("bandkey")).distinct()
    val deltaBands = bandKeys(signaturesWideFrom(
      ds.filter(col("doc_id") % 10 >= SnapshotMod)))
    val nearIds = deltaBands
      .join(snapBands, Seq("band", "bandkey"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("near_hit", lit(true))
    val docs = Corpus.docs(spark, dir)
    val snapTexts = docs.filter(col("doc_id") % 10 < SnapshotMod)
      .select(col("text")).distinct()
    val delta = docs.filter(col("doc_id") % 10 >= SnapshotMod)
    val exactIds = delta.join(snapTexts, Seq("text"), "left_semi")
      .select(col("doc_id")).withColumn("exact_hit", lit(true))
    delta.select(col("doc_id"), col("source"))
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("exact_hit"), lit(false)).as("exact_dup"),
        coalesce(col("near_hit"), lit(false)).as("near_dup"),
        when(coalesce(col("exact_hit"), lit(false)), lit("exact"))
          .when(coalesce(col("near_hit"), lit(false)), lit("near"))
          .otherwise(lit("novel")).as("verdict"))
      .orderBy(col("doc_id"))
  }

  def incrementalDedupSql(): String =
    s"""WITH sigs AS ($signaturesSql),
       |bands AS (
       |  SELECT doc_id, band, SUM(w * mh) AS bandkey
       |  FROM sigs GROUP BY doc_id, band),
       |snap_bands AS (
       |  SELECT DISTINCT band, bandkey FROM bands
       |  WHERE doc_id % 10 < $SnapshotMod),
       |near AS (
       |  SELECT DISTINCT b.doc_id FROM bands b
       |  JOIN snap_bands s ON b.band = s.band AND b.bandkey = s.bandkey
       |  WHERE b.doc_id % 10 >= $SnapshotMod),
       |snap_texts AS (
       |  SELECT DISTINCT text FROM documents WHERE doc_id % 10 < $SnapshotMod),
       |delta AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE doc_id % 10 >= $SnapshotMod),
       |exact AS (
       |  SELECT d.doc_id FROM delta d JOIN snap_texts USING (text))
       |SELECT d.doc_id, d.source,
       |  (e.doc_id IS NOT NULL) AS exact_dup,
       |  (n.doc_id IS NOT NULL) AS near_dup,
       |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
       |       WHEN n.doc_id IS NOT NULL THEN 'near'
       |       ELSE 'novel' END AS verdict
       |FROM delta d
       |LEFT JOIN exact e ON d.doc_id = e.doc_id
       |LEFT JOIN near n ON d.doc_id = n.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- d30

  /** d30: SNAPSHOT-INDEX MAINTENANCE — the other half of incremental
    * dedup (d29 classifies the delta; d30 makes the indexes LEARN it).
    * The snapshot's two bounded indexes — distinct content identities
    * and distinct LSH band buckets — are PHYSICALLY materialized to
    * parquet, the delta batch is classified against them (d29's exact >
    * near > novel algebra), and the batch's NOVEL docs are appended to
    * both indexes: the idempotent upsert of the reference's
    * unconditional put (write-metrics:104). Novelty makes the append
    * conflict-free by construction — a novel doc's text is not in the
    * exact index and none of its band keys are in the band index, so
    * append IS upsert. The SAME batch is then RE-PROBED against the
    * RE-READ physical indexes and the relation carries both verdicts;
    * the maintained index must classify every formerly-novel doc as an
    * exact dup of itself. The oracle predicts verdict_before AND
    * verdict_after from the fact tables alone, so the hash gate
    * certifies the physical append == the planned index delta (k24's
    * plan==action contract on the dedup index). Work stays ∝ delta:
    * the corpus is never rescanned; the indexes only grow by appends. */
  /** d30's physical index root per (session, sfDir) — spec hook. */
  private[graft] val d30IndexDirs =
    new graft.model.SessionMemo[String, String]()

  def indexMaintenance(spark: SparkSession, dir: String): DataFrame =
    Silver.memoize(spark, "d30IndexMaintenance", dir) {
      val indexDir = graft.etl.Scratch.tempDir("d30-index")
      d30IndexDirs((spark, dir)) = indexDir
      val ds = docSids(spark, dir)
      val docs = Corpus.docs(spark, dir)
      // 1. materialize the snapshot indexes (bounded: identities/buckets)
      bandKeys(signaturesWideFrom(
          ds.filter(col("doc_id") % 10 < SnapshotMod)))
        .select(col("band"), col("bandkey")).distinct()
        .write.mode("overwrite").parquet(s"$indexDir/bands")
      docs.filter(col("doc_id") % 10 < SnapshotMod)
        .select(col("text")).distinct()
        .write.mode("overwrite").parquet(s"$indexDir/texts")
      val delta = docs.filter(col("doc_id") % 10 >= SnapshotMod)
      val deltaBands = bandKeys(signaturesWideFrom(
        ds.filter(col("doc_id") % 10 >= SnapshotMod)))
      def classify(texts: DataFrame, bands: DataFrame): DataFrame = {
        val nearIds = deltaBands
          .join(bands, Seq("band", "bandkey"), "left_semi")
          .select(col("doc_id")).distinct()
          .withColumn("near_hit", lit(true))
        val exactIds = delta.join(texts, Seq("text"), "left_semi")
          .select(col("doc_id")).withColumn("exact_hit", lit(true))
        delta.select(col("doc_id"), col("source"))
          .join(exactIds, Seq("doc_id"), "left")
          .join(nearIds, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"),
            when(coalesce(col("exact_hit"), lit(false)), lit("exact"))
              .when(coalesce(col("near_hit"), lit(false)), lit("near"))
              .otherwise(lit("novel")).as("verdict"))
      }
      // a silver, built here: the BEFORE probe must execute before the
      // appends below change what its lazy parquet scans would read
      val before = Silver.memoize(spark, s"d30BeforeProbe:$indexDir", dir) {
        classify(
          spark.read.parquet(s"$indexDir/texts"),
          spark.read.parquet(s"$indexDir/bands"))
      }
      // 2. THE MAINTENANCE: append the novel identities and band keys
      val novelIds = before.filter(col("verdict") === "novel")
        .select(col("doc_id"))
      delta.join(novelIds, Seq("doc_id"), "left_semi")
        .select(col("text")).distinct()
        .write.mode("append").parquet(s"$indexDir/texts")
      deltaBands.join(novelIds, Seq("doc_id"), "left_semi")
        .select(col("band"), col("bandkey")).distinct()
        .write.mode("append").parquet(s"$indexDir/bands")
      // 3. RE-PROBE against the RE-READ physical indexes (the measured
      // leg — a lost or misplaced append row flips a verdict_after)
      val after = classify(
        spark.read.parquet(s"$indexDir/texts"),
        spark.read.parquet(s"$indexDir/bands"))
      before.withColumnRenamed("verdict", "verdict_before")
        .join(after.select(col("doc_id"),
          col("verdict").as("verdict_after")), Seq("doc_id"))
        .orderBy(col("doc_id"))
    }

  /** a70's re-delivery leg: the SAME delta batch is delivered AGAIN to
    * the already-maintained physical index ([[indexMaintenance]]'s
    * output state). PutIfAbsent semantics make the re-delivery a no-op:
    * NO delta doc may classify 'novel' on re-probe — a formerly-novel
    * doc's own identity and band keys were appended (it re-probes
    * exact), a formerly-exact doc matches the snapshot identity it
    * always matched, and a formerly-near doc's band hit can only
    * persist (indexes grow monotonically; its text was deliberately
    * never appended, so 'exact' would be the WRONG bar). The relation
    * is MEASURED from the physical index bytes; the oracle's
    * prediction (every delta doc non-novel) is deliberately trivial —
    * the hash certifies the maintained index lost no appended identity
    * or band key, so a re-run close appends nothing. Reference
    * analogue: the unconditional whole-object (store, date) overwrite,
    * write-metrics/lambda_function.py:104. */
  def redeliveryProbe(spark: SparkSession, dir: String): DataFrame = {
    indexMaintenance(spark, dir) // builds + maintains the physical index
    val indexDir = d30IndexDirs((spark, dir))
    val isDelta = col("doc_id") % 10 >= SnapshotMod
    val delta = Corpus.docs(spark, dir).filter(isDelta)
    val exactIds = delta
      .join(spark.read.parquet(s"$indexDir/texts"), Seq("text"), "left_semi")
      .select(col("doc_id")).withColumn("exact_hit", lit(true))
    val nearIds = bandKeys(signaturesWideFrom(
        docSids(spark, dir).filter(isDelta)))
      .join(spark.read.parquet(s"$indexDir/bands"),
        Seq("band", "bandkey"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("near_hit", lit(true))
    delta.select(col("doc_id"))
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("exact_hit"), lit(false)) ||
          coalesce(col("near_hit"), lit(false))).as("not_novel"))
      .orderBy(col("doc_id"))
  }

  def indexMaintenanceSql(): String =
    s"""WITH sigs AS ($signaturesSql),
       |bands AS (
       |  SELECT doc_id, band, SUM(w * mh) AS bandkey
       |  FROM sigs GROUP BY doc_id, band),
       |snap_bands AS (
       |  SELECT DISTINCT band, bandkey FROM bands
       |  WHERE doc_id % 10 < $SnapshotMod),
       |delta_bands AS (
       |  SELECT * FROM bands WHERE doc_id % 10 >= $SnapshotMod),
       |snap_texts AS (
       |  SELECT DISTINCT text FROM documents WHERE doc_id % 10 < $SnapshotMod),
       |delta AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE doc_id % 10 >= $SnapshotMod),
       |before_exact AS (
       |  SELECT DISTINCT d.doc_id FROM delta d JOIN snap_texts USING (text)),
       |before_near AS (
       |  SELECT DISTINCT b.doc_id FROM delta_bands b
       |  JOIN snap_bands s ON b.band = s.band AND b.bandkey = s.bandkey),
       |vb AS (
       |  SELECT d.doc_id, d.source, d.text,
       |    CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
       |         WHEN n.doc_id IS NOT NULL THEN 'near'
       |         ELSE 'novel' END AS verdict_before
       |  FROM delta d
       |  LEFT JOIN before_exact e ON d.doc_id = e.doc_id
       |  LEFT JOIN before_near n ON d.doc_id = n.doc_id),
       |novel AS (SELECT doc_id FROM vb WHERE verdict_before = 'novel'),
       |texts_after AS (
       |  SELECT text FROM snap_texts
       |  UNION
       |  SELECT d.text FROM delta d JOIN novel USING (doc_id)),
       |bands_after AS (
       |  SELECT band, bandkey FROM snap_bands
       |  UNION
       |  SELECT b.band, b.bandkey FROM delta_bands b JOIN novel USING (doc_id)),
       |after_exact AS (
       |  SELECT DISTINCT d.doc_id FROM delta d JOIN texts_after USING (text)),
       |after_near AS (
       |  SELECT DISTINCT b.doc_id FROM delta_bands b
       |  JOIN bands_after a ON b.band = a.band AND b.bandkey = a.bandkey)
       |SELECT v.doc_id, v.source, v.verdict_before,
       |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
       |       WHEN n.doc_id IS NOT NULL THEN 'near'
       |       ELSE 'novel' END AS verdict_after
       |FROM vb v
       |LEFT JOIN after_exact e ON v.doc_id = e.doc_id
       |LEFT JOIN after_near n ON v.doc_id = n.doc_id
       |ORDER BY v.doc_id""".stripMargin

  /** Pure per-document band-key computation over a shingle-id set —
    * the probe form of [[bandKeys]] for the streaming twin. Bit-parity
    * with the relational path: sid < P (~2^20) so `sid*a + b` stays
    * far below Long overflow, and each band's weighted minhash sum is
    * < 4·29791·P < 2^38, so encoding the band ordinal in the top bits
    * (b << 48) is collision-free. Empty sid set (doc under 3 words) →
    * no bands, same as the relational side emitting no signature row. */
  def bandKeysOf(sids: Iterable[Long]): Array[Long] =
    if (sids.isEmpty) Array.empty
    else {
      val mh = Array.tabulate(NumHashes)(j =>
        sids.iterator.map(sid => (sid * aj(j) + bj(j)) % Corpus.P).min)
      Array.tabulate(4)(b =>
        (b.toLong << 48) |
          (0 until 4).map(i => mh(4 * b + i) * bandWeight(i)).sum)
    }

  /** d29's snapshot LSH band index in PROBE form: the distinct
    * (band, bandkey) set, band-encoded per [[bandKeysOf]]. Driver-side
    * Set because the streaming twin broadcasts it to every probe task —
    * at 100 TB this index lives in a shared KV/state store keyed the
    * same way and the probe is a point lookup; the collect here is the
    * test-scale stand-in for that seam (the BATCH key d29 never
    * collects it — it joins the index distributively). */
  def snapshotBandIndex(spark: SparkSession, dir: String): Set[Long] =
    bandKeys(signaturesWideFrom(
        docSids(spark, dir).filter(col("doc_id") % 10 < SnapshotMod)))
      .select(col("band"), col("bandkey")).distinct()
      .collect().map(r => (r.getLong(0) << 48) | r.getLong(1)).toSet

  /** d29's snapshot exact-identity index: distinct snapshot texts, kept
    * RELATIONAL (it joins the stream, stream-static). */
  def snapshotTexts(spark: SparkSession, dir: String): DataFrame =
    Corpus.docs(spark, dir)
      .filter(col("doc_id") % 10 < SnapshotMod)
      .select(col("text")).distinct()

  /** The corpus shingle dictionary as a driver map for the streaming
    * twin's per-row sid lookup (vocabulary-sized, the same collect
    * class as the trained-codebook keys; at real scale the dictionary
    * is dropped for xxhash64 — see [[Corpus]]). */
  def shingleDictMap(spark: SparkSession, dir: String): Map[String, Long] =
    Corpus.shingleDict(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Materialize the tokenize-once silver relations shared by the dedup
    * family (d2/d4/d6/d7 read [[docSids]]; d9/d10 read [[docSidsXx]]).
    * In production these are written-once shingle tables; Bench calls this
    * in its warmup so no single query eats the shared build. */
  def warm(spark: SparkSession, dir: String): Unit = {
    docSids(spark, dir).count()
    docSidsXx(spark, dir).count()
    ngramJaccard(spark, dir, 0.5).count() // d6/d7/c1's shared edge relation
    dupClusters(spark, dir).count()       // the CC labels d6 and c1 both read
    minhashLsh(spark, dir).count()        // d2/d7's shared candidate relation
  }
}
