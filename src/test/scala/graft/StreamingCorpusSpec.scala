package graft

import graft.streaming.StreamingCorpus
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path}

/** Streaming corpus ingest: watermark-bounded exact dedup + stateless
  * quality gate over a document file stream, and their agreement with the
  * batch twins (d1 content identity, t2 rubric). */
class StreamingCorpusSpec extends GraftSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ts", TimestampType),
    StructField("text", StringType)))

  private def doc(id: Long, ts: String, text: String) =
    s"""{"doc_id": $id, "ts": "$ts", "text": ${ujsonStr(text)}}"""
  private def ujsonStr(s: String) = "\"" + s.replace("\"", "\\\"") + "\""

  private def runStream(in: Path, transform: org.apache.spark.sql.DataFrame
      => org.apache.spark.sql.DataFrame, sinkName: String): Unit = {
    val ckpt = tempDir(s"${sinkName}_ckpt")
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1).json(in.toString)
    val q = transform(stream).writeStream
      .outputMode("append").format("memory").queryName(sinkName)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("streaming dedup keeps first arrival, drops within-watermark duplicate content") {
    val in = tempDir("stream_docs")
    // batch 1: two distinct docs
    Files.writeString(in.resolve("a.json"), Seq(
      doc(1, "2024-03-01T10:00:00", "The cat sat!"),
      doc(2, "2024-03-01T10:05:00", "a dog ran")).mkString("\n"))
    // batch 2: doc 3 normalizes to doc 1's content ("the cat sat") and is
    // within the 30-min watermark -> dropped; doc 4 is new content
    Files.writeString(in.resolve("b.json"), Seq(
      doc(3, "2024-03-01T10:10:00", "the cat sat"),
      doc(4, "2024-03-01T10:20:00", "totally new text")).mkString("\n"))

    runStream(in, StreamingCorpus.dedupWithinWatermark(_), "dedup_stream")
    val kept = spark.sql("SELECT doc_id FROM dedup_stream ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(1L, 2L, 4L))
  }

  test("streaming quality gate verdict is bit-identical to the batch t2 rubric") {
    val in = tempDir("stream_gate")
    val good = ("it was the best of times and the worst of times " * 4).trim // all 4 bands: score 100
    val short = "too short"                 // fails length+stopword bands: score 50
    val digits = "2024 9981 777 31337 404 500 12 99 1000 12345 42 7 8 9 10 11 12 13 14 15 16 17 18 19 20" // only length band: score 25
    Files.writeString(in.resolve("a.json"), Seq(
      doc(1, "2024-03-01T10:00:00", good),
      doc(2, "2024-03-01T10:01:00", short)).mkString("\n"))
    Files.writeString(in.resolve("b.json"), Seq(
      doc(3, "2024-03-01T10:02:00", digits)).mkString("\n"))

    runStream(in, StreamingCorpus.qualityGate(_, minScore = 75L), "gate_stream")
    val streamed = spark.sql("SELECT doc_id, quality_score FROM gate_stream ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    // batch twin: same rubric column over a static read of the same files
    val batch = spark.read.schema(docSchema).json(in.toString)
      .withColumn("quality_score", TextAnalysis.qualityScoreCol)
      .filter(col("quality_score") >= 75L)
      .select(col("doc_id"), col("quality_score")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    assert(streamed === batch)
    assert(streamed.map(_._1) === Seq(1L)) // only the good doc passes
  }

  test("composed corpus ingest gates then dedups (rejected docs never enter state)") {
    val in = tempDir("stream_corpus")
    val good = ("it was the best of times and the worst of times " * 4).trim
    Files.writeString(in.resolve("a.json"), Seq(
      doc(1, "2024-03-01T10:00:00", good),
      doc(2, "2024-03-01T10:01:00", "junk")).mkString("\n")) // "junk" scores 50 < 75
    Files.writeString(in.resolve("b.json"), Seq(
      doc(3, "2024-03-01T10:05:00", good), // duplicate of kept doc 1 -> dropped
      doc(4, "2024-03-01T10:06:00", "junk")).mkString("\n")) // gated, not deduped

    runStream(in, StreamingCorpus.corpusIngest(_, minScore = 75L), "corpus_stream")
    val kept = spark.sql("SELECT doc_id FROM corpus_stream ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(1L))
  }

  test("streaming decontamination gate drops benchmark-overlapping docs, map-side") {
    val in = tempDir("stream_decon")
    val leaked = "alpha beta gamma delta epsilon zeta"     // shares all shingles w/ benchmark
    val clean = "one two three four five six seven eight"  // disjoint shingles
    Files.writeString(in.resolve("a.json"), Seq(
      doc(1, "2024-03-01T10:00:00", leaked),
      doc(2, "2024-03-01T10:01:00", clean),
      doc(3, "2024-03-01T10:02:00", "tiny")).mkString("\n")) // too short to shingle -> passes

    // benchmark set = the leaked text's shingles (stand-in for the eval suite)
    val bench = Seq("alpha beta gamma", "beta gamma delta", "gamma delta epsilon",
      "delta epsilon zeta").toArray
    runStream(in, StreamingCorpus.decontaminationGate(_, bench), "decon_stream")
    val kept = spark.sql("SELECT doc_id FROM decon_stream ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(2L, 3L))

    // benchmarkShingles agrees with the batch d12 benchmark definition
    val fromCorpus = StreamingCorpus.benchmarkShingles(spark, sfDir)
    val expected = graft.text.Corpus.docShingles(spark, sfDir)
      .filter(col("doc_id") % 97 === 0).select("shingle").distinct().count()
    assert(fromCorpus.length.toLong === expected)
  }

  test("streaming span gate drops long verbatim quotes, keeps scattered overlap") {
    val in = tempDir("stream_span")
    // quoted: 6 consecutive benchmark shingles = 8-token span (>= 7 gate)
    val quoted = "alpha beta gamma delta epsilon zeta eta theta"
    // scattered: shares isolated shingles, no run longer than 1 (3 tokens)
    val scattered = "alpha beta gamma one two three delta epsilon zeta"
    Files.writeString(in.resolve("a.json"), Seq(
      doc(1, "2024-03-01T10:00:00", quoted),
      doc(2, "2024-03-01T10:01:00", scattered),
      doc(3, "2024-03-01T10:02:00", "tiny")).mkString("\n")) // no shingles -> passes
    val bench = (0 until 6).map(i =>
      quoted.split(" ").slice(i, i + 3).mkString(" ")).toArray
    runStream(in, StreamingCorpus.spanGate(_, bench, minSpanTokens = 7L),
      "span_stream")
    val kept = spark.sql("SELECT doc_id FROM span_stream ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(2L, 3L))
  }

  test("span gate verdict is bit-identical to batch d18's flag") {
    // the gate over the static corpus (gates are plain column logic, so
    // they run batch unchanged) must keep exactly d18's unflagged docs
    val bench = StreamingCorpus.benchmarkShingles(spark, sfDir)
    val candidates = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 97 =!= 0)
    val kept = StreamingCorpus.spanGate(candidates, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val unflagged = graft.text.CorpusPrep.contaminationSpan(spark, sfDir)
      .filter(!col("flagged")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === unflagged,
      "streaming span verdicts must match batch d18 exactly")
  }

  test("streaming surprisal gate scores bit-identically to batch t13") {
    val in = tempDir("stream_lm")
    // stream the REAL corpus documents so the parity claim is over the
    // exact population t13 scores — INCLUDING the capped-vocab OOV rule:
    // words outside the top-K fit must be charged the same derived
    // max-bits bucket by the map-literal fold as by the batch join+agg
    val docsJson = graft.text.Corpus.docs(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => doc(r.getLong(0), "2024-03-01T10:00:00", r.getString(1)))
    Files.writeString(in.resolve("a.json"), docsJson.take(100).mkString("\n"))
    Files.writeString(in.resolve("b.json"), docsJson.drop(100).mkString("\n"))

    val vocab = StreamingCorpus.lmVocabBits(spark, sfDir)
    val oov = StreamingCorpus.lmOovBits(spark, sfDir)
    runStream(in,
      StreamingCorpus.surprisalGate(_, vocab, maxBits = 1e9, oovBits = oov),
      "lm_stream")
    val streamed = spark.sql("SELECT doc_id, bits_per_token FROM lm_stream ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = TextAnalysis.lmSurprisal(spark, sfDir)
      .select("doc_id", "bits_per_token").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed === batch,
      "streaming LM score must equal the batch t13 relation exactly")
  }

  test("surprisal gate drops OOV garbage, keeps common-word text") {
    val in = tempDir("stream_lm_gate")
    val vocab = StreamingCorpus.lmVocabBits(spark, sfDir)
    val oov = StreamingCorpus.lmOovBits(spark, sfDir)
    assert(oov > 12L, "fixture OOV charge must exceed the gate threshold")
    val commonWord = vocab.minBy(_._2)._1 // most frequent -> fewest bits
    Files.writeString(in.resolve("a.json"), Seq(
      doc(1, "2024-03-01T10:00:00", s"$commonWord $commonWord $commonWord"),
      doc(2, "2024-03-01T10:01:00", "zzyzx qwfp xyzzy plugh")).mkString("\n"))
    runStream(in,
      StreamingCorpus.surprisalGate(_, vocab, maxBits = 12.0, oovBits = oov),
      "lm_gate_stream")
    val kept = spark.sql("SELECT doc_id FROM lm_gate_stream ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(1L),
      s"OOV-only doc must be gated ($oov bits/token > 12)")
  }

  test("streaming sample gate selects exactly the batch p13 sample") {
    val in = tempDir("stream_sample")
    val docsJson = graft.text.Corpus.docs(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => doc(r.getLong(0), "2024-03-01T10:00:00", r.getString(1)))
    Files.writeString(in.resolve("a.json"), docsJson.take(250).mkString("\n"))
    Files.writeString(in.resolve("b.json"), docsJson.drop(250).mkString("\n"))
    runStream(in, StreamingCorpus.sampleGate(_, perMille = 100), "sample_stream")
    val streamed = spark.sql("SELECT doc_id FROM sample_stream")
      .collect().map(_.getLong(0)).toSet
    val batch = graft.text.CorpusPrep.sampleDocs(spark, sfDir, perMille = 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batch.nonEmpty && streamed === batch,
      "the streamed sample must be the identical corpus slice as batch p13")
  }

  test("streaming budget gate admits exactly the docs the fitted p17 plan " +
    "admits under the in-stream language prediction") {
    val in = tempDir("stream_budget")
    val docsRows = graft.text.Corpus.docs(spark, sfDir)
      .select("doc_id", "text").collect()
    Files.writeString(in.resolve("a.json"),
      docsRows.map(r => doc(r.getLong(0), "2024-03-01T10:00:00",
        r.getString(1))).mkString("\n"))
    val plan = StreamingCorpus.budgetPlan(spark, sfDir)
    assert(plan.nonEmpty)
    runStream(in, StreamingCorpus.budgetGate(_, plan), "budget_stream")
    val streamed = spark.sql("SELECT doc_id FROM budget_stream")
      .collect().map(_.getLong(0)).toSet
    // in-process application of the same rule: predicted lang + t2 level
    // -> plan fill, admit iff budget bucket clears it
    val verdicts = graft.text.Corpus.docsTok(spark, sfDir)
      .select(col("doc_id"),
        graft.text.TextAnalysis.langPredCol.as("lp"),
        graft.text.TextAnalysis.qualityScoreColOf(col("words")).as("q"),
        graft.text.CorpusPrep.budgetBucket(col("doc_id")).as("b"))
      .collect()
      .filter(r => r.getLong(3) <
        plan.getOrElse((r.getString(1), r.getLong(2)), 0L))
      .map(_.getLong(0)).toSet
    assert(verdicts.nonEmpty && streamed === verdicts,
      "gate must admit exactly the plan's admissions")
    assert(streamed.size < docsRows.length, "the budget must bite")
  }

  test("streaming charset gate keeps exactly the docs batch t18 rates at " +
    "or above the ascii threshold; garbage is dropped") {
    val in = tempDir("stream_charset")
    val docsJson = graft.text.Corpus.docs(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => doc(r.getLong(0), "2024-03-01T10:00:00", r.getString(1)))
    // append one mojibake doc that must be gated (ascii_ratio ~ 0)
    val garbage = doc(999999L, "2024-03-01T10:00:01",
      "äöüßéèêëìí")
    Files.writeString(in.resolve("a.json"),
      (docsJson :+ garbage).mkString("\n"))
    runStream(in, StreamingCorpus.charsetGate(_, minAsciiPerMille = 900),
      "charset_stream")
    val streamed = spark.sql("SELECT doc_id FROM charset_stream")
      .collect().map(_.getLong(0)).toSet
    assert(!streamed.contains(999999L), "mojibake doc must be gated")
    val batch = graft.text.TextAnalysis.charsetProfile(spark, sfDir).collect()
      .filter(r => r.getAs[Long]("n_chars") * 900 <=
        1000 * (r.getAs[Long]("n_chars") - r.getAs[Long]("n_non_ascii")))
      .map(_.getAs[Long]("doc_id")).toSet
    assert(batch.nonEmpty && streamed === batch,
      "streamed charset verdicts must equal the batch t18 profile's")
  }

  test("streaming Bloom gate drops every historical doc (one-sided) and " +
    "matches the batch mask verdict on novel docs") {
    import graft.analytics.Sketches
    val in = tempDir("stream_bloom")
    val mask = StreamingCorpus.historicalBloomMask(spark, sfDir)
    // replay 20 docs ALREADY in the lake + 20 novel docs
    val historical = graft.text.Corpus.docs(spark, sfDir)
      .select("doc_id", "text").limit(20).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val novel = (0 until 20)
      .map(i => (100000L + i, s"genuinely novel arrival number $i with unique content"))
    Files.writeString(in.resolve("a.json"),
      (historical ++ novel).map { case (id, t) =>
        doc(id, "2024-03-01T10:00:00", t) }.mkString("\n"))
    runStream(in, StreamingCorpus.bloomDedupGate(_, mask), "bloom_stream")
    val streamed = spark.sql("SELECT doc_id FROM bloom_stream")
      .collect().map(_.getLong(0)).toSet
    // one-sided: no historical doc may pass the gate
    historical.foreach { case (id, _) =>
      assert(!streamed.contains(id), s"historical doc $id re-entered")
    }
    // batch parity: survivors = exactly the rows the batch-side mask
    // probe passes (novel docs minus deterministic false positives)
    val batchPass = Sketches.withBloomPass(
        spark.read.schema(docSchema).json(in.toString)
          .withColumn("content_hash", StreamingCorpus.contentHashCol),
        col("content_hash"), mask)
      .filter(!col("bloom_pass"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(streamed === batchPass,
      "streamed Bloom verdicts must equal the batch mask probe")
    // the gate is useful, not degenerate: most novel docs survive
    assert(streamed.size >= 15, s"fp rate degenerate: ${streamed.size}/20 novel kept")
  }
}
