package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.Streaming
import graft.browser.ReportItem
import graft.cells._
import graft.materialize.Materialize
import graft.formats.Formats

/** Streaming + materialize + report coverage: drive a real streaming query
  * from the events parquet through a memory sink, and exercise the
  * materialization/report/format paths end-to-end. */
class StreamingSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._
  // read parquet TIMESTAMP(NANOS) columns as int64 nanos, the form
  // eventsTable rebuilds timestamps from
  spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  private def eventsDf =
    graft.tpch.EventsModel.eventsTable(spark, "/root/testdata/sf0.001")

  test("eventsTable rebuilds int64-nanos ts with exact integral division") {
    // ns offsets exercise the boundary the old double-division got wrong
    // (256ns ulp at epoch magnitude → off-by-1µs truncation)
    val base = 1706745600000000000L // 2024-02-01T00:00:00Z in ns
    val offs = Seq(0L, 999L, 1000L, 1001L, 999999L, 987654321999L)
    val df = offs.zipWithIndex.map { case (off, i) =>
      (i.toLong, base + off, i.toLong, "click", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_ns_events")
    df.write.mode("overwrite").parquet(dir.toString + "/events.parquet")
    val got = graft.tpch.EventsModel.eventsTable(spark, dir.toString)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    offs.zipWithIndex.foreach { case (off, i) =>
      assert(got(i.toLong) == (base + off) / 1000L,
        s"off=$off: ${got(i.toLong)} != ${(base + off) / 1000L}")
    }
  }

  test("streaming hourly windowed aggregation matches the batch twin") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toFile
    eventsDf.write.mode("overwrite").parquet(dir.getAbsolutePath + "/in")
    val schema = eventsDf.schema
    val stream = spark.readStream.schema(schema)
      .parquet(dir.getAbsolutePath + "/in")
    val q = Streaming.hourlyCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT cast(hour_start AS LONG) h, event_type, n_events FROM hourly")
        .as[(Long, String, Long)].collect().toSet
      val batch = eventsDf
        .groupBy(window(col("ts"), "1 hour").getField("start").cast("long").as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .as[(Long, String, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()

    // the watermark must survive into the aggregation: append mode (which
    // REQUIRES watermarked streaming aggregation) must start cleanly
    val qa = Streaming.hourlyCounts(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("hourly_append").start()
    try qa.processAllAvailable() finally qa.stop()
  }

  test("streaming exact dedup drops in-horizon duplicates, keeps state bounded") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sdedup").toFile
    // duplicate rows (same user/type/value) inside one watermark horizon
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "view", 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 7L, "view", 1.0), // dup
      (3L, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 7L, "buy", 2.0),
      (4L, java.sql.Timestamp.valueOf("2024-01-01 10:20:00"), 8L, "view", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    rows.write.mode("overwrite").parquet(dir.getAbsolutePath + "/in")
    val stream = spark.readStream.schema(rows.schema)
      .parquet(dir.getAbsolutePath + "/in")
    val q = Streaming.dedupExact(stream, "ts",
        Seq("user_id", "event_type", "value"))
      .writeStream.outputMode("append")
      .format("memory").queryName("sdedup").start()
    try {
      q.processAllAvailable()
      val kept = spark.sql("SELECT user_id, event_type FROM sdedup")
        .as[(Long, String)].collect().toSet
      assert(kept == Set((7L, "view"), (7L, "buy"), (8L, "view")))
      assert(spark.sql("SELECT count(*) FROM sdedup").as[Long].head() == 3L)
    } finally q.stop()
  }

  test("streaming corpus filter (langid/quality/PII) equals its batch twin row-for-row") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        concat(col("text"), lit(" contact me@example.com or https://x.example/z"))
          .as("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_corpus_stream").toFile
    docs.write.mode("overwrite").parquet(dir.getAbsolutePath + "/in")
    val stream = spark.readStream.schema(docs.schema)
      .parquet(dir.getAbsolutePath + "/in")
    val q = Streaming.filterDocuments(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("corpus_filtered").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT doc_id, lang, quality, n_url, n_email, text FROM corpus_filtered")
        .collect().map(_.toSeq).toSet
      val batch = Streaming.filterDocuments(docs)
        .select("doc_id", "lang", "quality", "n_url", "n_email", "text")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
      // the injected PII was counted and masked in every surviving row
      val one = batch.head
      assert(one(3).asInstanceOf[Long] >= 1L && one(4).asInstanceOf[Long] >= 1L)
      assert(one(5).asInstanceOf[String].contains("<EMAIL>"))
      assert(one(5).asInstanceOf[String].contains("<URL>"))
    } finally q.stop()
  }

  test("sftMaskStats streams unchanged — per-row folds, no shuffle") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(200)
      .select(col("doc_id"), concat(
        lit("[{\"role\":\"user\",\"content\":\"q\"},"),
        lit("{\"role\":\"assistant\",\"content\":\"a"),
        (col("doc_id") % 5).cast("string"), lit("\"}]")).as("convo"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sft_stream").toFile
    docs.write.mode("overwrite").parquet(dir.getAbsolutePath + "/in")
    val stream = spark.readStream.schema(docs.schema)
      .parquet(dir.getAbsolutePath + "/in")
    val q = graft.ops.SemiStructured.sftMaskStats(stream, "doc_id", "convo")
      .writeStream.outputMode("append")
      .format("memory").queryName("sft_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM sft_stream")
        .collect().map(_.toSeq).toSet
      val batch = graft.ops.SemiStructured
        .sftMaskStats(docs, "doc_id", "convo")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(batch.size == 200)
    } finally q.stop()
  }

  test("streaming mixture sampling equals its batch twin row-for-row") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_mix_stream").toFile
    docs.write.mode("overwrite").parquet(dir.getAbsolutePath + "/in")
    val stream = spark.readStream.schema(docs.schema)
      .parquet(dir.getAbsolutePath + "/in")
    val weights = Map("src0" -> 0.0, "src1" -> 0.5, "src2" -> 2.25)
    val q = Streaming.sampleMixture(stream, "source", "text", weights)
      .writeStream.outputMode("append")
      .format("memory").queryName("mix_sampled").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, source, epoch FROM mix_sampled")
        .collect().map(_.toSeq).toSet
      val batch = graft.ops.Corpus.sampleMixture(docs, "source", "text", weights)
        .select("doc_id", "source", "epoch")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
      // the drop weight binds in the streamed output too
      assert(!streamed.exists(_(1) == "src0"))
    } finally q.stop()
  }

  test("streaming winnowing equals its batch twin row-for-row") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(120)
    val dir = java.nio.file.Files.createTempDirectory("graft_winnow_stream")
      .toFile
    docs.write.mode("overwrite").parquet(dir.getAbsolutePath + "/in")
    val stream = spark.readStream.schema(docs.schema)
      .parquet(dir.getAbsolutePath + "/in")
    val q = Streaming.winnowFingerprints(stream, "doc_id", "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("winnow_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, pos, h FROM winnow_stream")
        .collect().map(_.toSeq).toSet
      val batch = graft.ops.Dedup.winnowFingerprints(docs, "doc_id", "text")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("foreachBatch decontamination equals its batch twin row-for-row") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(100)
    val bench = docs.filter(col("doc_id") % 10 === 0).select("text")
    val dir = java.nio.file.Files.createTempDirectory("graft_decon_stream").toFile
    docs.write.mode("overwrite").parquet(dir.getAbsolutePath + "/in")
    val stream = spark.readStream.schema(docs.schema)
      .parquet(dir.getAbsolutePath + "/in")
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val fb = Streaming.decontaminateForEachBatch(
      bench, "text", 8, "doc_id", "text") { out =>
      got ++= out.collect().map(_.toSeq)
    }
    val q = stream.writeStream.outputMode("append").foreachBatch(fb).start()
    try {
      q.processAllAvailable()
      val batch = graft.ops.Dedup.decontaminate(
        docs, "doc_id", "text", bench, "text", n = 8)
        .collect().map(_.toSeq).toSet
      assert(got.toSet == batch)
      // contamination binds: the benchmark docs themselves are flagged
      assert(got.exists(r => r(2) == true))
    } finally q.stop()
  }

  test("streaming minhash probe vs a FROZEN corpus index equals its " +
      "batch twin on the union of micro-batches") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    // two crawl batches; copies of corpus docs under fresh ids guarantee
    // pairs above threshold in BOTH micro-batches
    val b1 = docs.filter(col("doc_id") % 3 === 1).limit(40)
      .unionAll(corpus.limit(3)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val b2 = docs.filter(col("doc_id") % 3 === 2).limit(40)
      .unionAll(corpus.limit(5).filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mh_probe_stream").toFile
    val in = dir.getAbsolutePath + "/in"
    b1.write.parquet(in)
    val stream = spark.readStream.schema(docs.schema).parquet(in)
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    var batches = 0
    val fb0 = Streaming.minhashProbeStream(corpus, "doc_id", "text",
      threshold = 0.2) { out => got ++= out.collect().map(_.toSeq) }
    val fb = (d: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        id: Long) => { batches += 1; fb0(d, id) }
    val q = stream.writeStream.outputMode("append").foreachBatch(fb).start()
    try {
      q.processAllAvailable()
      b2.write.mode("append").parquet(in)
      q.processAllAvailable()
      assert(batches >= 2, "fixture must exercise more than one micro-batch")
      // batch twin over exactly the rows the stream saw
      val union = spark.read.parquet(in)
      val batch = graft.ops.Dedup.minhashNearDupsAgainst(
        union, corpus, "doc_id", "text", threshold = 0.2)
        .collect().map(_.toSeq).toSet
      assert(got.toSet == batch)
      assert(batch.nonEmpty)
      // the injected copies surface in both batches' probes
      assert(got.exists(r => r.head.asInstanceOf[Long] >= 100000L &&
        r.head.asInstanceOf[Long] < 200000L))
      assert(got.exists(r => r.head.asInstanceOf[Long] >= 200000L))
    } finally { q.stop(); graft.ops.Caches.releaseAll() }
  }

  test("streaming IVF probe vs a FROZEN index equals its batch twin on " +
      "the union of micro-batches, at a genuinely approximate depth") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") >= 20)
    val b1 = emb.filter(col("vec_id") < 10)
    val b2 = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
    val index = graft.ops.Similarity.ivfBuild(corpus, "vec_id",
      "embedding", nCentroids = 4)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_probe_stream").toFile
    val in = dir.getAbsolutePath + "/in"
    b1.write.parquet(in)
    val stream = spark.readStream.schema(emb.schema).parquet(in)
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    var batches = 0
    // nProbe=2 of 4 centroids: approximate routing, so stream ≡ batch
    // proves identical ROUTING per batch, not just agreeing top-k
    val fb0 = Streaming.ivfProbeStream(index, "vec_id", "embedding",
      k = 3, nProbe = 2) { out => got ++= out.collect().map(_.toSeq) }
    val fb = (d: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        id: Long) => { batches += 1; fb0(d, id) }
    val q = stream.writeStream.outputMode("append").foreachBatch(fb).start()
    try {
      q.processAllAvailable()
      b2.write.mode("append").parquet(in)
      q.processAllAvailable()
      assert(batches >= 2, "fixture must exercise more than one micro-batch")
      val batch = graft.ops.Similarity.ivfTopKWith(index,
        spark.read.parquet(in), "vec_id", "embedding", 3, nProbe = 2)
        .collect().map(_.toSeq).toSet
      assert(got.toSet == batch && batch.nonEmpty)
      assert(got.size == 20 * 3, "every query row yields k neighbors")
    } finally { q.stop(); graft.ops.Caches.releaseAll() }
  }

  test("foreachBatch unigram-tokenizer fertility equals its batch twin " +
      "row-for-row (piece table trained once from the static corpus)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(120)
    val train = docs.filter(col("doc_id") % 4 === 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_uenc_stream").toFile
    docs.write.mode("overwrite").parquet(dir.getAbsolutePath + "/in")
    val stream = spark.readStream.schema(docs.schema)
      .parquet(dir.getAbsolutePath + "/in")
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val fb = Streaming.unigramEncodeForEachBatch(train, "text",
      "doc_id", "text") { out => got ++= out.collect().map(_.toSeq) }
    val q = stream.writeStream.outputMode("append").foreachBatch(fb).start()
    try {
      q.processAllAvailable()
      val trained = graft.ops.Corpus.trainUnigramLm(train, "text")
        .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
      val batch = graft.ops.Corpus.unigramEncodeStats(
        docs, "doc_id", "text", trained)
        .collect().map(_.toSeq).toSet
      assert(got.toSet == batch && batch.nonEmpty)
    } finally { q.stop(); graft.ops.Caches.releaseAll() }
  }

  test("foreachBatch LM scoring equals its batch twin row-for-row") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(120)
    val train = docs.filter(col("doc_id") % 4 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_lm_stream").toFile
    docs.write.mode("overwrite").parquet(dir.getAbsolutePath + "/in")
    val stream = spark.readStream.schema(docs.schema)
      .parquet(dir.getAbsolutePath + "/in")
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val fb = Streaming.lmScoreForEachBatch(train, "text",
      "doc_id", "text") { out => got ++= out.collect().map(_.toSeq) }
    val q = stream.writeStream.outputMode("append").foreachBatch(fb).start()
    try {
      q.processAllAvailable()
      val batch = graft.ops.Corpus.lmScore(
        docs, "doc_id", "text", train, "text")
        .collect().map(_.toSeq).toSet
      assert(got.toSet == batch && batch.nonEmpty)
    } finally { q.stop(); graft.ops.Caches.releaseAll() }
  }

  test("streaming contamination spans vs a FROZEN benchmark gram set " +
      "equal the batch twin on the union of micro-batches") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 7 === 0)
      .select(col("text"))
    val rest = docs.filter(col("doc_id") % 7 =!= 0)
    val b1 = rest.filter(col("doc_id") % 2 === 0)
    val b2 = rest.filter(col("doc_id") % 2 =!= 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_contam_stream").toFile
    val in = dir.getAbsolutePath + "/in"
    b1.write.parquet(in)
    val stream = spark.readStream.schema(docs.schema).parquet(in)
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    var batches = 0
    val fb0 = Streaming.contaminationSpansStream(bench, "text", 4,
      "doc_id", "text") { out => got ++= out.collect().map(_.toSeq) }
    val fb = (d: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        id: Long) => { batches += 1; fb0(d, id) }
    val q = stream.writeStream.outputMode("append").foreachBatch(fb).start()
    try {
      q.processAllAvailable()
      b2.write.mode("append").parquet(in)
      q.processAllAvailable()
      assert(batches >= 2, "fixture must exercise more than one micro-batch")
      val union = spark.read.parquet(in)
      val batch = graft.ops.Dedup.contaminationSpans(
        union, "doc_id", "text", bench, "text", minLen = 4)
        .collect().map(_.toSeq).toSet
      assert(got.toSet == batch && batch.nonEmpty)
    } finally { q.stop(); graft.ops.Caches.releaseAll() }
  }

  test("foreachBatch KN bigram scoring equals its batch twin row-for-row") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(120)
    val train = docs.filter(col("doc_id") % 4 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_kn_stream").toFile
    docs.write.mode("overwrite").parquet(dir.getAbsolutePath + "/in")
    val stream = spark.readStream.schema(docs.schema)
      .parquet(dir.getAbsolutePath + "/in")
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val fb = Streaming.knScoreForEachBatch(train, "text",
      "doc_id", "text") { out => got ++= out.collect().map(_.toSeq) }
    val q = stream.writeStream.outputMode("append").foreachBatch(fb).start()
    try {
      q.processAllAvailable()
      val batch = graft.ops.Corpus.knScore(
        docs, "doc_id", "text", train, "text")
        .collect().map(_.toSeq).toSet
      assert(got.toSet == batch && batch.nonEmpty)
    } finally { q.stop(); graft.ops.Caches.releaseAll() }
  }

  test("streaming per-key cap admits at most maxPerKey across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cap_stream").toFile
    val in = dir.getAbsolutePath + "/in"
    // batch 1: a has 2 rows (under quota), b has 4 (over)
    Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L), ("b", 3L), ("b", 4L))
      .toDF("key", "ord").write.parquet(in)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("key",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ord",
          org.apache.spark.sql.types.LongType))))
      .parquet(in).as[(String, Long)]
    val q = Streaming.capPerKeyStream(stream, maxPerKey = 3)
      .toDF("key", "ord").writeStream.outputMode("append")
      .format("memory").queryName("capped").start()
    try {
      q.processAllAvailable()
      val b1 = spark.sql("SELECT key, ord FROM capped")
        .as[(String, Long)].collect()
      // a fully admitted (2 < 3); b capped at 3
      assert(b1.count(_._1 == "a") == 2)
      assert(b1.count(_._1 == "b") == 3)
      // batch 2: one more row per key — a admits it (2+1=3), b is full
      Seq(("a", 9L), ("b", 9L)).toDF("key", "ord")
        .write.mode("append").parquet(in)
      q.processAllAvailable()
      val b2 = spark.sql("SELECT key, ord FROM capped")
        .as[(String, Long)].collect()
      assert(b2.count(_._1 == "a") == 3 && b2.exists(r => r == ("a", 9L)))
      assert(b2.count(_._1 == "b") == 3 && !b2.exists(r => r == ("b", 9L)))
    } finally q.stop()
  }

  test("stateful sessionization emits closed sessions") {
    val events = Seq(
      Streaming.Event(1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1, "a", 1.0),
      Streaming.Event(2, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 1, "a", 1.0),
      Streaming.Event(3, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 1, "a", 1.0),
      Streaming.Event(4, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 2, "b", 1.0)
    ).toDS()
    // batch execution of the same stateful function
    val out = Streaming.sessionize(events).collect()
    // user 1: session of 2 events closed by the 2h gap (3rd stays open in
    // state; batch mode flushes per-group iteration, emitting 1 closed)
    val closed = out.filter(_.user_id == 1)
    assert(closed.length == 1 && closed.head.n_events == 2)
  }

  test("sessionize: a late event across micro-batches widens the session, never splits it") {
    // drive the per-batch fold directly (exactly what each micro-batch
    // executes), threading state across "batches"
    val gap = 30 * 60 * 1000L
    def min(m: Long) = m * 60 * 1000L
    // batch 1: event at minute 50
    val (s1, c1) = Streaming.foldEvents(42, Seq(min(50)), None, gap)
    assert(c1.isEmpty && s1.exists(s => s.start == min(50) && s.last == min(50)))
    // batch 2: LATE event at minute 21 — within [start-gap, last+gap]:
    // must merge by widening start, never drag `last` backward
    val (s2, c2) = Streaming.foldEvents(42, Seq(min(21)), s1, gap)
    assert(c2.isEmpty)
    assert(s2.exists(s => s.n == 2 && s.start == min(21) && s.last == min(50)))
    // batch 3: minute 70 — 20 min after the true last (50): same session.
    // (Pre-fix state had last=21, so 70-21 > gap wrongly split here.)
    val (s3, c3) = Streaming.foldEvents(42, Seq(min(70)), s2, gap)
    assert(c3.isEmpty, c3.mkString(","))
    assert(s3.exists(s => s.n == 3 && s.start == min(21) && s.last == min(70)))
    // batch 4: far future closes the session via the forward gap
    val (s4, c4) = Streaming.foldEvents(42, Seq(min(500)), s3, gap)
    assert(c4 == Seq(Streaming.SessionSummary(42, 3, min(21), min(70))))
    assert(s4.exists(_.n == 1))
    // a straggler older than start-gap emits as its own singleton
    val (s5, c5) = Streaming.foldEvents(42, Seq(min(400)), s4, gap)
    assert(c5 == Seq(Streaming.SessionSummary(42, 1, min(400), min(400))))
    assert(s5 == s4) // open session untouched
    // stragglers within the gap of EACH OTHER merge into one late session
    // (not singleton spam)
    val (s6, c6) = Streaming.foldEvents(42, Seq(min(400), min(410)), s4, gap)
    assert(c6 == Seq(Streaming.SessionSummary(42, 2, min(400), min(410))))
    assert(s6 == s4)
  }

  test("materialized denormalized view answers join-free queries") {
    val b = graft.tpch.TpchModel.browser(spark, "/root/testdata/sf0.001")
    Materialize.createView(b, "denorm_sales")
    val n = spark.sql(
      """SELECT `customer.region_name`, count(1) n FROM denorm_sales
        |WHERE `customer.region_name` = 'ASIA' GROUP BY 1""".stripMargin)
      .collect()
    assert(n.length == 1 && n.head.getLong(1) > 0)
  }

  test("pre-aggregated cuboids + csv/json writers") {
    val b = graft.tpch.TpchModel.browser(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_mat").toFile.getAbsolutePath
    Materialize.preAggregate(b, Seq("returnflag"), Seq("quantity_sum"), s"$dir/agg")
    val back = spark.read.parquet(s"$dir/agg")
    assert(back.count() == 3)
    Formats.writeCsv(back, s"$dir/csv")
    Formats.writeJsonLines(back, s"$dir/json")
    assert(spark.read.option("header", "true").csv(s"$dir/csv").count() == 3)
    assert(Formats.toJsonArray(back).startsWith("["))
  }

  test("xlsx writer emits a readable OOXML workbook") {
    val b = graft.tpch.TpchModel.browser(spark, "/root/testdata/sf0.001")
    val df = b.aggregate(drilldown = Seq("returnflag"),
      aggregates = Seq("quantity_sum")).cells
    val path = java.nio.file.Files.createTempDirectory("graft_xlsx")
      .resolve("out.xlsx").toString
    Formats.writeXlsx(df, path)
    val zf = new java.util.zip.ZipFile(path)
    try {
      val names = zf.entries().asIterator()
      val all = scala.collection.mutable.Set.empty[String]
      while (names.hasNext) all += names.next().getName
      assert(all.contains("xl/worksheets/sheet1.xml"))
      assert(all.contains("[Content_Types].xml"))
      val sheet = new String(
        zf.getInputStream(zf.getEntry("xl/worksheets/sheet1.xml")).readAllBytes())
      assert(sheet.contains("<t>returnflag</t>"))
      assert(sheet.split("<row>").length == 5) // header + 3 data rows
    } finally zf.close()

    // hostile cell values survive: newline+pipe text (stripMargin hazard),
    // NaN (not a valid xlsx number — becomes text), control chars dropped
    val tricky = Seq(("a\n  |b", Double.NaN, "ctlchar"))
      .toDF("s", "d", "c")
    val p2 = java.nio.file.Files.createTempDirectory("graft_xlsx2")
      .resolve("t.xlsx").toString
    Formats.writeXlsx(tricky, p2)
    val zf2 = new java.util.zip.ZipFile(p2)
    try {
      val sheet2 = new String(
        zf2.getInputStream(zf2.getEntry("xl/worksheets/sheet1.xml")).readAllBytes())
      assert(sheet2.contains("<t>a\n  |b</t>"), sheet2) // text intact
      assert(sheet2.contains("""<c t="inlineStr"><is><t>NaN</t>"""), sheet2)
      assert(sheet2.contains("<t>ctlchar</t>"), sheet2)
    } finally zf2.close()
  }

  test("streaming as-of join equals the batch operator across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Streaming.AsofEvent]
    val q = Streaming.asofJoinStream(ms.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_stream").start()
    // per-key time-ordered micro-batches (the in-order ingestion contract)
    val batch1 = Seq(
      Streaming.AsofEvent(1, 8, 0, 100, 1.0),  // right
      Streaming.AsofEvent(1, 10, 1, 1, 0.0),   // left → matches ts=8
      Streaming.AsofEvent(2, 5, 1, 2, 0.0))    // left before any right
    val batch2 = Seq(
      Streaming.AsofEvent(1, 15, 0, 101, 2.0), // newer right
      Streaming.AsofEvent(1, 15, 0, 102, 2.5), // same-ts tie → larger id wins
      Streaming.AsofEvent(1, 20, 1, 3, 0.0),   // left → 15/id102 via state
      Streaming.AsofEvent(2, 50, 0, 103, 3.0),
      Streaming.AsofEvent(2, 60, 1, 4, 0.0))   // left → matches ts=50
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT key, ts, id, matched_ts, value FROM asof_stream")
        .collect().map(_.toSeq).toSet
      val all = batch1 ++ batch2
      val left = all.filter(_.side == 1).map(e => (e.key, e.ts, e.id))
        .toDF("key", "ts", "id")
      val right = all.filter(_.side == 0).map(e => (e.key, e.ts, e.id, e.value))
        .toDF("key", "rts", "rid", "value")
      val batch = graft.ops.EventAnalytics.asofJoin(left, right,
        Seq("key"), "ts", "rts", Seq("value"), tieCol = Some("rid"))
        .select("key", "ts", "id", "matched_ts", "value")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(streamed.size == 4)
      // state carried across batches: the ts=20 left saw the tie winner
      assert(streamed.exists(r => r(2) == 3L && r(3) == 15L && r(4) == 2.5))
    } finally q.stop()
  }

  test("streaming as-of join never emits an anti-causal (future) match") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Streaming.AsofEvent]
    val q = Streaming.asofJoinStream(ms.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_late").start()
    try {
      // batch 1 installs right state at ts=100
      ms.addData(Seq(Streaming.AsofEvent(1, 100, 0, 900, 9.0)))
      q.processAllAvailable()
      // batch 2 delivers a LATE left at ts=50: the retained right is in
      // its future — must yield NO match, not matched_ts=100
      ms.addData(Seq(Streaming.AsofEvent(1, 50, 1, 1, 0.0),
        Streaming.AsofEvent(1, 200, 1, 2, 0.0)))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT id, matched_ts, value FROM asof_late ORDER BY id")
        .collect()
      assert(rows(0).isNullAt(1) && rows(0).isNullAt(2), rows.mkString(";"))
      assert(rows(1).getLong(1) == 100L && rows(1).getDouble(2) == 9.0)
    } finally q.stop()
  }

  test("report fan-out evaluates multiple verbs against one cell") {
    val b = graft.tpch.TpchModel.browser(spark, "/root/testdata/sf0.001")
    val cell = Cell(PointCut("customer", Seq("ASIA")))
    val r = b.report(cell, Map(
      "sums" -> ReportItem("aggregate", drilldown = Seq("returnflag"),
        aggregates = Seq("quantity_sum")),
      "rolled" -> ReportItem("aggregate", rollup = Some("customer"),
        aggregates = Seq("fact_count")),
      "nations" -> ReportItem("members", dim = Some("customer"), depth = Some(2))))
    assert(r("sums").count() == 3)
    // rolled-up cell drops the ASIA cut → grand total over all regions
    assert(r("rolled").collect().head.getAs[Long]("fact_count") > 0)
    assert(r("nations").count() > 0)
  }

  test("streaming anomaly flags equal the prequential batch op across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long, Long)]
    val q = Streaming.anomalousBucketsStream(ms.toDS(), zNum = 3, zDen = 2)
      .toDF("g", "bucket", "n", "anomalous")
      .writeStream.outputMode("append")
      .format("memory").queryName("anom_stream").start()
    // per-key in-order buckets; the spike arrives in a LATER micro-batch
    // so the flag must come from moments carried in state
    val batch1 = Seq(("a", 0L, 1L), ("a", 1L, 1L), ("b", 0L, 10L))
    val batch2 = Seq(("a", 2L, 1L), ("a", 3L, 1L), ("b", 1L, 10L))
    val batch3 = Seq(("a", 4L, 100L), ("b", 2L, 10L))
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      ms.addData(batch3); q.processAllAvailable()
      val streamed = spark.sql("SELECT g, bucket, n, anomalous FROM anom_stream")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toSet
      // batch twin over the same closed buckets, rebuilt as raw events
      val ev = (batch1 ++ batch2 ++ batch3).flatMap { case (g, b, n) =>
        (0L until n).map(i => (g, b * 3600000000L + i))
      }.toDF("g", "us").select(col("g"),
        timestamp_micros(col("us")).as("ts"))
      val batch = graft.ops.EventAnalytics.anomalousBucketsPrequential(
        ev, "g", "ts", zNum = 3, zDen = 2)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toSet
      assert(streamed == batch)
      // the cross-batch spike is flagged; constant series b never is
      assert(streamed.contains(("a", 4L, 100L, true)))
      assert(streamed.filter(_._1 == "b").forall(!_._4))
    } finally q.stop()
  }

  test("psiStream equals the batch PSI total at every micro-batch prefix") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val baseVals = (1L to 40L).map(_ % 10 + 1)
    val aDf = baseVals.toDF("v")
    val probs = Seq(10, 20, 30, 40, 50, 60, 70, 80, 90)
    val bs = graft.ops.Profiling.quantileBoundaries(aDf, "v", probs)
    val baseCounts = {
      val byBin = graft.ops.Profiling.quantileBuckets(aDf, "v", probs)
        .groupBy("bucket").count().collect()
        .map(r => r.getAs[Int]("bucket") -> r.getAs[Long]("count")).toMap
      (1 to bs.length + 1).map(b => byBin.getOrElse(b, 0L))
    }
    val ms = MemoryStream[Long]
    val q = Streaming.psiStream(ms.toDS(), bs, baseCounts)
      .toDF("n_seen", "psi")
      .writeStream.outputMode("update")
      .format("memory").queryName("psi_stream").start()
    val batch1 = Seq(1L, 2L, 9L, 9L, 10L)
    val batch2 = Seq(10L, 10L, 10L, 3L)
    def lastPsi(): (Long, Double) = {
      val rows = spark.sql("SELECT n_seen, psi FROM psi_stream").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      rows.maxBy(_._1)
    }
    def batchPsi(vals: Seq[Long]): Double =
      graft.ops.Profiling.psi(aDf, vals.toDF("v"), "v", probs)
        .collect().head.getAs[Double]("psi")
    try {
      ms.addData(batch1); q.processAllAvailable()
      assert(lastPsi() == ((5L, batchPsi(batch1))))
      ms.addData(batch2); q.processAllAvailable()
      assert(lastPsi() == ((9L, batchPsi(batch1 ++ batch2))))
    } finally q.stop()
  }

  test("calibrationStream equals the batch ECE at every prefix") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Boolean)]
    val q = Streaming.calibrationStream(ms.toDS())
      .toDF("n_seen", "ece_mil")
      .writeStream.outputMode("update")
      .format("memory").queryName("cal_stream").start()
    val batch1 = Seq((50L, false), (150L, true), (950L, true))
    val batch2 = Seq((1000L, true), (450L, false), (449L, true))
    def lastEce(): (Long, Double) =
      spark.sql("SELECT n_seen, ece_mil FROM cal_stream").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).maxBy(_._1)
    def batchEce(vals: Seq[(Long, Boolean)]): Double =
      graft.ops.Profiling.calibration(vals.toDF("score_mil", "label"),
        "score_mil", "label")
        .collect().head.getAs[Double]("ece_mil")
    try {
      ms.addData(batch1); q.processAllAvailable()
      assert(lastEce() == ((3L, batchEce(batch1))))
      ms.addData(batch2); q.processAllAvailable()
      assert(lastEce() == ((6L, batchEce(batch1 ++ batch2))))
    } finally q.stop()
  }

  test("srmStream equals the batch srmCheck chi2 at every prefix") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val expected = Seq(("a", 2L), ("b", 1L), ("c", 1L))
    val ms = MemoryStream[String]
    val q = Streaming.srmStream(ms.toDS(), expected, crit = 5.991)
      .toDF("n_units", "chi2", "srm")
      .writeStream.outputMode("update")
      .format("memory").queryName("srm_stream").start()
    // 'junk' must be ignored by both engines
    val batch1 = Seq("a", "a", "b", "c", "junk")
    val batch2 = Seq("a", "a", "a", "a", "b")
    def lastSrm(): (Long, Double, Boolean) =
      spark.sql("SELECT n_units, chi2, srm FROM srm_stream").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
        .maxBy(_._1)
    def batchSrm(vals: Seq[String]): (Double, Boolean) = {
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("u", "v")
      val r = graft.ops.Profiling.srmCheck(df, "u", "v", expected,
        crit = 5.991).collect().head
      (r.getAs[Double]("chi2"), r.getAs[Boolean]("srm"))
    }
    try {
      ms.addData(batch1); q.processAllAvailable()
      val (c1, s1) = batchSrm(batch1)
      assert(lastSrm() == ((4L, c1, s1)))
      ms.addData(batch2); q.processAllAvailable()
      val (c2, s2) = batchSrm(batch1 ++ batch2)
      assert(lastSrm() == ((9L, c2, s2)))
    } finally q.stop()
  }

  test("conformalStream: frozen-gate coverage, exact breach, cross-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    // frozen thresholds calibrated offline; α = 1/4
    val q = Streaming.conformalStream(ms.toDS(),
        Map("g" -> 10L, "h" -> 5L), alphaNum = 1, alphaDen = 4)
      .toDF("g", "n", "n_exceed", "exceed_micro", "breach")
      .writeStream.outputMode("update")
      .format("memory").queryName("conf_stream").start()
    def state(): Map[String, (Long, Long, Long, Boolean)] =
      spark.sql("SELECT * FROM conf_stream").collect()
        .map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
        .groupBy(_._1).map { case (k, v) => k -> v.maxBy(_._2._1)._2 }
    try {
      // batch 1: g sees 3 ok + 1 exceed (rate = α exactly → NOT breach,
      // the contract is an upper bound); unknown group is dropped
      ms.addData(Seq(("g", 1L), ("g", 10L), ("g", 9L), ("g", 11L),
        ("zz", 99L)))
      q.processAllAvailable()
      assert(state()("g") == ((4L, 1L, 250000L, false)))
      // batch 2 accumulates ACROSS batches: g now 2/6 > 1/4 → breach
      ms.addData(Seq(("g", 12L), ("g", 2L), ("h", 6L)))
      q.processAllAvailable()
      val s = state()
      assert(s("g") == ((6L, 2L, 333333L, true)))
      assert(s("h") == ((1L, 1L, 1000000L, true)))
    } finally q.stop()
  }

  test("hhiStream equals the batch hhi moments at every prefix") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, String)]
    val q = Streaming.hhiStream(ms.toDS())
      .toDF("g", "n", "n_keys", "max_count", "sum_sq_counts", "hhi")
      .writeStream.outputMode("update")
      .format("memory").queryName("hhi_stream").start()
    val batch1 = Seq(("en", "s1"), ("en", "s1"), ("en", "s2"), ("fr", "s1"))
    val batch2 = Seq(("en", "s2"), ("en", "s2"), ("fr", "s1"))
    def streamRows(): Map[String, (Long, Long, Long, Long, Double)] =
      spark.sql("SELECT * FROM hhi_stream").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))))
        .groupBy(_._1).map { case (g, rs) => // latest emission per group
          g -> rs.map(_._2).maxBy(_._1)
        }
    def batchRows(vals: Seq[(String, String)])
        : Map[String, (Long, Long, Long, Long, Double)] =
      graft.ops.Profiling.hhi(vals.toDF("g", "k"), "g", "k")
        .collect().map(r => r.getAs[String]("g") ->
          ((r.getAs[Long]("n"), r.getAs[Long]("n_keys"),
            r.getAs[Long]("max_count"), r.getAs[Long]("sum_sq_counts"),
            r.getAs[Double]("hhi")))).toMap
    try {
      ms.addData(batch1); q.processAllAvailable()
      assert(streamRows() == batchRows(batch1))
      ms.addData(batch2); q.processAllAvailable()
      assert(streamRows() == batchRows(batch1 ++ batch2))
    } finally q.stop()
  }

  test("seasonalAnomalyStream: frozen baseline verdicts, cross-batch " +
    "bucket accumulation, unknown slot flags") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // period 3; baseline: slot 0 averages 20/3, slot 1 averages 8/3;
    // slot 2 is absent from the baseline on purpose
    val baseline = Seq(("a", 0L, 20L, 3L), ("a", 1L, 8L, 3L))
    val ms = MemoryStream[(String, Long, Long)]
    val q = Streaming.seasonalAnomalyStream(ms.toDS(), baseline,
      thresholdAbs = 3L, periodBuckets = 3)
      .toDF("g", "bucket", "n", "is_anomaly")
      .writeStream.outputMode("update")
      .format("memory").queryName("seasonal_stream").start()
    def rows(): Map[Long, (Long, Boolean)] =
      spark.sql("SELECT * FROM seasonal_stream").collect()
        .map(r => r.getLong(1) -> (r.getLong(2), r.getBoolean(3)))
        .groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).maxBy(_._1) }
    try {
      // bucket 3 (slot 0): first batch holds 4 events — |12−20| < 9 OK
      ms.addData(("a", 3L, 4L)); q.processAllAvailable()
      assert(rows()(3L) == ((4L, false)))
      // late increments push the same bucket to 10: |30−20| = 10 ≥ 9
      ms.addData(("a", 3L, 6L)); q.processAllAvailable()
      assert(rows()(3L) == ((10L, true)))
      // slot 2 has no baseline → anomalous by definition
      ms.addData(("a", 5L, 1L)); q.processAllAvailable()
      assert(rows()(5L) == ((1L, true)))
      // and the batch-op arithmetic agrees on the known-slot verdicts
      assert(math.abs(10L * 3 - 20L) >= 3L * 3)
      assert(math.abs(4L * 3 - 20L) < 3L * 3)
    } finally q.stop()
  }

  test("cusumStream: Page's test alarms on sustained shift, resets, " +
    "and equals the direct fold at every prefix") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (mu, k, h) = (10L, 1L, 6L)
    val ms = MemoryStream[(String, Long, Long)]
    val q = Streaming.cusumStream(ms.toDS(), mu, k, h)
      .toDF("g", "n", "s_plus", "s_minus", "n_alarms")
      .writeStream.outputMode("update")
      .format("memory").queryName("cusum_stream").start()
    def fold(xs: Seq[Long]): (Long, Long, Long, Long) = {
      var sp = 0L; var sm = 0L; var n = 0L; var al = 0L
      xs.foreach { x =>
        n += 1
        sp = math.max(0L, sp + x - mu - k)
        sm = math.max(0L, sm + mu - x - k)
        if (sp >= h || sm >= h) { al += 1; sp = 0L; sm = 0L }
      }
      (n, sp, sm, al)
    }
    def lastRow(): (Long, Long, Long, Long) =
      spark.sql("SELECT * FROM cusum_stream WHERE g = 'a'").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .maxBy(_._1)
    // healthy batch hovers at the target; shift batch runs +4 over it
    val batch1 = Seq(10L, 11L, 9L, 10L)
    val batch2 = Seq(14L, 14L, 14L, 10L)
    try {
      ms.addData(batch1.zipWithIndex.map { case (x, i) =>
        ("a", i.toLong, x) })
      q.processAllAvailable()
      assert(lastRow() == fold(batch1))
      assert(fold(batch1)._4 == 0L) // no alarm while healthy
      ms.addData(batch2.zipWithIndex.map { case (x, i) =>
        ("a", (batch1.size + i).toLong, x) })
      q.processAllAvailable()
      assert(lastRow() == fold(batch1 ++ batch2))
      assert(fold(batch1 ++ batch2)._4 == 1L) // the shift alarmed once
      // post-alarm restart: S+ folded back from 0, not from the peak
      assert(fold(batch1 ++ batch2)._2 < h)
    } finally q.stop()
  }

  test("liftStream ≡ batch lift arithmetic at every prefix (frozen bins)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // frozen boundary 5 → two buckets, exactly the batch spec's shape
    val bs = Seq(5L)
    val ms = MemoryStream[(Long, Boolean)]
    val q = Streaming.liftStream(ms.toDS(), bs)
      .toDF("bucket", "n", "n_pos", "cum_n", "cum_pos", "gains", "lift")
      .writeStream.outputMode("update")
      .format("memory").queryName("lift_stream").start()
    val batch1 = (1L to 10L).map(s => (s, s > 5))
    val batch2 = Seq((3L, true), (9L, false), (10L, true))
    def streamRows(): Map[Int, (Long, Long, Long, Long, Double, Double)] = {
      // Update mode re-emits per batch; keep the freshest row per
      // bucket (largest cum_n at that bucket)
      spark.sql("SELECT * FROM lift_stream").collect()
        .groupBy(_.getInt(0))
        .map { case (b, rows) =>
          val r = rows.maxBy(_.getLong(3))
          b -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getDouble(5), r.getDouble(6)))
        }
    }
    def batchRows(vals: Seq[(Long, Boolean)])
        : Map[Int, (Long, Long, Long, Long, Double, Double)] = {
      import spark.implicits._
      // replay through the SAME frozen boundaries: bucket rows directly
      val df = vals.toDF("s", "y")
        .withColumn("b", when(col("s") > bs.head, 2).otherwise(1))
      val hist = df.groupBy(col("b")).agg(
        count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("p")).collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val tn = hist.values.map(_._1).sum
      val tp = hist.values.map(_._2).sum
      def rnd(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      var cumN = 0L; var cumP = 0L
      (2 to 1 by -1).flatMap { b =>
        hist.get(b).map { case (n, p) =>
          cumN += n; cumP += p
          b -> ((n, p, cumN, cumP, rnd(cumP.toDouble / tp),
            rnd((cumP * tn).toDouble / (cumN * tp))))
        }
      }.toMap
    }
    try {
      ms.addData(batch1); q.processAllAvailable()
      assert(streamRows() == batchRows(batch1))
      ms.addData(batch2); q.processAllAvailable()
      assert(streamRows() == batchRows(batch1 ++ batch2))
    } finally q.stop()
  }

  test("passAtKStream equals the batch estimator on everything arrived") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Boolean)]
    val q = Streaming.passAtKStream(ms.toDS(), Seq(1, 3))
      .toDF("task", "n", "c", "passes")
      .writeStream.outputMode("update")
      .format("memory").queryName("passk_stream").start()
    val batch1 = Seq(("A", true), ("A", false), ("B", false))
    val batch2 = Seq(("A", false), ("A", true), ("B", false), ("B", true))
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      val rows = spark.sql("SELECT task, n, c, passes FROM passk_stream")
        .collect().map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2),
            r.getSeq[java.lang.Double](3).map(Option(_)))))
      val last = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (k, v) => k -> v.maxBy(_._2)._1._2 }
      import spark.implicits._
      val batch = graft.ops.Profiling.passAtK(
        (batch1 ++ batch2).toDF("task", "ok"), "task", "ok", Seq(1, 3))
        .collect().map(r => r.getString(0) ->
          ((r.getAs[Long]("n"), r.getAs[Long]("c"),
            Seq(Option(r.getAs[java.lang.Double]("pass_at_1")),
              Option(r.getAs[java.lang.Double]("pass_at_3")))))).toMap
      assert(last.map { case (k, (n, c, p)) =>
        k -> ((n, c, p.map(_.map(_.doubleValue)))) } ==
        batch.map { case (k, (n, c, p)) =>
          k -> ((n, c, p.map(_.map(_.doubleValue)))) })
      // mid-stream emission after batch1: A had n=2, c=1 → pass@1 = 0.5
      val aFirst = rows.zipWithIndex
        .filter(r => r._1._1 == "A" && r._1._2._1 == 2L).head._1._2
      assert(aFirst._3.head == Some(0.5))
    } finally q.stop()
  }

  test("trendStream final moments equal the batch OLS rational per key") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long, Long)]
    val q = Streaming.trendStream(ms.toDS())
      .toDF("k", "n", "num", "den")
      .writeStream.outputMode("update")
      .format("memory").queryName("trend_stream").start()
    // rows arrive across batches and out of x-order: moments commute
    val batch1 = Seq(("a", 2L, 4L), ("a", 0L, 0L), ("b", 1L, 9L))
    val batch2 = Seq(("a", 1L, 2L), ("b", 2L, 5L), ("b", 3L, 1L))
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      // last emitted row per key = the maintained statistics
      val rows = spark.sql("SELECT k, n, num, den FROM trend_stream")
        .collect().map(r => (r.getString(0),
          (r.getLong(1), r.getString(2), r.getString(3))))
      val last = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (k, v) => k -> v.maxBy(_._2)._1._2 }
      // batch twin over the union
      val batch = graft.ops.EventAnalytics.trend(
        (batch1 ++ batch2).toDF("k", "x", "y"), "k", "x", "y")
        .collect().map(r => r.getString(0) ->
          ((r.getAs[Long]("n"),
            r.getAs[java.math.BigDecimal]("slope_num")
              .toBigInteger.toString,
            r.getAs[java.math.BigDecimal]("slope_den")
              .toBigInteger.toString))).toMap
      assert(last == batch)
      // exact rational for a: perfect line y = 2x → num/den = 12/6
      assert(last("a") == ((3L, "12", "6")))
    } finally q.stop()
  }

  test("debounceStream keeps batch's keep-first rows; burst chains span batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val q = Streaming.debounceStream(ms.toDS(), cooldownUs = 4L)
      .toDF("k", "ts")
      .writeStream.outputMode("append")
      .format("memory").queryName("debounced").start()
    // the burst 0,3 | 6 chains ACROSS the batch boundary: 6 is within
    // cooldown of the batch-1 tail 3, so state must suppress it
    val batch1 = Seq(("u", 0L), ("u", 3L), ("v", 0L))
    val batch2 = Seq(("u", 6L), ("u", 11L))
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      val streamed = spark.sql("SELECT k, ts FROM debounced").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(streamed == Set(("u", 0L), ("u", 11L), ("v", 0L)))
      // batch twin over the union emits the same keep-first rows
      val batch = graft.ops.EventAnalytics.debounce(
        (batch1 ++ batch2).zipWithIndex
          .map { case ((k, ts), i) => (k, ts, i.toLong) }
          .toDF("k", "ts", "id"), "k", "ts", "id", cooldownUs = 4L)
        .collect().map(r => (r.getString(0), r.getAs[Long]("first_ts")))
        .toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("preaggStream final states equal the batch incremental merge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long, Long)]
    val q = Streaming.preaggStream(ms.toDS())
      .toDF("k", "n", "v_sum")
      .writeStream.outputMode("update")
      .format("memory").queryName("preagg_stream").start()
    // batch 1: plain inserts; batch 2: an insert, a delete of a batch-1
    // row (cross-batch retraction), and a full retraction of key c
    val batch1 = Seq(("a", 1L, 10L), ("a", 1L, 20L), ("b", 1L, 5L),
      ("c", 1L, 7L))
    val batch2 = Seq(("a", 1L, 30L), ("b", -1L, 5L), ("c", -1L, 7L),
      ("b", 1L, 9L))
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      // last emitted row per key = the maintained aggregate
      val rows = spark.sql(
        "SELECT k, n, v_sum FROM preagg_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val finalState = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (k, v) => k -> v.maxBy(_._2)._1 }
      // batch twin over the same rows through aggregateSigned+merge
      val merged = graft.ops.Incremental.merge(
        graft.ops.Incremental.aggregateSigned(
          batch1.toDF("k", "sign", "v"), Seq("k"), "sign", Seq("v")),
        graft.ops.Incremental.aggregateSigned(
          batch2.toDF("k", "sign", "v"), Seq("k"), "sign", Seq("v")),
        Seq("k"))
        .collect().map(r => (r.getString(0), r.getAs[Long]("n"),
          r.getAs[Long]("v_sum"))).toSet
      // surviving keys agree exactly
      assert(merged == Set(("a", 3L, 60L), ("b", 1L, 9L)))
      assert(finalState("a") == ("a", 3L, 60L))
      assert(finalState("b") == ("b", 1L, 9L))
      // the stream represents c's full retraction as the zero row the
      // batch merge expresses by dropping the key
      assert(finalState("c") == ("c", 0L, 0L))
    } finally q.stop()
  }

  test("funnelStream final step counts equal the batch funnel per entity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val steps = Seq("view", "click", "buy")
    val ms = MemoryStream[(String, Long, String)]
    val q = Streaming.funnelStream(ms.toDS(), steps)
      .toDF("k", "steps_completed")
      .writeStream.outputMode("update")
      .format("memory").queryName("funnel_stream").start()
    // u completes across the batch boundary; v's click PRECEDES its
    // view (must not count — ordered progression); w never views (no
    // state, no rows); x re-views (first time wins)
    val batch1 = Seq(("u", 1L, "view"), ("u", 2L, "click"),
      ("v", 1L, "click"), ("w", 5L, "buy"), ("x", 3L, "view"))
    val batch2 = Seq(("u", 9L, "buy"), ("v", 4L, "view"),
      ("x", 1L, "click"), ("x", 7L, "click"))
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      // last update per key is the final state
      val rows = spark.sql(
        "SELECT k, steps_completed FROM funnel_stream").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val finalState = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (k, v) => k -> v.maxBy(_._2)._1._2 }
      val batch = graft.ops.EventAnalytics.funnel(
        (batch1 ++ batch2).toDF("k", "ts", "tpe"),
        "k", "ts", "tpe", steps)
        .collect()
        .map(r => r.getString(0) -> r.getAs[Int]("steps_completed").toLong)
        .toMap
      assert(batch == Map("u" -> 3L, "v" -> 1L, "x" -> 2L))
      assert(finalState == batch)
    } finally q.stop()
  }

  test("interArrivalStream final gap stats + bot flag equal the batch profile") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val q = Streaming.interArrivalStream(ms.toDS(),
        minEvents = 3, maxMinGapUs = 2L)
      .toDF("k", "n_gaps", "min_gap", "max_gap", "sum_gap", "bot")
      .writeStream.outputMode("update")
      .format("memory").queryName("gaps_stream").start()
    // bot: 3+ gaps with a <=2us minimum — u qualifies only after its
    // batch-2 burst; the cross-batch gap (10 -> 11) must be seen
    val batch1 = Seq(("u", 0L), ("u", 5L), ("u", 10L), ("v", 7L))
    val batch2 = Seq(("u", 11L), ("v", 100L))
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM gaps_stream").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getBoolean(5))))
      val finalState = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (k, v) => k -> v.maxBy(_._2)._1._2 }
      val batch = graft.ops.EventAnalytics.interArrivalProfile(
        (batch1 ++ batch2).zipWithIndex
          .map { case ((k, ts), i) => (k, ts, i.toLong) }
          .toDF("k", "ts", "id"), "k", "ts", "id", 3, 2L)
        .collect().map(r => r.getString(0) -> (r.getAs[Long]("n_gaps"),
          r.getAs[Long]("min_gap"), r.getAs[Long]("max_gap"),
          r.getAs[Long]("sum_gap"), r.getAs[Boolean]("bot"))).toMap
      assert(batch == Map(
        "u" -> ((3L, 1L, 5L, 11L, true)),
        "v" -> ((1L, 93L, 93L, 93L, false))))
      assert(finalState == batch)
    } finally q.stop()
  }

  test("mcnemarStream equals the batch test on everything arrived") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Boolean, Boolean)]
    val q = Streaming.mcnemarStream(ms.toDS())
      .toDF("g", "n", "b", "c", "chi2", "sig")
      .writeStream.outputMode("update")
      .format("memory").queryName("mcn_stream").start()
    val batch1 = Seq(("g", true, false), ("g", true, true),
      ("z", true, true))
    val batch2 = (1 to 8).map(_ => ("g", true, false)) ++
      Seq(("g", false, true), ("g", false, true), ("z", false, false))
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM mcn_stream").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
          r.getLong(3), Option(r.getAs[java.lang.Double]("chi2")),
          Option(r.getAs[java.lang.Boolean]("sig")))))
      val last = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (k, v) => k -> v.maxBy(_._2)._1._2 }
      import spark.implicits._
      val batch = graft.ops.Profiling.mcnemar(
        (batch1 ++ batch2).toDF("g", "a", "b"), "g", "a", "b")
        .collect().map(r => r.getString(0) ->
          ((r.getAs[Long]("n_pairs"), r.getAs[Long]("only_a"),
            r.getAs[Long]("only_b"),
            Option(r.getAs[java.lang.Double]("chi2")),
            Option(r.getAs[java.lang.Boolean]("significant"))))).toMap
      assert(last == batch)
      // cross-batch accumulation: 9 A-only vs 2 B-only over 12 pairs
      assert(last("g")._4 == Some(java.math.BigDecimal
        .valueOf(49.0 / 11.0).setScale(6,
          java.math.RoundingMode.HALF_UP).doubleValue()))
      // mid-stream emission after batch1 was already a valid prefix
      assert(rows.exists(r => r._1 == "g" && r._2._1 == 2L))
    } finally q.stop()
  }

  test("groupSequentialStream equals the batch monitor on everything " +
      "arrived") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long, Boolean, Boolean)]
    val q = Streaming.groupSequentialStream(ms.toDS(), totalInterims = 3)
      .toDF("g", "k", "na", "nb", "z2", "zb", "crossed", "decided")
      .writeStream.outputMode("update")
      .format("memory").queryName("gs_stream").start()
    def arm(g: String, k: Long, t: Boolean, ok: Boolean, n: Int) =
      Seq.fill(n)((g, k, t, ok))
    // batch 2 extends interim 1 retroactively (late data) AND opens
    // interim 2 — the cumulative table must rebuild exactly
    val batch1 = arm("g", 1L, true, true, 5) ++
      arm("g", 1L, true, false, 5) ++ arm("g", 1L, false, true, 5) ++
      arm("g", 1L, false, false, 5) ++ Seq(("g", 9L, true, true))
    val batch2 = arm("g", 1L, true, true, 2) ++
      arm("g", 2L, true, true, 10) ++ arm("g", 2L, false, false, 10)
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM gs_stream").collect()
        .map(r => ((r.getString(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3),
            Option(r.getAs[java.lang.Double]("z2")),
            r.getDouble(5),
            Option(r.getAs[java.lang.Boolean]("crossed")),
            r.getBoolean(7))))
      val last = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (k, v) => k -> v.maxBy(_._2)._1._2 }
      import spark.implicits._
      val batch = graft.ops.Profiling.groupSequential(
        (batch1 ++ batch2).toDF("g", "k", "t", "ok"), "g", "k", "t",
        "ok", totalInterims = 3)
        .collect().map(r => ((r.getString(0), r.getAs[Long]("interim")),
          (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
            Option(r.getAs[java.lang.Double]("z2")),
            r.getAs[Double]("z_bound"),
            Option(r.getAs[java.lang.Boolean]("crossed")),
            r.getAs[Boolean]("decided")))).toMap
      assert(last == batch)
      // the out-of-range interim 9 row was dropped on both sides
      assert(!batch.keySet.exists(_._2 == 9L))
      assert(last(("g", 2L))._6) // decided latched at interim 2
    } finally q.stop()
  }

  test("wilsonStream equals the batch interval on everything arrived") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Boolean)]
    val q = Streaming.wilsonStream(ms.toDS())
      .toDF("g", "n", "k", "rate", "lo", "hi")
      .writeStream.outputMode("update")
      .format("memory").queryName("wilson_stream").start()
    val batch1 = Seq.fill(3)(("g", true))
    val batch2 = Seq.fill(47)(("g", true)) ++ Seq.fill(50)(("g", false))
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM wilson_stream").collect()
        .map(r => (r.getLong(1), (r.getLong(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5))))
      val last = rows.maxBy(_._1)
      import spark.implicits._
      val batch = graft.ops.Profiling.wilsonInterval(
        (batch1 ++ batch2).toDF("g", "ok"), "g", "ok")
        .collect().map(r => (r.getAs[Long]("n"),
          (r.getAs[Long]("k"), r.getAs[Double]("rate"),
            r.getAs[Double]("lo"), r.getAs[Double]("hi")))).head
      assert((last._1, last._2) == batch)
      // the 3-sample 100% prefix carried WIDE bars (lo ~0.44), not
      // false certainty
      val early = rows.find(_._1 == 3L).get._2
      assert(early._2 == 1.0 && early._3 < 0.45 && early._4 == 1.0)
    } finally q.stop()
  }

  test("equivalenceStream equals the batch TOST on everything arrived") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Boolean, Boolean)]
    val q = Streaming.equivalenceStream(ms.toDS(),
        marginMicro = 50000L)
      .toDF("g", "nb", "nc", "diff", "ni", "eq")
      .writeStream.outputMode("update")
      .format("memory").queryName("eqv_stream").start()
    def arm(c: Boolean, ok: Int, fail: Int) =
      Seq.fill(ok)(("g", c, true)) ++ Seq.fill(fail)(("g", c, false))
    // candidate-only ramp first: untestable until baseline arrives
    val batch1 = arm(true, 40, 60)
    val batch2 = arm(false, 500, 500) ++ arm(true, 450, 450)
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM eqv_stream").collect()
        .map(r => (r.getLong(1) + r.getLong(2),
          (r.getLong(1), r.getLong(2),
            Option(r.getAs[java.lang.Double]("diff")),
            Option(r.getAs[java.lang.Boolean]("ni")),
            Option(r.getAs[java.lang.Boolean]("eq")))))
      assert(rows.find(_._1 == 100L).get._2 ==
        ((0L, 100L, None, None, None)))
      val last = rows.maxBy(_._1)._2
      import spark.implicits._
      val batch = graft.ops.Profiling.equivalenceTest(
        (batch1 ++ batch2).toDF("g", "cand", "ok"), "g", "cand", "ok",
        marginMicro = 50000L)
        .collect().map(r =>
          (r.getAs[Long]("n_baseline"), r.getAs[Long]("n_candidate"),
            Option(r.getAs[java.lang.Double]("diff")),
            Option(r.getAs[java.lang.Boolean]("non_inferior")),
            Option(r.getAs[java.lang.Boolean]("equivalent")))).head
      assert(last == batch)
      // cumulative: baseline 500/1000, candidate 490/1000 -> within
      // the 5pp margin on both sides
      assert(last._5 == Some(true))
    } finally q.stop()
  }

  test("chiSquaredStream equals the batch test on everything arrived") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, String, String)]
    val q = Streaming.chiSquaredStream(ms.toDS())
      .toDF("g", "n", "r", "c", "dof", "chi2", "v", "sig")
      .writeStream.outputMode("update")
      .format("memory").queryName("chi_stream").start()
    // batch 2 introduces a NEW column label and fills a zero cell,
    // exercising the grid rebuild across batches
    val batch1 = (1 to 20).flatMap(_ => Seq(("g", "x", "0"))) ++
      (1 to 5).flatMap(_ => Seq(("g", "x", "1"), ("g", "y", "0")))
    val batch2 = (1 to 20).map(_ => ("g", "y", "1")) ++
      Seq(("g", "y", "2"), ("g", "x", "2"), ("o", "a", "0"))
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM chi_stream").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getInt(4),
          Option(r.getAs[java.lang.Double]("chi2")),
          Option(r.getAs[java.lang.Double]("v")),
          Option(r.getAs[java.lang.Boolean]("sig")))))
      val last = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (k, v) => k -> v.maxBy(_._2)._1._2 }
      import spark.implicits._
      val batch = graft.ops.Profiling.chiSquared(
        (batch1 ++ batch2).toDF("g", "fa", "fb"), "g", "fa", "fb")
        .collect().map(r => r.getString(0) ->
          ((r.getAs[Long]("n"), r.getAs[Long]("r"), r.getAs[Long]("c"),
            r.getAs[Int]("dof"),
            Option(r.getAs[java.lang.Double]("chi2")),
            Option(r.getAs[java.lang.Double]("cramers_v")),
            Option(r.getAs[java.lang.Boolean]("significant"))))).toMap
      assert(last == batch)
      assert(last("g")._4 == 2) // (2-1)*(3-1) after the new label
      assert(last("o")._5.isEmpty) // single cell: dof 0, no test
    } finally q.stop()
  }

  test("qiniStream: cumulative uplift over frozen tiles, control-free " +
      "prefix refuses, cross-batch accumulation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Boolean, Boolean)]
    val q = Streaming.qiniStream(ms.toDS(), boundaries = Seq(10L))
      .toDF("tile", "n_t", "k_t", "n_c", "k_c", "uplift")
      .writeStream.outputMode("update")
      .format("memory").queryName("qini_stream").start()
    // batch 1: only treated high-scorers -> no baseline yet
    val b1 = Seq((20L, true, true), (25L, true, false))
    // batch 2: control arrives in both tiles + low-score treated
    val b2 = Seq((22L, false, false), (5L, true, true),
      (4L, false, false), (3L, false, true))
    try {
      ms.addData(b1); q.processAllAvailable()
      val early = spark.sql(
        "SELECT * FROM qini_stream WHERE tile = 1 AND n_t = 2")
        .collect().head
      assert(early.isNullAt(early.fieldIndex("uplift")))
      ms.addData(b2); q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM qini_stream").collect()
        .map(r => (r.getInt(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4),
            Option(r.getAs[java.lang.Double]("uplift"))
              .map(_.doubleValue))))
        .toMap
      // final tile 1: 2 treated (1 ok), 1 control (0 ok) -> uplift 1.0
      assert(rows((1, 2L)) == ((1L, 1L, 0L, Some(1.0))))
      // final tile 2 cumulative: n_t=3 k_t=2 n_c=3 k_c=1 -> 2 - 1*1 = 1
      assert(rows((2, 3L)) == ((2L, 3L, 1L, Some(1.0))))
    } finally q.stop()
  }

  test("holtStream equals the batch fold on ordered prefixes, " +
      "rewinds are dropped and counted") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long, Long)]
    val q = Streaming.holtStream(ms.toDS(), alpha = 0.5, beta = 0.5)
      .toDF("k", "n", "n_dropped", "level", "trend", "forecast")
      .writeStream.outputMode("update")
      .format("memory").queryName("holt_stream").start()
    val b1 = Seq(("g", 1L, 10L), ("g", 2L, 12L))
    val b2 = Seq(("g", 3L, 11L), ("g", 4L, 15L),
      ("g", 2L, 99L)) // rewind: dropped
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM holt_stream").collect()
        .map(r => (r.getLong(1), (r.getLong(2), r.getDouble(3),
          Option(r.getAs[java.lang.Double]("trend")).map(_.doubleValue),
          Option(r.getAs[java.lang.Double]("forecast"))
            .map(_.doubleValue))))
      val last = rows.maxBy(_._1)
      import spark.implicits._
      val batch = graft.ops.EventAnalytics.holt(
        (b1 ++ b2.take(2)).toDF("k", "t", "v"), "k", "t", "v",
        alpha = 0.5, beta = 0.5).collect().head
      assert(last._1 == 4L && last._2._1 == 1L) // the rewind counted
      assert(last._2._2 == batch.getAs[Double]("level"))
      assert(last._2._3 == Some(batch.getAs[Double]("trend")))
      assert(last._2._4 == Some(batch.getAs[Double]("forecast")))
    } finally q.stop()
  }

  test("forecastAccuracyStream equals the batch scorecard, late point " +
      "forms its seasonal pair retroactively") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long, Long, Long)]
    val q = Streaming.forecastAccuracyStream(ms.toDS(), season = 7)
      .toDF("k", "n", "mae", "smape", "n_naive", "mase")
      .writeStream.outputMode("update")
      .format("memory").queryName("fa_stream").start()
    // batch 1: t=1..7 — no seasonal pair exists yet
    val b1 = (1L to 7L).map(t => ("g", t, 10L + t, 11L + t))
    // batch 2: t=9..10 first, then the LATE t=8 closes the (1, 8) pair
    val b2 = Seq(("g", 9L, 25L, 24L), ("g", 10L, 30L, 31L),
      ("g", 8L, 20L, 18L))
    try {
      ms.addData(b1); q.processAllAvailable()
      val early = spark.sql(
        "SELECT * FROM fa_stream WHERE n = 7").collect().head
      assert(early.getAs[Long]("n_naive") == 0L &&
        early.isNullAt(early.fieldIndex("mase")))
      ms.addData(b2); q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM fa_stream").collect()
        .map(r => (r.getLong(1), (r.getDouble(2), r.getDouble(3),
          r.getLong(4),
          Option(r.getAs[java.lang.Double]("mase"))
            .map(_.doubleValue))))
      val last = rows.maxBy(_._1)
      import spark.implicits._
      val batch = graft.ops.EventAnalytics.forecastAccuracy(
        (b1 ++ b2).toDF("k", "t", "a", "f"), "k", "t", "a", "f",
        season = 7)
        .collect().map(r => (r.getAs[Long]("n"),
          (r.getAs[Double]("mae"), r.getAs[Double]("smape"),
            r.getAs[Long]("n_naive"),
            Option(r.getAs[java.lang.Double]("mase"))
              .map(_.doubleValue)))).head
      assert(last == batch)
      assert(last._2._3 == 3L) // pairs (1,8) (2,9) (3,10) all found
    } finally q.stop()
  }

  test("rollingActiveHllStream final estimates equal the batch HLL twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long)]
    val q = Streaming.rollingActiveHllStream(ms.toDS(), windowDays = 3)
      .toDF("day", "wau_approx")
      .writeStream.outputMode("update")
      .format("memory").queryName("rolling_hll_stream").start()
    // (entity, day) presences across two micro-batches: repeats within
    // and ACROSS batches must collapse (HLL absorbs them), day 3 only
    // appears in batch 2
    val batch1 = Seq((1L, 0L), (2L, 0L), (1L, 1L), (3L, 2L))
    val batch2 = Seq((4L, 1L), (2L, 3L), (1L, 0L), (5L, 4L))
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      val rows = spark.sql("SELECT day, wau_approx FROM rolling_hll_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // last emitted row per day = the maintained estimate
      val finalState = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (d, v) => d -> v.maxBy(_._2)._1._2 }
      // batch twin over the union of both batches; it emits only
      // OBSERVED days (all of 0..4 here), the stream every touched
      // window-end day — compare on the batch's day set
      val day = 86400000000L
      val ev = (batch1 ++ batch2).toDF("u", "d")
        .select(col("u"), org.apache.spark.sql.functions
          .timestamp_micros(col("d") * day).as("ts"))
      val batch = graft.ops.EventAnalytics.rollingActiveUsersApprox(
          ev, "u", "ts", 3).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(batch.keySet == Set(0L, 1L, 2L, 3L, 4L))
      for ((d, wau) <- batch)
        assert(finalState(d) == wau, s"day $d: ${finalState(d)} vs $wau")
    } finally q.stop()
  }

  test("quantileMonitorStream estimates hit the GK rank bound cross-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val qs = Seq(0.5, 0.95, 0.99)
    val q = Streaming.quantileMonitorStream(ms.toDS(), qs,
        relativeError = 0.01)
      .toDF("g", "n", "est")
      .writeStream.outputMode("update")
      .format("memory").queryName("quantile_stream").start()
    // two groups, values deliberately arriving out of order and split
    // across batches (a: 1..400 then 401..1000; b: evens then odds)
    val aVals = (1 to 1000).map(_.toLong)
    val bVals = (1 to 500).map(i => (i * 7 % 501).toLong)
    val batch1 = aVals.take(400).reverse.map(("a", _)) ++
      bVals.filter(_ % 2 == 0).map(("b", _))
    val batch2 = aVals.drop(400).map(("a", _)) ++
      bVals.filter(_ % 2 == 1).map(("b", _))
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      val rows = spark.sql("SELECT g, n, est FROM quantile_stream")
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getSeq[Double](2)))
      val finalState = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (g, v) => g -> v.maxBy(_._2)._1 }
      for ((g, vals) <- Seq("a" -> aVals, "b" -> bVals)) {
        val (_, n, est) = finalState(g)
        assert(n == vals.size.toLong, s"group $g count")
        val sorted = vals.sorted
        for ((tq, e) <- qs.zip(est)) {
          // GK contract: the estimate's rank is within eps*n of tq*n
          val rank = sorted.count(_ <= e.toLong)
          assert(math.abs(rank - tq * n) <= 0.01 * n + 1,
            s"group $g q=$tq est=$e rank=$rank n=$n")
        }
      }
    } finally q.stop()
  }
}
