package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.llm.Dedup

class DocStreamSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("per-row native simhash is bit-identical to the exploded vote aggregate, corpus-wide") {
    val docs = Tables.documents(spark, sfDir)
    val perRow = DocStream.fingerprints(docs).select("doc_id", "simhash")
    val voteAgg = Dedup.simhashFingerprintsVoteAgg(Dedup.shinglesOf(docs))
    assert(perRow.count() == voteAgg.count())
    assert(perRow.except(voteAgg).isEmpty && voteAgg.except(perRow).isEmpty,
      "row-local native kernel and groupBy votes must produce the same fingerprint for every doc")
  }

  test("streaming simhash dedup emits exactly the in-horizon batch pairs") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // 20-word texts so every doc clears the 3-word shingle floor; docs
    // 1/2/3 share one text (pairwise hamming 0), doc 4 is unrelated.
    val shared = (1 to 20).map(i => s"alpha$i").mkString(" ")
    val other = (1 to 20).map(i => s"omega${i * 7}").mkString(" ")
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), shared),
      (2L, ts("2024-01-01 10:10:00"), shared), // in horizon of 1
      (4L, ts("2024-01-01 10:05:00"), other), // near nothing
      (3L, ts("2024-01-01 12:00:00"), shared)) // out of horizon of 1 and 2
    val source = MemoryStream[(Long, Timestamp, String)]
    val stream = DocStream.streamingSimhashDedup(
      source.toDF().toDF("doc_id", "ts", "text"), "30 MINUTES")
    val query = stream.writeStream.format("memory")
      .queryName("doc_dedup_test").outputMode("append").start()
    try {
      source.addData(rows: _*)
      query.processAllAvailable()
      // advance the watermark well past every pair so held state flushes
      source.addData((99L, ts("2024-01-01 15:00:00"), other + " tail"))
      query.processAllAvailable()
      val emitted = spark.table("doc_dedup_test")
        .select("doc_a", "doc_b", "hamming")
        .as[(Long, Long, Long)].collect().toSet
      val expected = DocStream.batchEquivalent(
          rows.toDF("doc_id", "ts", "text"), "30 MINUTES")
        .as[(Long, Long, Long)].collect().toSet
      assert(expected == Set((1L, 2L, 0L)),
        s"batch comparison frame must itself be the in-horizon pair, got $expected")
      assert(emitted == expected,
        s"stream must emit exactly the in-horizon batch pairs, got $emitted")
    } finally query.stop()
  }

  test("wide streaming dedup: in-horizon pairs at 120-bit hamming, out-of-horizon silent") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val shared = (1 to 25).map(i => s"delta$i").mkString(" ")
    val other = (1 to 25).map(i => s"rho${i * 11}").mkString(" ")
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), shared),
      (2L, ts("2024-01-01 10:10:00"), shared), // in horizon of 1
      (4L, ts("2024-01-01 10:05:00"), other), // near nothing
      (3L, ts("2024-01-01 12:00:00"), shared)) // out of horizon of 1 and 2
    val source = MemoryStream[(Long, Timestamp, String)]
    val query = DocStream.streamingSimhashDedupWide(
        source.toDF().toDF("doc_id", "ts", "text"), "30 MINUTES")
      .writeStream.format("memory")
      .queryName("doc_dedup_wide_test").outputMode("append").start()
    try {
      source.addData(rows: _*)
      query.processAllAvailable()
      source.addData((99L, ts("2024-01-01 15:00:00"), other + " tail"))
      query.processAllAvailable()
      val emitted = spark.table("doc_dedup_wide_test")
        .select("doc_a", "doc_b", "hamming")
        .as[(Long, Long, Long)].collect().toSet
      assert(emitted == Set((1L, 2L, 0L)),
        s"only the in-horizon identical pair emits, at 120-bit hamming 0: $emitted")
      // the batch wide kernel agrees on the full (un-horizoned) pair set
      val batch = Dedup.simhashDedupWideFrom(
          Dedup.shinglesOf(rows.toDF("doc_id", "ts", "text")))
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(batch == Set((1L, 2L), (1L, 3L), (2L, 3L)),
        s"batch pairs all shared-text docs regardless of time: $batch")
    } finally query.stop()
  }

  test("ingest gate: every drop reason fires and exactly the admissible docs pass") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // md5-split buckets (salt split-v1): doc 1 -> 92 (test), docs 3/4/5/11
    // -> 36/11/53/67 (train). good = 102 tokens, 1/3 stopwords, no
    // punctuation -> score 1.0; junk = 2 tokens, no stopwords -> 0.208.
    val good = (1 to 34).map(_ => "the quick fox").mkString(" ")
    val junk = "zzz qqq"
    val source = MemoryStream[(Long, Timestamp, String)]
    val flagged = Seq(11L).toDF("doc_id")
    val query = DocStream.streamingCorpusGate(
        source.toDF().toDF("doc_id", "ts", "text"), flagged, "2 hours")
      .writeStream.format("memory")
      .queryName("corpus_gate_test").outputMode("append").start()
    try {
      source.addData(
        (1L, ts("2024-01-01 10:00:00"), good + " one"), // test split -> drop
        (3L, ts("2024-01-01 10:01:00"), good), // admit
        (4L, ts("2024-01-01 10:02:00"), good), // duplicate text -> drop
        (5L, ts("2024-01-01 10:03:00"), junk), // low quality -> drop
        (11L, ts("2024-01-01 10:04:00"), good + " two")) // flagged -> drop
      query.processAllAvailable()
      val got = spark.table("corpus_gate_test")
        .select("doc_id", "split", "quality_score")
        .as[(Long, String, Double)].collect().toSet
      // docs 3 and 4 share a text; exactly one (the first-arriving) passes
      assert(got.map(_._1).intersect(Set(3L, 4L)).size == 1,
        s"one admitted doc per in-horizon duplicate text, got $got")
      assert(got.map(_._1) - 3L - 4L == Set.empty,
        s"test-split, low-quality, and flagged docs must all drop, got $got")
      assert(got.forall(r => r._2 == "train" && r._3 >= 0.5), s"admitted rows carry gate fields: $got")
    } finally query.stop()
  }

  test("wide-width funnel parity: ingest gate + wide streaming dedup equals the batch funnel") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // The ingest composition (streamingCorpusGate, then the 120-bit
    // streamingSimhashDedupWide over admitted docs, edge-greedy drop of
    // doc_b) must admit the identical corpus as the batch funnel at
    // wideNearDup = true — the production width, not just 60 bits.
    // Synthetic corpus written as a documents table so BOTH paths read
    // the same rows; split-v1 buckets: doc 1 -> test; 3,4,5,8,11 -> train.
    // T vs T+" extension" differ by ONE trigram shingle out of ~400, so
    // the 120-bit fingerprints sit within the Hamming budget (the wide
    // pair the funnel must act on); U and V share no content words.
    val tmp = java.nio.file.Files.createTempDirectory("graft_prep_parity_").toString
    def prose(tag: String) = (1 to 200)
      .flatMap(i => Seq(if (i % 2 == 0) "the" else "of", s"$tag$i")).mkString(" ")
    val (t, u, v) = (prose("uniq"), prose("uref"), prose("vtst"))
    val corpus = Seq((3L, t), (4L, t), (5L, t + " extension"),
      (8L, u), (11L, "zzz qqq"), (1L, v))
    corpus.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("syn"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // batch funnel at the production width
    val st = graft.llm.CorpusPrep.stages(spark, tmp, wideNearDup = true)
    val exactIds = st.exact.select("doc_id").as[Long].collect().toSet
    val ndIds = st.nd.select("doc_id").as[Long].collect().toSet
    val cleanIds = st.clean.select("doc_id").as[Long].collect().toSet
    assert(exactIds == Set(1L, 3L, 5L, 8L),
      s"junk gated out, larger exact dup deduped: $exactIds")
    assert(ndIds == Set(1L, 3L, 8L),
      s"the wide kernel must pair (3,5) and edge-greedily drop 5: $ndIds")
    assert(cleanIds == Set(3L, 8L), s"test-split doc leaves at stage 4: $cleanIds")
    val flagged = graft.llm.Decontaminate.decontaminateFuzzy(spark, tmp)
      .select("doc_id").distinct()
    assert(flagged.isEmpty, "the synthetic test doc is unrelated — nothing fuzzy-flagged")
    // ingest path over the identical rows, arrival in doc_id order within
    // the horizon (first-arriving = min doc_id, matching the batch keeper)
    val rows = corpus.zipWithIndex.map { case ((id, tx), i) =>
      (id, ts(f"2024-01-01 10:${i}%02d:00"), tx) }
    val src1 = MemoryStream[(Long, Timestamp, String)]
    val gateQ = DocStream.streamingCorpusGate(
        src1.toDF().toDF("doc_id", "ts", "text"), flagged, "2 hours")
      .writeStream.format("memory")
      .queryName("prep_parity_gate").outputMode("append").start()
    val src2 = MemoryStream[(Long, Timestamp, String)]
    val wideQ = DocStream.streamingSimhashDedupWide(
        src2.toDF().toDF("doc_id", "ts", "text"), "2 hours")
      .writeStream.format("memory")
      .queryName("prep_parity_wide").outputMode("append").start()
    try {
      src1.addData(rows: _*)
      gateQ.processAllAvailable()
      val admitted = spark.table("prep_parity_gate")
        .select("doc_id").as[Long].collect().toSet
      assert(admitted == exactIds - 1L,
        s"gate admits the exact survivors minus the test split: $admitted")
      // production composition: only ADMITTED docs reach the pair buffer
      src2.addData(rows.filter(r => admitted(r._1)): _*)
      wideQ.processAllAvailable()
      src2.addData((99L, ts("2024-01-02 10:00:00"), "zz yy xx ww vv uu"))
      wideQ.processAllAvailable()
      val pairs = spark.table("prep_parity_wide")
        .select("doc_a", "doc_b", "hamming")
        .as[(Long, Long, Long)].collect().toSet
      val batchPairs = Dedup.simhashDedupWideFrom(Dedup.shinglesOf(st.exact))
        .filter(col("doc_a") =!= 1L && col("doc_b") =!= 1L)
        .as[(Long, Long, Long)].collect().toSet
      assert(pairs == batchPairs && pairs.map(p => (p._1, p._2)) == Set((3L, 5L)),
        s"stream and batch agree on the wide pair set: $pairs vs $batchPairs")
      val finalSet = admitted -- pairs.collect { case (a, b, _) if admitted(a) => b }
      assert(finalSet == cleanIds,
        s"ingest composition and batch funnel admit the identical corpus: $finalSet vs $cleanIds")
    } finally { gateQ.stop(); wideQ.stop(); graft.RunScope.releaseAll() }
  }

  test("dedup join state survives a restart: pair endpoints split across a crash") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft_docckpt_").toString
    val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    Files.createDirectories(Paths.get(in))
    val shared = (1 to 20).map(i => s"kappa$i").mkString(" ")
    val other = (1 to 20).map(i => s"psi${i * 13}").mkString(" ")
    def startQuery() = {
      val docs = spark.readStream
        .schema("doc_id LONG, ts STRING, text STRING").json(in)
        .select(col("doc_id"), to_timestamp(col("ts")).as("ts"), col("text"))
      DocStream.streamingSimhashDedup(docs, "30 MINUTES")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }
    // incarnation 1 sees only ONE endpoint of the eventual pair — its
    // banded rows land in the join state store
    Seq((1L, "2024-01-01 10:00:00", shared), (4L, "2024-01-01 10:02:00", other))
      .toDF("doc_id", "ts", "text").coalesce(1).write.mode("append").json(in)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // the matching doc arrives while no query runs; the restart must
    // recover doc 1's band state and emit the pair exactly once
    Seq((2L, "2024-01-01 10:10:00", shared))
      .toDF("doc_id", "ts", "text").coalesce(1).write.mode("append").json(in)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out).select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 0L)),
      s"restart must recover join state and emit the pair once, got $got")
  }

  test("streaming chunk census: in-window cross-doc repeats flagged, cross-window repeats not") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // 64-token texts = exactly one full-width window per doc (the stride
    // tail is partial and filtered), so each (doc, chunk) is unique.
    val boiler = (1 to graft.llm.Chunking.ChunkTokens).map(i => s"bp$i").mkString(" ")
    val other = (1 to graft.llm.Chunking.ChunkTokens).map(i => s"ur$i").mkString(" ")
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), boiler), // window 10:00
      (2L, ts("2024-01-01 10:10:00"), boiler), // same window -> census row
      (4L, ts("2024-01-01 10:05:00"), other), // unrelated, never flagged
      (3L, ts("2024-01-01 12:30:00"), boiler)) // other window, alone -> silent
    val source = MemoryStream[(Long, Timestamp, String)]
    val query = DocStream.streamingChunkCensus(
        source.toDF().toDF("doc_id", "ts", "text"), "1 hour")
      .writeStream.format("memory")
      .queryName("chunk_census_test").outputMode("append").start()
    try {
      source.addData(rows: _*)
      query.processAllAvailable()
      source.addData((99L, ts("2024-01-01 16:00:00"), other + " tail99"))
      query.processAllAvailable()
      val got = spark.table("chunk_census_test")
        .select("window_start", "chunk_key", "n_docs", "first_doc")
        .as[(Timestamp, String, Long, Long)].collect().toSet
      // the batch window math computes the expected key from the same rows
      val key = graft.llm.Chunking.chunksFrameFrom(
          Seq((1L, boiler)).toDF("doc_id", "text")
            .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks")))
        .filter(col("n_tokens") === graft.llm.Chunking.ChunkTokens)
        .select(md5(col("chunk_text"))).as[String].head()
      assert(got == Set((ts("2024-01-01 10:00:00"), key, 2L, 1L)),
        s"exactly the in-window cross-doc repeat, keyed like batch: $got")
    } finally query.stop()
  }

  test("chunk census: a repeat in the ADJACENT window (inside the horizon) still counts there") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // The same (chunk, doc) pairs recur in the NEXT tumbling window,
    // within the 1-hour watermark horizon. The dedup key includes the
    // window start, so window 11:00 must ALSO report n_docs=2 — a dedup
    // on (chunk_key, doc_id) alone would drop the recurrences across
    // the whole horizon and leave 11:00 unflagged (advisor finding, r17).
    val boiler = (1 to graft.llm.Chunking.ChunkTokens).map(i => s"aw$i").mkString(" ")
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), boiler),
      (2L, ts("2024-01-01 10:10:00"), boiler), // window 10:00 -> n_docs=2
      (1L, ts("2024-01-01 11:05:00"), boiler), // refetched next window,
      (2L, ts("2024-01-01 11:10:00"), boiler)) // still in horizon of 10:xx state
    val source = MemoryStream[(Long, Timestamp, String)]
    val query = DocStream.streamingChunkCensus(
        source.toDF().toDF("doc_id", "ts", "text"), "1 hour")
      .writeStream.format("memory")
      .queryName("chunk_census_adjacent").outputMode("append").start()
    try {
      source.addData(rows: _*)
      query.processAllAvailable()
      source.addData((99L, ts("2024-01-01 16:00:00"),
        (1 to graft.llm.Chunking.ChunkTokens).map(i => s"zz$i").mkString(" ")))
      query.processAllAvailable()
      val got = spark.table("chunk_census_adjacent")
        .select("window_start", "n_docs", "first_doc")
        .as[(Timestamp, Long, Long)].collect().toSet
      assert(got == Set(
          (ts("2024-01-01 10:00:00"), 2L, 1L),
          (ts("2024-01-01 11:00:00"), 2L, 1L)),
        s"both windows must report their own census row, got $got")
    } finally query.stop()
  }

  test("streaming media dedup flags the in-horizon re-encode, not the out-of-horizon one") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // base grid, its clipped-brightness re-encode (digest-different,
    // perceptually near), an unrelated grid, and a LATE re-encode
    // arriving outside the horizon
    val base = (0 until 64).map(i => (i * 37 + 11) % 256)
    val reenc = base.map(b => math.min(b + 4, 255))
    val other = (0 until 64).map(i => (i * 101 + 5) % 251)
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), base),
      (2L, ts("2024-01-01 10:10:00"), reenc), // in horizon of 1 -> pair
      (4L, ts("2024-01-01 10:05:00"), other), // near nothing
      (3L, ts("2024-01-01 12:00:00"), reenc)) // out of horizon -> silent
    val source = MemoryStream[(Long, Timestamp, Seq[Int])]
    val query = DocStream.streamingMediaDedup(
        source.toDF().toDF("media_id", "ts", "grid"), "30 MINUTES")
      .writeStream.format("memory")
      .queryName("media_dedup_test").outputMode("append").start()
    try {
      source.addData(rows: _*)
      query.processAllAvailable()
      source.addData((99L, ts("2024-01-01 15:00:00"), other.map(_ / 2)))
      query.processAllAvailable()
      val got = spark.table("media_dedup_test")
        .select("media_a", "media_b", "hamming")
        .as[(Long, Long, Long)].collect().toSet
      // the batch kernel on the same 4 payloads is the semantic anchor:
      // it pairs (1,2) and (1,3) and (2,3); the stream must emit exactly
      // the in-horizon subset
      val batch = graft.llm.Multimodal.mediaNearDedupFrom(
          rows.map(r => (r._1, r._3)).toDF("media_id", "grid"))
        .select("media_a", "media_b")
        .as[(Long, Long)].collect().toSet
      assert(batch == Set((1L, 2L), (1L, 3L), (2L, 3L)),
        s"batch anchor must pair all three near-identical payloads, got $batch")
      assert(got.map(p => (p._1, p._2)) == Set((1L, 2L)),
        s"stream must emit exactly the in-horizon pair, got $got")
      assert(got.forall(_._3 <= 7))
    } finally query.stop()
  }

  test("streaming media gate drops exactly the batch apply's drop set, admits the novel") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // static library = the batch keep set (media_near_apply keeps every
    // original on this corpus; the re-encodes are its drop set); the
    // arrival stream replays the re-encodes (re-uploads of library
    // content) plus one genuinely novel clip
    val lib = graft.llm.Multimodal.mediaLibrary(spark, sfDir).cache()
    val keptIds = graft.llm.Multimodal.mediaNearApply(spark, sfDir)
      .select("media_id")
    val staticLib = lib.join(keptIds, Seq("media_id"), "left_semi")
    val dropSet = lib.join(keptIds, Seq("media_id"), "left_anti")
      .select("media_id").as[Long].collect().toSet
    assert(dropSet.nonEmpty, "the gate corpus must contain re-encodes to replay")
    val reuploads = lib.join(keptIds, Seq("media_id"), "left_anti")
      .as[(Long, Seq[Int])].collect().toSeq
      .map { case (id, g) => (id, ts("2024-01-01 10:00:00"), g) }
    val novel = (777777L, ts("2024-01-01 10:05:00"),
      (0 until 64).map(i => (i * 149 + 3) % 256))
    val source = MemoryStream[(Long, Timestamp, Seq[Int])]
    val query = DocStream.streamingMediaGate(
        source.toDF().toDF("media_id", "ts", "grid"), staticLib)
      .writeStream.format("memory")
      .queryName("media_gate_test").outputMode("append").start()
    try {
      source.addData(reuploads :+ novel: _*)
      query.processAllAvailable()
      val admitted = spark.table("media_gate_test")
        .select("media_id").as[Long].collect().toSet
      // pair test: every batch-dropped member is gate-dropped at ingest;
      // the novel clip (near nothing in the library) passes
      assert(admitted == Set(novel._1),
        s"gate must drop exactly the batch drop set ($dropSet), admitted $admitted")
    } finally { query.stop(); lib.unpersist() }
  }

  test("gate fingerprint caches are released when the last streaming query terminates") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val staticLib = Seq(
      (1L, (0 until 64).map(i => (i * 37 + 11) % 256)),
      (2L, (0 until 64).map(i => (i * 101 + 5) % 251)))
      .toDF("media_id", "grid")
    val novel = (9L, ts("2024-01-01 10:00:00"),
      (0 until 64).map(i => (i * 149 + 3) % 256))
    val source = MemoryStream[(Long, Timestamp, Seq[Int])]
    val query = DocStream.streamingMediaGate(
        source.toDF().toDF("media_id", "ts", "grid"), staticLib)
      .writeStream.format("memory")
      .queryName("gate_release_test").outputMode("append").start()
    try {
      source.addData(novel)
      query.processAllAvailable()
      assert(DocStream.activeGateCacheCount >= 1,
        "a running gate must hold its registered fingerprint cache")
    } finally query.stop()
    // the termination event is delivered asynchronously on the listener
    // bus — poll briefly instead of asserting immediately
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (DocStream.activeGateCacheCount > 0 && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(DocStream.activeGateCacheCount == 0,
      "gate caches must be drained once no streaming query remains active")
  }

  test("streaming audio gate drops exactly the batch pair set's arrivals, admits the novel") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // static library = the originals; the arrival stream replays every
    // requantized re-encode (a lossy re-upload of library content — every
    // byte differs, the envelope fingerprint survives) plus one novel clip
    val lib = graft.llm.Multimodal.audioLibrary(spark, sfDir).cache()
    val offset = graft.llm.Multimodal.ReencodeIdOffset
    val staticLib = lib.filter(col("media_id") < offset)
    val reuploads = lib.filter(col("media_id") >= offset)
      .as[(Long, Seq[Int])].collect().toSeq
      .map { case (id, sm) => (id, ts("2024-01-01 10:00:00"), sm) }
    assert(reuploads.nonEmpty, "the corpus must contain audio re-encodes to replay")
    // semantic anchor: the batch kernel's pair set over the same library —
    // a re-encode the batch pairs with an ORIGINAL is exactly what the
    // gate must refuse at ingest
    val origIds = staticLib.select("media_id").as[Long].collect().toSet
    val batchDrops = graft.llm.Multimodal.audioNearDedupFrom(lib)
      .select("media_a", "media_b").as[(Long, Long)].collect()
      .flatMap { case (a, b) =>
        Seq(a, b).filter(id => id >= offset &&
          Seq(a, b).exists(o => origIds(o)))
      }.toSet
    assert(batchDrops == reuploads.map(_._1).toSet,
      "MultimodalSpec's invariant drifted: every re-encode pairs with an original")
    // monotone-energy novel clip: gradients all-ones, far from every
    // md5-derived library envelope fingerprint
    val novel = (777777L, ts("2024-01-01 10:05:00"),
      (0 until 64).map(i => i * 300 - 9600))
    val source = MemoryStream[(Long, Timestamp, Seq[Int])]
    val query = DocStream.streamingAudioGate(
        source.toDF().toDF("media_id", "ts", "sm"), staticLib)
      .writeStream.format("memory")
      .queryName("audio_gate_test").outputMode("append").start()
    try {
      source.addData(reuploads :+ novel: _*)
      query.processAllAvailable()
      val admitted = spark.table("audio_gate_test")
        .select("media_id").as[Long].collect().toSet
      assert(admitted == Set(novel._1),
        s"gate must drop exactly the batch pair set ($batchDrops), admitted $admitted")
    } finally { query.stop(); lib.unpersist() }
  }

  test("streaming chunk strip equals the batch apply kernel on the same corpus") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val W = graft.llm.Chunking.ChunkTokens
    // boilerplate = one full-width window shared by docs 1 and 2 (their
    // unique prose differs); doc 3 is unrelated and must pass untouched
    val boiler = (1 to W).map(i => s"bp$i").mkString(" ")
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), s"$boiler alpha beta gamma"),
      (2L, ts("2024-01-01 10:10:00"), s"$boiler delta epsilon"),
      (3L, ts("2024-01-01 10:20:00"),
        (1 to W).map(i => s"ux$i").mkString(" ") + " zeta"))
    val docs = rows.toDF("doc_id", "ts", "text")
    // the static census artifact: the batch census's flagged keys
    val flagged = graft.llm.Chunking.chunksFrameFrom(
        docs.select(col("doc_id"), graft.llm.Chunking.toksCol(col("text")).as("toks")))
      .filter(col("n_tokens") === W)
      .groupBy(md5(col("chunk_text")).as("chunk_key"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select("chunk_key").as[String].collect().toSeq
    assert(flagged.nonEmpty, "the planted boilerplate must be flagged")
    val source = MemoryStream[(Long, Timestamp, String)]
    val query = DocStream.streamingChunkStrip(
        source.toDF().toDF("doc_id", "ts", "text"), flagged)
      .writeStream.format("memory")
      .queryName("chunk_strip_test").outputMode("append").start()
    try {
      source.addData(rows: _*)
      query.processAllAvailable()
      val got = spark.table("chunk_strip_test")
        .select("doc_id", "n_tokens_before", "n_tokens_after", "clean_text")
        .as[(Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
      val want = graft.llm.Chunking.chunkDedupApplyFrom(
          docs.select(col("doc_id"), graft.llm.Chunking.toksCol(col("text")).as("toks")))
        .as[(Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
      assert(got == want,
        s"ingest strip must equal the batch apply kernel,\n got=$got\nwant=$want")
      // and the strip is real: the boilerplate window is gone, prose kept
      assert(got.find(_._1 == 1L).get._4 == "alpha beta gamma")
      assert(got.find(_._1 == 3L).get._2 == got.find(_._1 == 3L).get._3)
    } finally query.stop()
    // the tokenization must materialize ONCE per row: if CollapseProject
    // inlined the split chain into the span-probe lambdas, it would
    // re-tokenize the document per candidate window (the r17 inlining
    // study). Same code path on a batch frame exposes the optimized plan
    // (a parquet-backed one — ConvertToLocalRelation folds a local frame
    // to data, leaving no expressions to count).
    val opt = DocStream.streamingChunkStrip(
        Tables.documents(spark, sfDir)
          .select(col("doc_id"), current_timestamp().as("ts"), col("text")),
        flagged)
      .queryExecution.optimizedPlan
    val splits = opt.collect { case p => p.expressions }.flatten
      .map(e => "split\\(".r.findAllIn(e.toString).size).sum
    assert(splits == 1,
      s"tokenization must appear exactly once in the optimized plan, found $splits")
  }

  test("a multi-band match emits once and identical docs pair at hamming 0 per band math") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // identical fingerprints collide in ALL 8 bands — the duplicate-pair
    // suppression (dropDuplicatesWithinWatermark) must collapse the 8
    // band hits to one emitted row.
    val text = (1 to 30).map(i => s"beta$i").mkString(" ")
    val source = MemoryStream[(Long, Timestamp, String)]
    val query = DocStream.streamingSimhashDedup(
        source.toDF().toDF("doc_id", "ts", "text"), "30 MINUTES")
      .writeStream.format("memory")
      .queryName("doc_dedup_multiband").outputMode("append").start()
    try {
      source.addData((1L, ts("2024-01-01 10:00:00"), text),
        (2L, ts("2024-01-01 10:01:00"), text))
      query.processAllAvailable()
      source.addData((99L, ts("2024-01-01 15:00:00"),
        (1 to 30).map(i => s"gamma${i * 3}").mkString(" ")))
      query.processAllAvailable()
      val got = spark.table("doc_dedup_multiband")
        .select("doc_a", "doc_b", "hamming")
        .as[(Long, Long, Long)].collect().toSeq
      assert(got == Seq((1L, 2L, 0L)), s"exactly one row for the pair, got $got")
    } finally query.stop()
  }

  test("streaming model gate admits exactly the batch keep set with identical scores") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // the offline-trained artifact (4 doubles) — the handoff the twin models
    val w = graft.llm.QualityLr.trainWeightsFrom(graft.llm.QualityLr.featFrame(spark, sfDir))
    val batch = graft.llm.QualityLr.qualityLrScore(spark, sfDir)
      .as[(Long, Double, Boolean)].collect()
    val want = batch.filter(_._3).map(r => r._1 -> r._2).toMap
    assert(want.nonEmpty && want.size < batch.length,
      "corpus must exercise both admit and drop paths")
    val rows = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, text) => (id, ts("2024-01-01 10:00:00"), text) }.toSeq
    val source = MemoryStream[(Long, Timestamp, String)]
    val query = DocStream.streamingModelGate(
        source.toDF().toDF("doc_id", "ts", "text"), w)
      .writeStream.format("memory")
      .queryName("model_gate_test").outputMode("append").start()
    try {
      source.addData(rows: _*)
      query.processAllAvailable()
      val got = spark.table("model_gate_test")
        .select("doc_id", "lr_score")
        .as[(Long, Double)].collect().map(r => r._1 -> r._2).toMap
      assert(got == want,
        s"ingest gate must equal the batch keep set: got=${got.size} want=${want.size}")
    } finally query.stop()
  }
}
