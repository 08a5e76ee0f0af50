package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: opaque `binary` payloads with typed
  * metadata, decoded/feature-extracted in batched partition passes
  * (builder brief). The container ships no image/audio codecs, so the
  * decode kernel is a clearly-marked deterministic STUB — what is real and
  * tested is everything Spark-side: the binary column shape, the typed
  * Dataset schema, the mapPartitions batch iteration (the Scala analogue
  * of mapInPandas batches: decode amortizes per-batch setup), and the
  * columnar feature projection.
  *
  * The synthetic payload is unhex(md5(text)) — 16 opaque bytes per
  * document — so the pipeline runs end-to-end on the driver corpus. The
  * registered `media_features` entry computes the SAME features with pure
  * columnar expressions (hex arithmetic on both engines), giving the
  * mapPartitions path an exact equivalence check (spec) and the entry a
  * DuckDB oracle.
  */
object Multimodal {

  /** A document's opaque media payload. */
  final case class MediaRecord(doc_id: Long, content: Array[Byte])

  /** Extracted features: fake-decoded dimensions + mean byte intensity. */
  final case class MediaFeature(doc_id: Long, width: Int, height: Int,
                                n_bytes: Int, mean_byte: Double)

  /** STUB decoder — stands in for an image codec. Deterministic pure
    * function of the payload bytes: "width/height" from the first two
    * bytes, "intensity" as the mean byte value. A real deployment swaps
    * this body for the codec call; the signature and batch shape stay. */
  private def decodeStub(r: MediaRecord): MediaFeature = {
    val b = r.content
    val width = (b(0) & 0xff) % 16 + 1
    val height = (b(1) & 0xff) % 16 + 1
    val mean = b.map(_ & 0xff).sum.toDouble / b.length
    MediaFeature(r.doc_id, width, height, b.length, round6(mean))
  }

  /** The binary-column source: documents with an opaque 16-byte payload. */
  def mediaRecords(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text"))).as("content"))
      .as[MediaRecord]
  }

  /** The batched decode pass: mapPartitions with fixed-size batches — the
    * batch boundary is where a real codec amortizes model/library setup
    * (the mapInPandas batch analogue). Purely partition-local: no shuffle,
    * scales with input splits. */
  def mediaDataset(spark: SparkSession, dir: String,
                   batchSize: Int = 64): Dataset[MediaFeature] = {
    import spark.implicits._
    mediaRecords(spark, dir).mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch setup would go here (codec init, model load)
        batch.map(decodeStub)
      }
    }
  }

  /** Registered columnar twin of the mapPartitions path: identical
    * features from hex arithmetic (byte i = hex pair 2i+1..2i+2 of the
    * md5), expressible on both engines. The spec asserts it equals
    * `mediaDataset` row-for-row. */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).withColumn("h", md5(col("text")))
    def byteAt(i: Int) =
      expr(s"CAST(conv(substring(h, ${2 * i + 1}, 2), 16, 10) AS INT)")
    val sumBytes = (0 until 16).map(byteAt).reduce(_ + _)
    d.select(
      col("doc_id"),
      (byteAt(0) % 16 + 1).as("width"),
      (byteAt(1) % 16 + 1).as("height"),
      lit(16).as("n_bytes"),
      round(sumBytes.cast("double") / 16d, 6).as("mean_byte"))
      .orderBy("doc_id")
  }

  val mediaFeaturesSql: String = {
    def byteAt(i: Int) = s"('0x' || substr(h, ${2 * i + 1}, 2))::INT"
    val sumBytes = (0 until 16).map(byteAt).mkString(" + ")
    s"""WITH m AS (SELECT doc_id, md5(text) AS h FROM documents)
       |SELECT doc_id,
       |       ${byteAt(0)} % 16 + 1 AS width,
       |       ${byteAt(1)} % 16 + 1 AS height,
       |       16 AS n_bytes,
       |       round(($sumBytes) / 16.0, 6) AS mean_byte
       |FROM m ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Video shape: frame sampling + resize. A "video" is a longer opaque
  // payload; frame-sampling emits one row per kept frame (the explode-
  // heavy shape video pipelines put through Spark: frame extraction fans
  // a row out to its sampled frames, then per-frame work is
  // embarrassingly parallel). Resize is the per-frame byte-stride
  // subsample of the stub codec. Synthetic payload: 4 chained md5s = 64
  // bytes = 8 frames of 8 bytes; sample every 2nd frame; resize keeps
  // every 2nd byte of a kept frame.
  // ---------------------------------------------------------------------

  private val FrameBytes = 8
  private val FrameStep = 2
  private val NumFrames = 4 * 16 / FrameBytes // 4 md5 payloads of 16 bytes
  private val ResizeStride = 2

  /** A document's synthetic 64-byte "video" payload. */
  final case class VideoRecord(doc_id: Long, content: Array[Byte])

  /** One sampled, resized frame. */
  final case class FrameFeature(doc_id: Long, frame_idx: Long,
                                frame_hex: String, mean_resized: Double)

  /** The 64-byte payload: md5(text) ++ md5(text+x) ++ md5(text+y) ++
    * md5(text+z) — deterministic and reproducible on both engines. */
  private def videoHex = concat(
    md5(col("text")), md5(concat(col("text"), lit("x"))),
    md5(concat(col("text"), lit("y"))), md5(concat(col("text"), lit("z"))))

  def videoRecords(spark: SparkSession, dir: String): Dataset[VideoRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(videoHex).as("content"))
      .as[VideoRecord]
  }

  /** STUB frame-sample + resize over the typed Dataset — partition-local
    * batches like [[mediaDataset]]; a real deployment swaps the byte
    * slicing for codec frame extraction + scaling, batch shape unchanged. */
  def frameDataset(spark: SparkSession, dir: String,
                   batchSize: Int = 64): Dataset[FrameFeature] = {
    import spark.implicits._
    videoRecords(spark, dir).mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch setup would go here (decoder init)
        batch.iterator.flatMap { v =>
          (0 until NumFrames by FrameStep).iterator.map { f =>
            val frame = v.content.slice(f * FrameBytes, (f + 1) * FrameBytes)
            val resized = frame.indices.collect {
              case i if i % ResizeStride == 0 => frame(i) & 0xff
            }
            FrameFeature(v.doc_id, f.toLong,
              frame.map(b => f"${b & 0xff}%02x").mkString,
              round6(resized.sum.toDouble / resized.size))
          }
        }
      }
    }
  }

  /** Registered columnar twin: explode the sampled frame indices, slice
    * each frame out of the hex payload, and average the stride-kept
    * bytes — pure codegen'd expressions, one output row per kept frame.
    * The spec asserts it equals [[frameDataset]] row-for-row. */
  def mediaFrameSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).withColumn("h", videoHex)
    val sampled = d.withColumn("frame_idx",
      explode(sequence(lit(0L), lit((NumFrames - 1).toLong), lit(FrameStep.toLong))))
    val frameHex = expr(s"substring(h, CAST(frame_idx * ${2 * FrameBytes} + 1 AS INT), ${2 * FrameBytes})")
    val resizedBytes = (0 until FrameBytes by ResizeStride).map(i =>
      expr(s"CAST(conv(substring(h, CAST(frame_idx * ${2 * FrameBytes} + ${2 * i + 1} AS INT), 2), 16, 10) AS INT)"))
    val nKept = resizedBytes.size
    sampled.select(
      col("doc_id"), col("frame_idx"),
      lower(frameHex).as("frame_hex"),
      round(resizedBytes.reduce(_ + _).cast("double") / nKept, 6).as("mean_resized"))
      .orderBy("doc_id", "frame_idx")
  }

  val mediaFrameSampleSql: String = {
    def byteAt(off: Int) =
      s"('0x' || substr(h, (frame_idx * ${2 * FrameBytes} + $off)::INT, 2))::INT"
    val resized = (0 until FrameBytes by ResizeStride).map(i => byteAt(2 * i + 1))
    s"""WITH v AS (
       |  SELECT doc_id,
       |         md5(text) || md5(text || 'x') || md5(text || 'y') || md5(text || 'z') AS h
       |  FROM documents
       |), f AS (
       |  SELECT doc_id, h, unnest(generate_series(0, ${NumFrames - 1}, $FrameStep)) AS frame_idx
       |  FROM v
       |)
       |SELECT doc_id, frame_idx,
       |       lower(substr(h, (frame_idx * ${2 * FrameBytes} + 1)::INT, ${2 * FrameBytes})) AS frame_hex,
       |       round((${resized.mkString(" + ")}) / ${resized.size}.0, 6) AS mean_resized
       |FROM f ORDER BY doc_id, frame_idx""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Audio shape: waveform feature extraction. An "audio clip" is an opaque
  // payload whose first bytes act as a header (sample rate) and whose
  // remainder is 16-bit big-endian signed PCM. The extracted features are
  // the ones an audio-curation pipeline filters on: sample rate, duration,
  // peak amplitude, RMS energy — all per-row, no shuffle, partition-local.
  // Synthetic payload: 2 chained md5s = 32 bytes = 2-byte header + 15
  // samples. Same stub discipline as image/video: the byte-parsing stands
  // in for the codec, the Spark-side plumbing is real and oracle-gated.
  // ---------------------------------------------------------------------

  private val HeaderBytes = 2
  private val BytesPerSample = 2
  private val NumSamples = (2 * 16 - HeaderBytes) / BytesPerSample // 15

  /** A document's synthetic 32-byte "audio" payload. */
  final case class AudioRecord(doc_id: Long, content: Array[Byte])

  /** Waveform features from the stub decode. */
  final case class AudioFeature(doc_id: Long, sample_rate: Int,
                                n_samples: Int, duration_ms: Double,
                                peak: Int, rms: Double)

  /** The 32-byte payload: md5(text) ++ md5(text+a). */
  private def audioHex = concat(md5(col("text")), md5(concat(col("text"), lit("a"))))

  def audioRecords(spark: SparkSession, dir: String): Dataset[AudioRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(audioHex).as("content"))
      .as[AudioRecord]
  }

  /** HALF_UP at 6dp — the same rule as Spark's `round(col, 6)` and
    * DuckDB's `round(x, 6)`, so typed/columnar/oracle agree bit-for-bit
    * (math.rint is half-EVEN and diverges at exact ties). */
  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** STUB audio decode — header parse + PCM accumulate, per record. The
    * squares are summed in Double (a signed 16-bit sample squares to ~10⁹;
    * 15 of them overflow Int, and ANSI mode would throw). */
  private def decodeAudioStub(r: AudioRecord): AudioFeature = {
    val b = r.content
    val rate = ((b(0) & 0xff) % 4 + 1) * 8000
    val samples = (0 until NumSamples).map { i =>
      val raw = ((b(HeaderBytes + BytesPerSample * i) & 0xff) << 8) |
        (b(HeaderBytes + BytesPerSample * i + 1) & 0xff)
      if (raw >= 32768) raw - 65536 else raw
    }
    AudioFeature(r.doc_id, rate, NumSamples,
      round6(NumSamples * 1000.0 / rate),
      samples.map(math.abs).max,
      round6(math.sqrt(samples.map(s => s.toDouble * s).sum / NumSamples)))
  }

  /** The batched decode pass — identical batch discipline to
    * [[mediaDataset]]: partition-local, fixed-size batches where a real
    * audio codec would amortize its setup. */
  def audioDataset(spark: SparkSession, dir: String,
                   batchSize: Int = 64): Dataset[AudioFeature] = {
    import spark.implicits._
    audioRecords(spark, dir).mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch setup would go here (codec init)
        batch.map(decodeAudioStub)
      }
    }
  }

  /** Registered columnar twin: the same features from hex arithmetic —
    * pure codegen'd expressions, no shuffle beyond the presentation sort.
    * The spec asserts it equals [[audioDataset]] row-for-row. */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).withColumn("h", audioHex)
    def signedAt(i: Int) = {
      val raw = expr(
        s"CAST(conv(substring(h, ${2 * (HeaderBytes + BytesPerSample * i) + 1}, ${2 * BytesPerSample}), 16, 10) AS INT)")
      when(raw >= 32768, raw - 65536).otherwise(raw)
    }
    val rate = (expr("CAST(conv(substring(h, 1, 2), 16, 10) AS INT)") % 4 + 1) * 8000
    val samples = (0 until NumSamples).map(signedAt)
    val sumSq = samples.map(s => s.cast("double") * s.cast("double")).reduce(_ + _)
    d.select(
      col("doc_id"),
      rate.as("sample_rate"),
      lit(NumSamples).as("n_samples"),
      round(lit(NumSamples * 1000.0) / rate.cast("double"), 6).as("duration_ms"),
      greatest(samples.map(abs): _*).as("peak"),
      round(sqrt(sumSq / NumSamples), 6).as("rms"))
      .orderBy("doc_id")
  }

  val audioFeaturesSql: String = {
    def rawAt(i: Int) =
      s"('0x' || substr(h, ${2 * (HeaderBytes + BytesPerSample * i) + 1}, ${2 * BytesPerSample}))::INT"
    def signedAt(i: Int) =
      s"(CASE WHEN ${rawAt(i)} >= 32768 THEN ${rawAt(i)} - 65536 ELSE ${rawAt(i)} END)"
    val sumSq = (0 until NumSamples)
      .map(i => s"CAST(${signedAt(i)} AS DOUBLE) * ${signedAt(i)}").mkString(" + ")
    val peak = (0 until NumSamples).map(i => s"abs(${signedAt(i)})").mkString(", ")
    s"""WITH a AS (SELECT doc_id, md5(text) || md5(text || 'a') AS h FROM documents)
       |SELECT doc_id,
       |       (('0x' || substr(h, 1, 2))::INT % 4 + 1) * 8000 AS sample_rate,
       |       $NumSamples AS n_samples,
       |       round(${NumSamples * 1000.0}::DOUBLE / ((('0x' || substr(h, 1, 2))::INT % 4 + 1) * 8000), 6) AS duration_ms,
       |       greatest($peak) AS peak,
       |       round(sqrt(($sumSq) / $NumSamples), 6) AS rms
       |FROM a ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Exact content dedup over the media payloads — the first dedup pass
  // every multimodal pipeline runs (byte-identical re-uploads, mirror
  // copies) BEFORE any decode: hash the opaque payload, group, keep one.

  /** Byte-identical media dedup by content digest: one row per distinct
    * payload digest with the canonical keeper (min doc_id — the
    * keep-first policy of the text family) and its copy count — the
    * [[graft.llm.TextAnalysis.exactDedup]] contract applied to binary
    * content. The payload digest, like every feature above, is computed
    * from the synthetic payload's generator (md5 chain on doc text), so
    * the columnar twin is oracle-expressible; on real media the digest
    * is `md5(content)` over the binary column and the plan is
    * IDENTICAL — one counter aggregate keyed on a fixed-width digest.
    * The digest (not the blob) is the shuffle key, so a 10 MB image
    * costs the same exchange bytes as a 10-char caption; the caller's
    * drop step anti-joins on `n_copies > 1` groups. */
  def mediaExactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(md5(col("text"))).as("digest"))
      .groupBy("digest")
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy("canonical_id")

  val mediaExactDedupSql: String =
    """SELECT md5(md5(text)) AS digest, min(doc_id) AS canonical_id,
      |       count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY canonical_id""".stripMargin

  // ---------------------------------------------------------------------
  // Perceptual near-duplicate detection — the near-dup member of the
  // multimodal family (VERDICT r17 #1). [[mediaExactDedup]] only catches
  // byte-identical copies: a re-encoded/re-compressed upload of the same
  // image has a different digest and sails through. The perceptual pass
  // fingerprints the DECODED payload (here the stub codec's byte grid;
  // a real deployment feeds the 8×8 block-mean grid of the decoded
  // image) with the dHash shape — gradient SIGNS between adjacent grid
  // cells — which is invariant to uniform brightness/level shifts and
  // degrades by single bits under local perturbation, then finds pairs
  // with the SAME 60-bit banded-Hamming machinery as the text SimHash
  // kernel ([[Dedup.bandedHammingPairs]]): never all-pairs, recall-exact
  // at Hamming ≤ 7 by pigeonhole.
  //
  // Synthetic re-encodes: the driver corpus has no binary near-dups (the
  // payload generator is an md5 chain, so distinct texts give unrelated
  // bytes), so the registered library models the real-world input —
  // every [[ReencodeEvery]]-th document also has a "re-encoded" copy
  // (media_id = doc_id + [[ReencodeIdOffset]]) whose grid is a
  // brightness-shifted clip of the original: digest-different,
  // perceptually near. Both the grid decode and the re-encode transform
  // are pure byte arithmetic, so the DuckDB oracle replays the library
  // and checks the pair set all-pairs (exact, by pigeonhole).
  // ---------------------------------------------------------------------

  /** Grid cells of the stub decode (the 64-byte video payload = an 8×8
    * byte grid — block means in a real pipeline). */
  private val GridBytes = 64

  /** dHash width: 60 adjacent-cell gradients — a signed-long lane on
    * both engines, the width [[Dedup.bandedHammingPairs]] bands. */
  private val DhashBits = 60

  /** Brightness shift of the synthetic re-encode, clipped at 255 —
    * clipping makes the copy NEAR-identical (a gradient between two
    * clipped cells flattens), not bit-identical, so the entry exercises
    * nonzero Hamming too. */
  private[llm] val BrightnessDelta = 4

  /** Every `ReencodeEvery`-th document has a re-encoded library copy. */
  private[llm] val ReencodeEvery = 50

  /** media_id of a re-encoded copy = doc_id + this offset. PRECONDITION:
    * every corpus doc_id must sit below this offset, or original and
    * re-encode ids collide and `kind` mislabels — MultimodalSpec pins the
    * invariant on the oracle-gate corpus (the same pattern as the
    * near-dup-threshold corpus pin in SimilaritySpec); a production
    * deployment would derive media_id = 2·doc_id (+1 for copies)
    * instead of an offset. */
  private[graft] val ReencodeIdOffset = 10000000L

  /** The decoded byte grid as an INT array column from the payload hex —
    * the native one-pass [[graft.functions.HexWords]] decode (r22 §11:
    * the `transform(sequence, i -> conv(substr(...), 16, 10))` HOF chain
    * is CodegenFallback and paid n interpreted lambda evals + n substr
    * allocations + n string-radix parses per row; MultimodalSpec pins
    * element equality against that formulation corpus-wide). */
  private def gridFromHex(h: Column): Column =
    graft.functions.HexWords.of(h, 2, GridBytes, signed = false)

  /** The 60-bit dHash: bit i = 1 iff grid(i) > grid(i+1) — the native
    * [[graft.functions.DhashBits]] kernel (r22 §11: the previous
    * zip_with/aggregate fold was CodegenFallback and allocated two
    * slices, a zipped array, and 60 accumulator structs per row; bit
    * semantics — missing/null neighbors vote 0, empty folds to 0, null
    * array is null — are pinned against the fold formulation by
    * MultimodalSpec/PerceptualKernelsSpec). */
  private[graft] def dhashCol(grid: Column): Column =
    graft.functions.DhashBits.of(grid, DhashBits)

  /** The media library: every document's decoded grid, plus the
    * re-encoded copy of every [[ReencodeEvery]]-th document. Spread:
    * per-payload decode + fingerprint + band fan-out serialize on a
    * single-split scan (identity at real scale, see [[Tables.spread]];
    * caught at the 25× rehearsal — one task carried the whole banded
    * join). */
  private[graft] def mediaLibrary(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.spread(Tables.documents(spark, dir)).withColumn("h", videoHex)
      .select(col("doc_id"), gridFromHex(col("h")).as("grid"))
    g.select(col("doc_id").as("media_id"), col("grid"))
      .unionAll(g.filter(col("doc_id") % ReencodeEvery === 0)
        .select((col("doc_id") + ReencodeIdOffset).as("media_id"),
          transform(col("grid"),
            b => least(b + BrightnessDelta, lit(255))).as("grid")))
  }

  /** The kernel over any (media_id, grid) frame — specs plant perturbed
    * payload pairs here that exact digest dedup provably misses. */
  private[graft] def mediaNearDedupFrom(lib: DataFrame): DataFrame = {
    Dedup.bandedHammingPairs(
      lib.select(col("media_id").as("doc_id"), dhashCol(col("grid")).as("phash")),
      Seq("phash"), Dedup.SimBands)
      .withColumnRenamed("doc_a", "media_a")
      .withColumnRenamed("doc_b", "media_b")
  }

  /** Registered entry: perceptual near-dup pairs over the media library
    * (media_a < media_b, Hamming ≤ 7 of 60 dHash bits). */
  def mediaNearDedup(spark: SparkSession, dir: String): DataFrame =
    mediaNearDedupFrom(mediaLibrary(spark, dir))

  /** The shared WITH-chain producing the perceptual pair set (`prs`):
    * library → fingerprints → all-pairs Hamming ≤ threshold (exact by
    * pigeonhole, see [[mediaNearDedup]]). Composed by the near-dedup
    * oracle and the apply oracle so both replay ONE definition. */
  private val mediaPairsCteSql: String =
    s"""v AS (
       |  SELECT doc_id,
       |         md5(text) || md5(text || 'x') || md5(text || 'y') || md5(text || 'z') AS h
       |  FROM documents
       |), g AS (
       |  SELECT doc_id,
       |         list_transform(range($GridBytes),
       |           i -> ('0x' || substr(h, 2 * i + 1, 2))::INT) AS grid
       |  FROM v
       |), lib AS (
       |  SELECT doc_id AS media_id, grid FROM g
       |  UNION ALL
       |  SELECT doc_id + $ReencodeIdOffset,
       |         list_transform(grid, b -> least(b + $BrightnessDelta, 255))
       |  FROM g WHERE doc_id % $ReencodeEvery = 0
       |), fp AS (
       |  SELECT media_id,
       |         list_sum(list_transform(range($DhashBits),
       |           i -> CASE WHEN grid[i + 1] > grid[i + 2]
       |                     THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS phash
       |  FROM lib
       |), prs AS (
       |  SELECT a.media_id AS media_a, b.media_id AS media_b,
       |         bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
       |  FROM fp a JOIN fp b ON a.media_id < b.media_id
       |  WHERE bit_count(xor(a.phash, b.phash)) <= ${Dedup.HamMax}
       |)""".stripMargin

  val mediaNearDedupSql: String =
    s"""WITH $mediaPairsCteSql
       |SELECT media_a, media_b, hamming FROM prs
       |ORDER BY media_a, media_b""".stripMargin

  /** The drop step that finishes the perceptual pipeline — the media
    * family's [[graft.llm.Dedup.dedupApply]]: resolve the near-dup PAIRS
    * into connected components (A~B, B~C does not say which of {A,B,C}
    * to keep; the closure does) and emit the library with every
    * non-canonical member removed — keep-first (min media_id), the
    * corpus-wide policy. On the synthetic library the canonical member
    * of an (original, re-encode) cluster is always the original, so the
    * output is "one copy per perceptual identity" — what a real media
    * corpus ships to training after the audit.
    *
    * Scale shape: pairs are banded (never all-pairs); the component
    * resolution runs on the PAIR set (near-dup-sized, tiny vs the
    * library); the drop list is non-canonical members only, so the
    * anti-join broadcasts under AQE and the library streams map-only. */
  def mediaNearApply(spark: SparkSession, dir: String): DataFrame = {
    import graft.RunScope.ScratchCacheOps
    val lib = mediaLibrary(spark, dir).scratchCache() // reused: pairs + drop
    val pairs = mediaNearDedupFrom(lib)
      .select(col("media_a").as("u"), col("media_b").as("v"))
    val drops = Dedup.connectedComponents(pairs)
      .filter(col("node") =!= col("component"))
      .select(col("node").as("media_id"))
    lib.join(drops, Seq("media_id"), "left_anti")
      .select(col("media_id"),
        when(col("media_id") >= ReencodeIdOffset, lit("reencode"))
          .otherwise(lit("original")).as("kind"))
      .orderBy("media_id")
  }

  // ---------------------------------------------------------------------
  // Perceptual AUDIO near-dup (VERDICT r18 #4) — the audio twin of the
  // dHash family: a re-encoded clip (requantized PCM — a lossy codec's
  // level grid) keeps its energy ENVELOPE while every byte changes, so
  // exact digest dedup provably misses it and a fingerprint over the
  // envelope finds it. The fingerprint is the dHash of the moving-window
  // energy sequence: 64 16-bit samples → 61 overlapping 4-sample frame
  // energies (the spectral-envelope stub — band-energy differences
  // degenerate to frame-energy differences when the codec/FFT is stubbed
  // out, same discipline as the byte-grid image decode) → 60 gradient
  // bits via the SAME [[dhashCol]] fold, banded through the SAME
  // [[Dedup.bandedHammingPairs]]. All arithmetic is exact BIGINT (sample
  // squares, not floats), so engine and oracle agree bit-for-bit.
  // ---------------------------------------------------------------------

  /** PCM samples in the fingerprint payload: 8 md5 blocks = 128 bytes =
    * 64 big-endian signed 16-bit samples (no header — the fingerprint
    * reads the raw track; rate/duration live in [[audioFeatures]]). */
  private val AfpSamples = 64

  /** Moving-energy window (samples per frame, hop 1): 61 frames → 60
    * energy gradients = one [[DhashBits]]-wide signed-long lane. */
  private val AfpWindow = 4

  /** Requantization step of the synthetic re-encode: samples snap DOWN to
    * a 64-wide level grid (floor, both engines: s − ((s mod 64)+64 mod
    * 64)). Big enough that a few envelope gradients near zero flip (the
    * entry exercises nonzero Hamming), small enough that every re-encode
    * stays within [[Dedup.HamMax]] of its original on this corpus
    * (MultimodalSpec pins both). */
  private[llm] val AfpQuant = 64

  /** The 128-byte fingerprint payload: the [[audioHex]] clip's generator
    * family extended to 8 blocks (suffixes "", a..g). */
  private def audioFpHex: Column = concat(
    md5(col("text")) +: "abcdefg".map(c =>
      md5(concat(col("text"), lit(c.toString)))): _*)

  /** Signed 16-bit samples from the payload hex — the native
    * [[graft.functions.HexWords]] decode in signed mode (the
    * `v ≥ 32768 → v − 65536` adjustment is the expression's `signed`
    * contract at width 4; r22 §11, parity pinned by MultimodalSpec). */
  private def audioSamples(h: Column): Column =
    graft.functions.HexWords.of(h, 4, AfpSamples, signed = true)

  /** The 61-frame moving energy envelope: E(f) = Σ s(f+j)², j<4 — exact
    * Longs (a 16-bit square is ~10⁹; four of them fit comfortably), via
    * the native [[graft.functions.MovingEnergy]] kernel (r22 §11: the
    * previous squares-transform + 4 slices + 3 zip_withs allocated 8
    * intermediate arrays per row in interpreted lambdas; long addition
    * is exactly associative so the one-loop sum equals the pairwise
    * tree, and the slice/zip_with edge semantics are pinned by
    * PerceptualKernelsSpec). */
  private[graft] def audioEnvelope(sm: Column): Column =
    graft.functions.MovingEnergy.of(sm, AfpWindow, AfpSamples - AfpWindow + 1)

  /** The audio library: every document's decoded sample array plus the
    * requantized re-encode of every [[ReencodeEvery]]-th document (same
    * id scheme as [[mediaLibrary]]; same [[Tables.spread]] guard — the
    * banded self-join must not serialize on a single-split scan). */
  private[graft] def audioLibrary(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), audioSamples(audioFpHex).as("sm"))
    s.select(col("doc_id").as("media_id"), col("sm"))
      .unionAll(s.filter(col("doc_id") % ReencodeEvery === 0)
        .select((col("doc_id") + ReencodeIdOffset).as("media_id"),
          transform(col("sm"), x => x - pmod(x, lit(AfpQuant))).as("sm")))
  }

  /** The kernel over any (media_id, sm) frame — the fingerprint is
    * [[dhashCol]] over the energy envelope, so "perceptually near" means
    * the same thing (≤ [[Dedup.HamMax]] of 60 gradient bits) for both
    * payload kinds. */
  private[graft] def audioNearDedupFrom(lib: DataFrame): DataFrame = {
    Dedup.bandedHammingPairs(
      lib.select(col("media_id").as("doc_id"),
        dhashCol(audioEnvelope(col("sm"))).as("afp")),
      Seq("afp"), Dedup.SimBands)
      .withColumnRenamed("doc_a", "media_a")
      .withColumnRenamed("doc_b", "media_b")
  }

  /** Registered entry: perceptual near-dup pairs over the audio library
    * (media_a < media_b, Hamming ≤ 7 of 60 envelope-gradient bits). */
  def audioNearDedup(spark: SparkSession, dir: String): DataFrame =
    audioNearDedupFrom(audioLibrary(spark, dir))

  /** Oracle: the library and fingerprint replayed in exact BIGINT
    * arithmetic, pair set checked all-pairs (exact by pigeonhole — the
    * banding only prunes, see [[Dedup.bandedHammingPairs]]). */
  val audioNearDedupSql: String = {
    val blocks = "md5(text)" +:
      "abcdefg".map(c => s"md5(text || '$c')")
    val frames = AfpSamples - AfpWindow + 1
    val winSum = (0 until AfpWindow)
      .map(j => s"CAST(sm[f + ${j + 1}] AS BIGINT) * sm[f + ${j + 1}]")
      .mkString(" + ")
    s"""WITH a AS (
       |  SELECT doc_id, ${blocks.mkString(" || ")} AS h FROM documents
       |), smp AS (
       |  SELECT doc_id, list_transform(range($AfpSamples), i ->
       |    CASE WHEN ('0x' || substr(h, 4 * i + 1, 4))::INT >= 32768
       |         THEN ('0x' || substr(h, 4 * i + 1, 4))::INT - 65536
       |         ELSE ('0x' || substr(h, 4 * i + 1, 4))::INT END) AS sm
       |  FROM a
       |), lib AS (
       |  SELECT doc_id AS media_id, sm FROM smp
       |  UNION ALL
       |  SELECT doc_id + $ReencodeIdOffset,
       |         list_transform(sm, x -> x - ((x % $AfpQuant + $AfpQuant) % $AfpQuant))
       |  FROM smp WHERE doc_id % $ReencodeEvery = 0
       |), env AS (
       |  SELECT media_id,
       |         list_transform(range($frames), f -> $winSum) AS en
       |  FROM lib
       |), fp AS (
       |  SELECT media_id,
       |         list_sum(list_transform(range($DhashBits),
       |           i -> CASE WHEN en[i + 1] > en[i + 2]
       |                     THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS afp
       |  FROM env
       |)
       |SELECT a.media_id AS media_a, b.media_id AS media_b,
       |       bit_count(xor(a.afp, b.afp))::BIGINT AS hamming
       |FROM fp a JOIN fp b ON a.media_id < b.media_id
       |WHERE bit_count(xor(a.afp, b.afp)) <= ${Dedup.HamMax}
       |ORDER BY media_a, media_b""".stripMargin
  }

  /** Oracle: the shared pair CTE resolved by the same recursive closure
    * as the text family's apply oracle, anti-filtered keep-first. */
  val mediaNearApplySql: String =
    s"""WITH RECURSIVE $mediaPairsCteSql, edges AS (
       |  SELECT media_a AS u, media_b AS v FROM prs
       |  UNION ALL
       |  SELECT media_b, media_a FROM prs
       |), reach AS (
       |  SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges) nodes
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
       |), comp AS (
       |  SELECT u AS media_id, min(v) AS cluster_id FROM reach GROUP BY u
       |)
       |SELECT l.media_id,
       |       CASE WHEN l.media_id >= $ReencodeIdOffset THEN 'reencode'
       |            ELSE 'original' END AS kind
       |FROM lib l
       |WHERE l.media_id NOT IN (SELECT media_id FROM comp WHERE media_id <> cluster_id)
       |ORDER BY l.media_id""".stripMargin
}
