package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class TextAnalysisSpec extends SparkSpec {

  test("text quality covers every document with sane ranges") {
    val q = TextAnalysis.textQuality(spark, sfDir).cache()
    assert(q.count() == Tables.documents(spark, sfDir).count())
    val bad = q.filter(
      col("n_tokens") <= 0 ||
        col("quality_score") < 0 || col("quality_score") > 1 ||
        col("stop_ratio") < 0 || col("stop_ratio") > 1)
    assert(bad.isEmpty)
  }

  test("fingerprints are content-determined: equal text <=> equal fingerprint") {
    val fp = TextAnalysis.docFingerprint(spark, sfDir)
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), lower(regexp_replace(col("text"), "\\s+", " ")).as("norm"))
    val joined = fp.join(d, "doc_id")
    // same norm text -> same md5 and poly fp (group count == distinct fp count)
    val groups = joined.groupBy("norm")
      .agg(countDistinct("md5_fp").as("nmd5"), countDistinct("poly_fp").as("npoly"))
    assert(groups.filter(col("nmd5") =!= 1 || col("npoly") =!= 1).isEmpty)
  }

  test("exact dedup keeps the minimum doc_id and partitions the corpus") {
    val dd = TextAnalysis.exactDedup(spark, sfDir)
    val total = dd.agg(sum("n_copies")).head().getLong(0)
    assert(total == Tables.documents(spark, sfDir).count())
  }

  test("lang id predicts a language for every doc") {
    val li = TextAnalysis.langId(spark, sfDir)
    assert(li.filter(col("lang_pred").isNull).isEmpty)
  }

  test("repetition metrics: bounded ratios, full coverage, both classes") {
    val m = TextAnalysis.repetitionMetrics(spark, sfDir).cache()
    assert(m.count() == Tables.documents(spark, sfDir).count())
    val bad = m.filter(
      col("distinct_words") > col("n_words") ||
        col("distinct_ratio") <= 0 || col("distinct_ratio") > 1 ||
        col("top_word_share") <= 0 || col("top_word_share") > 1 ||
        col("top_bigram_share") < 0 || col("top_bigram_share") > 1)
    assert(bad.isEmpty, bad.take(3).mkString(", "))
    // the thresholds split this corpus: the flag fires on a strict subset
    val flagged = m.filter(col("is_repetitive")).count()
    assert(flagged > 0 && flagged < m.count(), s"flagged=$flagged")
    // a fully repeated doc scores top shares of 1; cross-check one doc
    // against a driver-side model
    val row = m.orderBy("doc_id").head()
    val text = Tables.documents(spark, sfDir).orderBy("doc_id").head()
      .getAs[String]("text")
    val ws = text.trim.toLowerCase.split("\\s+").toSeq
    val bi = ws.sliding(2).map(_.mkString(" ")).toSeq
    assert(row.getLong(1) == ws.length)
    assert(row.getLong(2) == ws.distinct.length)
    val topW = ws.groupBy(identity).values.map(_.size).max
    val topB = bi.groupBy(identity).values.map(_.size).max
    assert(math.abs(row.getDouble(4) - topW.toDouble / ws.length) < 1e-6)
    assert(math.abs(row.getDouble(5) - topB.toDouble / (ws.length - 1)) < 1e-6)
  }

  test("top terms: descending counts, tf/df/idf invariants, driver model") {
    val t = TextAnalysis.corpusTopTerms(spark, sfDir).cache()
    assert(t.count() > 0 && t.count() <= 50)
    assert(t.filter(col("df") < 1 || col("tf") < col("df") || col("idf") < 0).isEmpty)
    val tfs = t.orderBy(col("tf").desc, col("term")).select("tf")
      .collect().map(_.getLong(0)).toSeq
    assert(tfs == tfs.sorted.reverse, "tf not non-increasing in rank order")
    // driver-side model over the tiny sf0.001 corpus: exact tf and df of
    // the operator's top term
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase.split("\\s+").toSeq)
    val top = t.orderBy(col("tf").desc, col("term")).head()
    val term = top.getString(0)
    val tf = docs.iterator.map(_._2.count(_ == term)).sum.toLong
    val df = docs.count(_._2.contains(term)).toLong
    assert(top.getLong(1) == tf && top.getLong(2) == df)
    assert(math.abs(top.getDouble(3) - math.log(docs.length.toDouble / df)) < 1e-5)
    t.unpersist()
  }

  test("unigram surprise matches a driver model and covers every doc") {
    val got = TextAnalysis.unigramSurprise(spark, sfDir).cache()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase.split("\\s+").toSeq)
    assert(got.count() == docs.length)
    // driver model with the same 6dp-rounded per-term scores
    val all = docs.flatMap(_._2)
    val n = all.length.toDouble
    val nll = all.groupBy(identity).map { case (t, g) =>
      t -> BigDecimal(-math.log(g.size / n))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    val want = docs.map { case (id, ws) =>
      val s = ws.map(nll).sum
      id -> BigDecimal(s.toDouble / ws.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    got.collect().foreach { r =>
      assert(math.abs(r.getDouble(2) - want(r.getLong(0))) < 1e-9, r.getLong(0))
    }
    // repeated-token boilerplate scores lower than the corpus median
    got.unpersist()
  }

  test("quality gate keeps exactly the docs at/above their language median") {
    val gate = TextAnalysis.qualityGate(spark, sfDir).cache()
    val scored = TextAnalysis.textQuality(spark, sfDir)
      .select("doc_id", "lang", "quality_score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // driver model: type-7 median per language over the same 6dp scores
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val pos = (s.length - 1) * 0.5
      val (lo, hi) = (s(pos.toInt), s(math.ceil(pos).toInt))
      // HALF_UP to match Spark's round(col, 6) exactly at .5 boundaries
      BigDecimal(lo + (pos - math.floor(pos)) * (hi - lo))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val med = scored.groupBy(_._2).map { case (l, xs) => l -> median(xs.map(_._3).toSeq) }
    val wantKeep = scored.filter { case (_, l, s) => s >= med(l) }.map(_._1).toSet
    val gotKeep = gate.collect().map(_.getLong(0)).toSet
    assert(gotKeep == wantKeep)
    // the reported threshold is the model median for every language
    gate.select("lang", "lang_median").distinct().collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - med(r.getString(0))) < 1e-9, r.getString(0))
    }
    gate.unpersist()
  }

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("tfidf top terms match a driver-side model exactly") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.toLowerCase.split("\\s+").toSeq))
    val n = docs.length.toDouble
    val dfm = docs.flatMap { case (_, ws) => ws.distinct }
      .groupBy(identity).map { case (t, xs) => t -> xs.length }
    val want = docs.flatMap { case (id, ws) =>
      ws.groupBy(identity).toSeq
        .map { case (t, xs) =>
          (t, xs.length.toLong, dfm(t).toLong, r6(xs.length * math.log(n / dfm(t))))
        }
        .sortBy { case (t, _, _, s) => (-s, t) }
        .take(3).zipWithIndex
        .map { case ((t, tf, df, s), i) => (id, i + 1, t, tf, df, s) }
    }.toSet
    val got = TextAnalysis.tfidfTopTerms(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    assert(got == want)
  }

  test("bigram pmi matches a driver-side model: counts, floor, order, truncation") {
    val docs = Tables.documents(spark, sfDir).select("text").collect()
      .map(_.getString(0).trim.toLowerCase.split("\\s+").toSeq)
    val uni = docs.flatten
    val nUni = uni.length.toDouble
    val uc = uni.groupBy(identity).map { case (w, xs) => w -> xs.length }
    val bis = docs.filter(_.length >= 2)
      .flatMap(ws => ws.sliding(2).map(p => (p(0), p(1))).toSeq)
    val nBi = bis.length.toDouble
    val want = bis.groupBy(identity).filter(_._2.length >= 5).toSeq
      .map { case ((w1, w2), xs) =>
        val pmi = r6(math.log(
          (xs.length.toDouble * nUni * nUni) / (nBi * uc(w1) * uc(w2))))
        (w1, w2, xs.length.toLong, uc(w1).toLong, uc(w2).toLong, pmi)
      }
      .sortBy { case (w1, w2, _, _, _, pmi) => (-pmi, w1, w2) }
      .take(20)
    val got = TextAnalysis.bigramPmi(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(got == want)
  }

  test("text normalize: NFC composition, idempotence, and a shuffle-free plan") {
    import java.text.Normalizer
    val res = TextAnalysis.textNormalize(spark, sfDir).cache()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // driver-side model: same inject → NFC → strip → collapse → trim → lower
    val want = docs.toSeq.sortBy(_._1).map { case (id, t) =>
      val raw = if (id % 5 == 0) t + TextAnalysis.NormSuffix else t
      val norm = Normalizer.normalize(raw, Normalizer.Form.NFC)
        .replaceAll("[\\x00-\\x1F\\x7F]", "")
        .replaceAll("\\s+", " ").trim.toLowerCase
      (id, norm, norm != raw, norm.codePointCount(0, norm.length).toLong)
    }
    val got = res.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getLong(3))).toSeq
    assert(got == want)
    // the injected rows must actually exercise the Unicode paths: every
    // 5th doc changes (case fold + NFC composition), the rest are already
    // canonical ASCII and must survive untouched
    assert(res.filter(col("changed")).count() == docs.count(_._1 % 5 == 0))
    assert(res.filter(!col("changed")).count() == docs.count(_._1 % 5 != 0))
    // NFC composed the decomposed suffix: the combining accent is gone
    val touched = got.find(_._1 % 5 == 0).get._2
    assert(touched.contains("caf\u00e9") && touched.contains("\u00e5"),
      s"suffix not composed+lowered: ...${touched.takeRight(12)}")
    assert(!touched.contains("\u0301") && !touched.contains("\u00c5"))
    // idempotence: normalizing the normalized corpus is the identity
    val again = want.map { case (id, n, _, _) =>
      val renorm = Normalizer.normalize(n, Normalizer.Form.NFC)
        .replaceAll("\\s+", " ").trim.toLowerCase
      n == renorm
    }
    assert(again.forall(identity))
    // per-document projection: no hash shuffle anywhere (the only
    // exchange is the presentation sort's range partitioning)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"text_normalize plan hash-shuffles:\n${plan.take(3000)}")
    res.unpersist()
  }

  test("bpe merge pairs match a driver-side model: counts, order, truncation") {
    val docs = Tables.documents(spark, sfDir).select("text").collect()
      .map(_.getString(0).trim.toLowerCase.split("\\s+").toSeq)
    val want = docs.flatten.filter(_.length >= 2)
      .flatMap(w => (0 until w.length - 1).map(i => w.substring(i, i + 2)))
      .groupBy(identity).map { case (p, xs) => (p, xs.length.toLong) }.toSeq
      .sortBy { case (p, n) => (-n, p) }.take(20).zipWithIndex
      .map { case ((p, n), i) => (i + 1L, p, n) }
    val got = TextAnalysis.bpeMergePairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == want)
  }

  test("bpe tokenize: rank precedence, consumed-char blocking, non-overlap") {
    import spark.implicits._
    def toks(w: String, merges: Seq[String]): Seq[String] =
      Seq(w).toDF("w")
        .select(TextAnalysis.bpeTokenize(col("w"), merges).as("t"))
        .head().getString(0)
        .split("\u001E").filter(_.nonEmpty).map(_.stripPrefix("\u001F")).toSeq
    // merge #1 consumes its chars: with [th, he], "the" → th|e (the h is
    // gone before he's turn); flipping the ranks gives t|he
    assert(toks("the", Seq("th", "he")) == Seq("th", "e"))
    assert(toks("the", Seq("he", "th")) == Seq("t", "he"))
    // leftmost non-overlapping within one merge: "aaa" → aa|a, "aaaa" → aa|aa
    assert(toks("aaa", Seq("aa")) == Seq("aa", "a"))
    assert(toks("aaaa", Seq("aa")) == Seq("aa", "aa"))
    // a merge whose halves are already consumed cannot fire across token
    // boundaries: after aa merges, [aa] tokens don't re-pair via "aa"
    assert(toks("ab", Seq("xy")) == Seq("a", "b"))
    assert(toks("a", Seq("aa")) == Seq("a"))
  }

  /** The sequential trainer behind `bpe_train`: the batched trainer at
    * one merge per round, without the round column. */
  private def seqTrain(docs: DataFrame, rounds: Int): DataFrame =
    TextAnalysis.bpeTrainBatchedFrom(spark, docs, rounds, batchK = 1).drop("round")

  test("iterative bpe training learns merges static top-K mining cannot represent") {
    import spark.implicits._
    // 4× "abab" + 1× "ba": round-one char-pair counts are ab=8, ba=5, so
    // static top-2 mining yields [ab, ba]. The REAL trainer applies merge
    // #1 first — every "abab" becomes [ab][ab] — so round 2's most
    // frequent adjacent pair is (ab, ab) with count 4 (vs (b, a) count
    // 1): a pair of PREVIOUSLY-MERGED tokens, unrepresentable in
    // round-one mining where pairs are 2-char substrings.
    val docs = ((1 to 4).map(i => (i.toLong, "abab")) :+ (9L, "ba"))
      .toDF("doc_id", "text")
    val merges = seqTrain(docs, rounds = 2)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(merges == Seq((1L, "a", "b", 8L), (2L, "ab", "ab", 4L)),
      s"round 2 must merge the merged tokens, got $merges")
    // and the trainer stops when no adjacent pair is left to merge
    val exhausted = seqTrain(Seq((1L, "ab")).toDF("doc_id", "text"), rounds = 5).count()
    assert(exhausted == 1L, "one merge exhausts a single 2-char word")
  }

  test("batched bpe ≡ sequential when the top candidates don't interact") {
    import spark.implicits._
    // four words over pairwise-disjoint alphabets with distinct counts:
    // the top-4 candidates (ab×9, cd×8, ef×7, gh×6) share no token, so
    // the dominance filter accepts all four and ONE batched round must
    // learn exactly what FOUR sequential rounds learn — counts included
    // (applying a footprint-disjoint merge can't move another's count)
    val docs = (
      (1 to 9).map(i => (i.toLong, "ab")) ++
      (11 to 18).map(i => (i.toLong, "cd")) ++
      (21 to 27).map(i => (i.toLong, "ef")) ++
      (31 to 36).map(i => (i.toLong, "gh"))).toDF("doc_id", "text")
    val seq = seqTrain(docs, rounds = 4)
      .as[(Long, String, String, Long)].collect().toSeq
    val bat = TextAnalysis.bpeTrainBatchedFrom(spark, docs, rounds = 1, batchK = 4)
      .as[(Long, Int, String, String, Long)].collect().toSeq
    assert(seq == Seq((1L, "a", "b", 9L), (2L, "c", "d", 8L),
      (3L, "e", "f", 7L), (4L, "g", "h", 6L)))
    assert(bat.map { case (rk, _, l, r, n) => (rk, l, r, n) } == seq,
      s"one batched round must equal four sequential rounds, got $bat")
    assert(bat.forall(_._2 == 1), "all four merges learned in round 1")
  }

  test("deep bpe train is prefix-stable across the lineage-checkpoint boundary") {
    import spark.implicits._
    // a 12-round greedy train crosses BpeCheckpointEvery (=8), so rounds
    // 9-12 run against a localCheckpoint'd frame; greedy selection is
    // prefix-stable, so the first 7 merges must equal a 7-round train's
    // (whose lineage never truncates) — any row moved/changed means the
    // checkpoint perturbed the data it was only supposed to pin.
    assert(TextAnalysis.BpeCheckpointEvery == 8, "fixture assumes cadence 8")
    val docs = Tables.documents(spark, sfDir).limit(60)
    val deep = seqTrain(docs, rounds = 12)
      .as[(Long, String, String, Long)].collect().toSeq
    val shallow = seqTrain(docs, rounds = 7)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(deep.length == 12, s"corpus dried up early: ${deep.length}")
    assert(deep.take(7) == shallow,
      s"prefix drifted across the checkpoint boundary:\n$deep\nvs\n$shallow")
    // and a train that stops one round past the boundary: both it and
    // the 12-round train checkpoint after merge 8, so its 9 merges must
    // be the 12-round train's first 9
    val nine = seqTrain(docs, rounds = 9)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(nine == deep.take(9),
      s"a 9-round train must equal the 12-round prefix:\n$nine\nvs\n$deep")
  }

  /** The trainer loop as Catalyst queries, the form the RDD rounds
    * replaced: per round, a pair-count aggregate over the delimited word
    * strings, the ordered top-window collect, and one `replace` per
    * accepted merge. */
  private def catalystBpe(docs: DataFrame, rounds: Int,
                          batchK: Int): Seq[(Long, Int, String, String, Long)] = {
    val (o, c) = ("\u001F", "\u001E")
    var cur = docs.select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), regexp_replace(col("w"), "(.)", o + "$1" + c).as("s"))
      .cache()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var done = false
    for (round <- 1 to rounds if !done) {
      val toks = regexp_extract_all(col("s"), lit(o + "([^" + c + "]*)" + c), lit(1))
      val window = cur.select(col("cnt"), toks.as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("cnt"), explode_outer(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (l, r) => struct(l.as("l"), r.as("r")))).as("pr"))
        .groupBy(col("pr.l").as("lhs"), col("pr.r").as("rhs"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("lhs"), col("rhs"))
        .limit(TextAnalysis.BpeBatchWindow).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      val accepted = TextAnalysis.bpeSelectBatch(window, batchK)
      if (accepted.isEmpty) done = true
      else {
        merges ++= accepted.map { case (l, r, n) => (round, l, r, n) }
        cur = cur.select(col("cnt"), accepted.foldLeft(col("s")) { case (s, (l, r, _)) =>
          replace(s, lit(o + l + c + o + r + c), lit(o + l + r + c))
        }.as("s")).cache()
      }
    }
    merges.toSeq.zipWithIndex.map { case ((round, l, r, n), i) => (i + 1L, round, l, r, n) }
  }

  private def rddBpe(docs: DataFrame, rounds: Int,
                     batchK: Int): Seq[(Long, Int, String, String, Long)] = {
    import spark.implicits._
    TextAnalysis.bpeTrainBatchedFrom(spark, docs, rounds, batchK)
      .as[(Long, Int, String, String, Long)].collect().toSeq
  }

  test("RDD bpe rounds equal the Catalyst loop at sf0.01, K = 1 and K = 4") {
    val docs = Tables.documents(spark, SparkSpec.gateDir)
    for ((rounds, k) <- Seq((8, 1), (4, 4))) {
      val got = rddBpe(docs, rounds, k)
      assert(got.map(_._2).distinct == (1 to rounds), s"K=$k: the corpus dried up early: $got")
      assert(got == catalystBpe(docs, rounds, k), s"K=$k diverged: $got")
    }
  }

  test("bpe ties break by UTF-8 bytes, not UTF-16 units") {
    import spark.implicits._
    // ａ (U+FF41) sorts BEFORE 𝐚 (U+1D41A) by code point, which is the
    // UTF-8 byte order Spark compares strings by; in UTF-16 units 𝐚's
    // high surrogate U+D835 sorts first. Both pairs count 3, so only the
    // string order decides which merge leads.
    val docs = ((1 to 3).map(i => (i.toLong, "ａｂ")) ++
      (4 to 6).map(i => (i.toLong, "𝐚𝐛"))).toDF("doc_id", "text")
    assert("𝐚".compareTo("ａ") < 0, "fixture assumes the UTF-16 order is reversed")
    val seq = rddBpe(docs, rounds = 2, batchK = 1)
    assert(seq == Seq((1L, 1, "ａ", "ｂ", 3L), (2L, 2, "𝐚", "𝐛", 3L)), s"got $seq")
    assert(seq == catalystBpe(docs, rounds = 2, batchK = 1))
    assert(rddBpe(docs, rounds = 1, batchK = 2) == catalystBpe(docs, rounds = 1, batchK = 2))
  }

  test("bpe training on a zero-row corpus learns zero merges") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(rddBpe(empty, rounds = 8, batchK = 1).isEmpty)
  }

  test("batched bpe defers interacting candidates to the next round") {
    import spark.implicits._
    // "abc"×10 + "de"×5: round-1 candidates are (a,b)=10, (b,c)=10,
    // (d,e)=5. (b,c) shares token b with the higher-ranked (a,b), so the
    // filter must SKIP it; (d,e) is disjoint and fills the batch. Round 2
    // re-mines over the rewritten strings, where the deferred mass shows
    // up as the merged-token pair (ab,c)=10 with a FRESH count.
    val docs = ((1 to 10).map(i => (i.toLong, "abc")) ++
      (11 to 15).map(i => (i.toLong, "de"))).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrainBatchedFrom(spark, docs, rounds = 2, batchK = 2)
      .as[(Long, Int, String, String, Long)].collect().toSeq
    assert(got.take(2) == Seq((1L, 1, "a", "b", 10L), (2L, 1, "d", "e", 5L)),
      s"(b,c) must be deferred, (d,e) batched in its place, got $got")
    assert(got.drop(2).head == ((3L, 2, "ab", "c", 10L)),
      s"round 2 must learn the deferred mass as (ab, c), got $got")
  }

  test("bpe batch selection: footprint includes the output token") {
    // ("a","b") emits token "ab"; a lower-ranked candidate touching "ab"
    // on EITHER side must be rejected (its mined count could be stale
    // after the batch applies), while a disjoint one passes
    val sel = TextAnalysis.bpeSelectBatch(Seq(
      ("a", "b", 10L),   // accepted, emits "ab"
      ("ab", "c", 9L),   // rejected: lhs collides with the output token
      ("c", "ab", 8L),   // rejected: rhs collides with the output token
      ("x", "y", 7L),    // accepted, emits "xy"
      ("w", "xy", 6L),   // rejected: rhs collides with "xy"
      ("p", "q", 5L)),   // accepted
      batchK = 4)
    assert(sel == Seq(("a", "b", 10L), ("x", "y", 7L), ("p", "q", 5L)))
    // batchK caps the batch even when more candidates are dominance-free
    val capped = TextAnalysis.bpeSelectBatch(
      Seq(("a", "b", 3L), ("c", "d", 2L), ("e", "f", 1L)), batchK = 2)
    assert(capped == Seq(("a", "b", 3L), ("c", "d", 2L)))
  }

  test("bpe apply: per-doc counts reconcile and compression is real") {
    val out = TextAnalysis.bpeApply(spark, sfDir).cache()
    assert(out.count() == Tables.documents(spark, sfDir).count())
    // every word is >= 1 token; every token is 1 or 2 chars (merges are
    // char pairs), so chars/2 <= tokens <= chars and ratio in [1, 2]
    assert(out.filter(col("n_tokens") < col("n_words")).isEmpty)
    assert(out.filter(col("n_tokens") > col("n_word_chars")).isEmpty)
    assert(out.filter(col("n_tokens") * 2 < col("n_word_chars")).isEmpty)
    assert(out.filter(col("chars_per_token") < 1.0 || col("chars_per_token") > 2.0).isEmpty)
    // the learned merges must actually compress this corpus somewhere
    assert(out.filter(col("n_tokens") < col("n_word_chars")).count() > 0)
  }

  test("vocab coverage matches a driver-side model and the vocab join broadcasts") {
    val docs = Tables.documents(spark, sfDir).select("source", "text").collect()
      .map(r => r.getString(0) -> r.getString(1).trim.toLowerCase.split("\\s+").toSeq)
    val tf = docs.flatMap(_._2).groupBy(identity).map { case (t, xs) => t -> xs.length }
    val vocab = tf.toSeq.sortBy { case (t, n) => (-n, t) }.take(20).map(_._1).toSet
    val want = docs.groupBy(_._1).map { case (src, ds) =>
      val toks = ds.flatMap(_._2)
      val oov = toks.count(!vocab(_))
      (src, toks.size.toLong, oov.toLong,
        BigDecimal(oov.toDouble / toks.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy(_._1)
    val res = TextAnalysis.vocabCoverage(spark, sfDir)
    val got = res.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == want)
    // OOV mass must be real on this corpus (vocab < full vocabulary)
    assert(got.exists(_._3 > 0))
    // the V-row vocabulary must broadcast onto the token stream
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("pii redact scrubs every planted pattern and leaves clean docs untouched") {
    val res = TextAnalysis.piiRedact(spark, sfDir).cache()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(res.count() == docs.size)
    val rows = res.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getString(5), r.getBoolean(6))).toMap
    rows.foreach { case (id, (nEmail, nUrl, nPhone, nIp, red, any)) =>
      id % 4 match {
        case 1 =>
          assert((nEmail, nUrl, nPhone, nIp) == (1L, 0L, 0L, 0L), id)
          assert(red == docs(id) + " contact [EMAIL]", id)
        case 2 =>
          assert((nEmail, nUrl, nPhone, nIp) == (0L, 0L, 1L, 0L), id)
          assert(red == docs(id) + " call [PHONE]", id)
        case 3 =>
          assert((nEmail, nUrl, nPhone, nIp) == (0L, 1L, 0L, 1L), id)
          assert(red == docs(id) + " from [IP] see [URL]", id)
        case _ =>
          assert((nEmail, nUrl, nPhone, nIp) == (0L, 0L, 0L, 0L), id)
          assert(red == docs(id), id)
      }
      assert(any == (id % 4 != 0), id)
      // nothing PII-shaped survives the scrub
      assert(!red.contains("@") && !red.contains("http"), id)
    }
    // per-document projection: no hash shuffle anywhere
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"pii_redact plan hash-shuffles:\n${plan.take(3000)}")
    res.unpersist()
  }

  test("bm25 search matches a driver-side model and never explodes the token stream") {
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), lower(trim(col("text"))).as("t")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").toSeq)
    val (k1, b) = (1.2, 0.75)
    val q = Seq("spark", "window", "agg")
    val n = docs.length.toDouble
    val avgdl = docs.map(_._2.length).sum.toDouble / n
    val dfm = q.map(t => t -> docs.count(_._2.contains(t)).toDouble).toMap
    val want = docs.flatMap { case (id, ws) =>
      val dl = ws.length.toDouble
      val tfs = q.map(t => ws.count(_ == t).toDouble)
      val score = q.zip(tfs).map { case (t, tf) =>
        math.log((n - dfm(t) + 0.5) / (dfm(t) + 0.5) + 1.0) *
          tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
      }.sum
      val nHit = tfs.count(_ > 0)
      if (nHit > 0) Some((id, ws.length.toLong, nHit.toLong, r6(score))) else None
    }.sortBy { case (id, _, _, s) => (-s, id) }.take(10).toSeq
    val res = TextAnalysis.bm25Search(spark, sfDir)
    val got = res.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == want)
    // scale-shape pin: literal query terms mean per-term tf is in-row —
    // the token stream must never be exploded or hash-shuffled; the only
    // allowed movement is the 1-row stats aggregate + broadcast and the
    // TakeOrderedAndProject top-k
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bm25 plan hash-shuffles:\n${plan.take(3000)}")
    assert(!plan.contains("Generate explode"),
      s"bm25 plan explodes the token stream:\n${plan.take(3000)}")
  }

  test("length PSI drift matches a driver-side model and reconciles cohort totals") {
    val out = TextAnalysis.lengthPsiDrift(spark, sfDir).cache()
    // cohort totals reconcile with the corpus, per source
    val fromOut = out.select("source", "n_a", "n_b").collect()
      .map(r => r.getString(0) -> (r.getLong(1) + r.getLong(2))).toMap
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "n_chars").collect()
    val perSource = docs.groupBy(_.getString(1)).map { case (s, rs) => s -> rs.length.toLong }
    assert(fromOut == perSource)
    // PSI recomputed driver-side with the same fixed bins and 1e-6 floor
    def r6(d: Double) = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def isA(docId: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"psi1:$docId".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 2 == 0
    }
    val want = docs.groupBy(_.getString(1)).map { case (s, rs) =>
      val buckets = rs.map(r => (math.min(r.getLong(2) / 100, 9L),
        isA(r.getLong(0))))
      val na = buckets.count(_._2).toDouble
      val nb = buckets.count(!_._2).toDouble
      val psi = buckets.map(_._1).distinct.map { bkt =>
        val p = if (na > 0) math.max(buckets.count(t => t._1 == bkt && t._2) / na, 1e-6)
                else 1e-6
        val q = if (nb > 0) math.max(buckets.count(t => t._1 == bkt && !t._2) / nb, 1e-6)
                else 1e-6
        (p - q) * math.log(p / q)
      }.sum
      s -> r6(psi)
    }
    val got = out.collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got == want, s"psi mismatch: got $got want $want")
    // PSI is nonnegative by construction ((p-q) and ln(p/q) share sign)
    assert(got.values.forall(_ >= 0.0))
  }

  test("zipf fit matches a driver-side OLS over the exact top-100 and stays sane") {
    val row = TextAnalysis.zipfFit(spark, sfDir).collect().head
    // driver-side model: exact counts, same (freq desc, term) head + ranks
    val counts = graft.Tables.documents(spark, sfDir)
      .select("text").collect().map(_.getString(0))
      .flatMap(_.trim.toLowerCase.split("\\s+"))
      .groupBy(identity[String]).map { case (t, a) => (t, a.length.toLong) }
      .toSeq.sortBy { case (t, c) => (-c, t) }.take(100)
    val xy = counts.zipWithIndex.map { case ((_, c), i) =>
      (math.log((i + 1).toDouble), math.log(c.toDouble))
    }
    val n = xy.length.toDouble
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val sxy = xy.map(t => t._1 * t._2).sum
    val (sxx, syy) = (xy.map(t => t._1 * t._1).sum, xy.map(t => t._2 * t._2).sum)
    def r6(d: Double) = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    // the sf0.001 vocabulary is smaller than ZipfK — the head is the
    // whole vocabulary and the fit covers all of it
    assert(row.getAs[Long]("n_terms") == counts.length.toLong)
    assert(row.getAs[Double]("slope") == r6(slope),
      s"slope ${row.getAs[Double]("slope")} != ${r6(slope)}")
    // a frequency head is monotone nonincreasing, so the fit slopes down
    assert(row.getAs[Double]("slope") < 0.0)
    assert(row.getAs[Double]("r2") >= 0.0 && row.getAs[Double]("r2") <= 1.0)
  }

  test("bigram surprisal covers every multi-token doc with positive nll") {
    val bs = TextAnalysis.bigramSurprisal(spark, sfDir).cache()
    val expected = Tables.documents(spark, sfDir)
      .filter(size(split(lower(trim(col("text"))), "\\s+")) >= 2).count()
    assert(bs.count() == expected)
    // nll = -log2(p) with p = (c12+1)/(c1+V) and V > max(c12/c1 ratio
    // contribution): p < 1 strictly because c12 <= c1 < c1 + V
    assert(bs.filter(col("avg_nll") <= 0 || col("n_bigrams") <= 0).isEmpty)
    // a doc's bigram count is its token count - 1
    val tok = Tables.documents(spark, sfDir).select(col("doc_id"),
      (size(split(lower(trim(col("text"))), "\\s+")) - 1).cast("long").as("want"))
    assert(bs.join(tok, "doc_id").filter(col("n_bigrams") =!= col("want")).isEmpty)
    bs.unpersist()
  }

  test("top terms per lang: k rows per language, ordered, WindowGroupLimit planned") {
    val tt = TextAnalysis.topTermsPerLang(spark, sfDir).cache()
    val langs = Tables.documents(spark, sfDir).select("lang").distinct().count()
    assert(tt.count() == langs * 10, "full k rows for every language (vocab >> k)")
    // rank is dense 1..10 per lang; tf non-increasing along rank
    val rows = tt.collect().groupBy(_.getAs[String]("lang"))
    rows.foreach { case (lang, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to 10L))
      val tfs = sorted.map(_.getAs[Long]("tf")).toSeq
      assert(tfs == tfs.sorted.reverse, s"$lang tf ordering")
    }
    // driver-side recount for one (lang, term) cell
    val head = tt.filter(col("rank") === 1).collect().head
    val want = Tables.documents(spark, sfDir)
      .filter(col("lang") === head.getAs[String]("lang"))
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
      .filter(col("t") === head.getAs[String]("term")).count()
    assert(head.getAs[Long]("tf") == want)
    // the rank filter must reach WindowGroupLimit (map-side truncation)
    val plan = tt.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), "rank filter pushed below the shuffle")
    tt.unpersist()
  }

  test("ngram novelty: first doc fully novel, exact dup fully stale, counts bounded") {
    val nv = TextAnalysis.ngramNovelty(spark, sfDir).cache()
    // coverage: every >=3-token doc appears, bounds hold
    val expected = Tables.documents(spark, sfDir)
      .filter(size(split(trim(col("text")), "\\s+")) >= 3).count()
    assert(nv.count() == expected)
    assert(nv.filter(col("n_novel") < 0 || col("n_novel") > col("n_shingles") ||
      col("novelty") < 0 || col("novelty") > 1).isEmpty)
    // the smallest doc_id can only contain first-seen shingles
    assert(nv.orderBy("doc_id").first().getAs[Double]("novelty") == 1.0)
    // any exact-duplicate pair: the LATER doc has novelty 0 (every shingle
    // was seen in its twin)
    val dups = Dedup.ngramJaccardPairs(spark, sfDir)
      .filter(col("jaccard") === 1.0)
      .select(col("doc_b").as("doc_id"))
    assert(nv.join(dups, "doc_id").filter(col("novelty") =!= 0.0).isEmpty)
    nv.unpersist()
  }

  test("source quality report reconciles with the per-doc quality frame") {
    val rep = TextAnalysis.sourceQualityReport(spark, sfDir).collect()
    val q = TextAnalysis.textQuality(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select("doc_id", "source"), "doc_id")
      .cache()
    assert(rep.map(_.getAs[Long]("n_docs")).sum == q.count())
    val bySource = q.groupBy("source").agg(
      count(lit(1)).as("n"),
      sum(col("n_tokens")).as("tok"),
      sum(when(col("quality_score") < 0.5, 1L).otherwise(0L)).as("low"))
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n"), r.getAs[Long]("tok"), r.getAs[Long]("low"))).toMap
    rep.foreach { r =>
      val (n, tok, low) = bySource(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == n && r.getAs[Long]("tokens") == tok &&
        r.getAs[Long]("n_low") == low)
      val mq = r.getAs[Double]("mean_quality")
      assert(mq > 0 && mq <= 1)
      assert(math.abs(r.getAs[Double]("low_share") - low.toDouble / n) < 1e-6)
    }
    q.unpersist()
  }

  test("lang confusion reconciles with langId cells; shares normalize per label") {
    val conf = TextAnalysis.langConfusion(spark, sfDir).cache()
    // cell counts are exactly the grouped langId output
    val want = TextAnalysis.langId(spark, sfDir)
      .groupBy("lang_label", "lang_pred").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = conf.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want)
    // within-label shares sum to 1 (6dp rounding slack per cell)
    val sums = conf.groupBy("lang_label")
      .agg(sum("label_share").as("s"), count(lit(1)).as("k")).collect()
    sums.foreach { r =>
      assert(math.abs(r.getAs[Double]("s") - 1.0) < r.getLong(2) * 1e-6 + 1e-9)
    }
    // hit flag is the diagonal indicator
    assert(conf.filter((col("lang_label") === col("lang_pred")) =!=
      (col("is_hit") === 1)).isEmpty)
    conf.unpersist()
  }

  test("dataset card reconciles with the drill-down entries it composes") {
    val card = TextAnalysis.datasetCard(spark, sfDir).head()
    val docs = graft.Tables.documents(spark, sfDir).cache()
    assert(card.getAs[Long]("n_docs") == docs.count())
    assert(card.getAs[Long]("n_langs") == docs.select("lang").distinct().count())
    assert(card.getAs[Long]("n_sources") == docs.select("source").distinct().count())
    assert(card.getAs[Long]("n_chars") ==
      docs.agg(sum("n_chars")).head().getLong(0))
    // token volume matches the per-doc quality entry's sum
    val tok = TextAnalysis.textQuality(spark, sfDir)
      .agg(sum("n_tokens")).head().getLong(0)
    assert(card.getAs[Long]("n_tokens") == tok)
    // duplication matches the drop step: card dups = docs − survivors
    val kept = graft.llm.Dedup.dedupApply(spark, sfDir).count()
    assert(card.getAs[Long]("n_dup_docs") == docs.count() - kept)
    assert(card.getAs[Double]("dup_share") >= 0 && card.getAs[Double]("dup_share") < 1)
    assert(card.getAs[Double]("mean_quality") > 0 && card.getAs[Double]("mean_quality") <= 1)
    docs.unpersist()
  }

  test("reference perplexity: in-distribution scores low, all-unseen scores log2(V)") {
    import spark.implicits._
    // reference: 6 distinct words (V=6); candidate 20 repeats a reference
    // pattern, candidate 21 shares no vocabulary at all
    val docs = Seq(
      (1L, "ref", "a b c a b c a b c a b c"),
      (2L, "ref", "d e f d e f d e f"),
      (20L, "cand", "a b c a b c"),
      (21L, "cand", "x y z x y z")
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.referencePerplexityFrom(docs, "ref").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(20L, 21L))
    // every bigram of 21 is unseen: nll = log2((0+1)/(0+6)) = log2(6) each
    val d21 = out(21L)
    assert(d21.getAs[Long]("n_unseen") == d21.getAs[Long]("n_bigrams"))
    assert(math.abs(d21.getAs[Double]("avg_nll") -
      math.log(6.0) / math.log(2.0)) < 1e-4)
    // 20 rides the dense reference statistics: strictly cheaper, no OOV
    val d20 = out(20L)
    assert(d20.getAs[Long]("n_unseen") == 0)
    assert(d20.getAs[Double]("avg_nll") < d21.getAs[Double]("avg_nll"))
  }

}
