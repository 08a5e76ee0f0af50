package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.functions.{MinHashSig, SimHashWord}

class DedupSpec extends SparkSpec {

  test("minhash LSH finds exactly the exact-jaccard pairs at the 0.8 threshold") {
    val lsh = Dedup.minhashDedup(spark, sfDir).cache()
    val exact = Dedup.ngramJaccardPairs(spark, sfDir)
      .filter(col("jaccard") >= 0.8).cache()
    assert(lsh.count() == exact.count())
    assert(lsh.select("doc_a", "doc_b").except(exact.select("doc_a", "doc_b")).isEmpty)
    assert(exact.select("doc_a", "doc_b").except(lsh.select("doc_a", "doc_b")).isEmpty)
  }

  test("simhash pairs overlap the jaccard near-dups") {
    val sim = Dedup.simhashDedup(spark, sfDir).cache()
    // every simhash pair must be orderly and within the bit budget
    assert(sim.filter(col("doc_a") >= col("doc_b") || col("hamming") > 7).isEmpty)
  }

  test("wide simhash is a strict refinement of the 60-bit kernel") {
    import spark.implicits._
    // The wide fingerprint's first word IS the 60-bit fingerprint (same
    // md5 prefix, same votes), so ham120 = ham60 + ham(word2) >= ham60:
    // every wide pair must also be a narrow pair, never the reverse.
    val wide = Dedup.simhashDedupWide(spark, sfDir).cache()
    val narrow = Dedup.simhashDedup(spark, sfDir).cache()
    assert(wide.filter(col("doc_a") >= col("doc_b") || col("hamming") > 7).isEmpty)
    assert(wide.select("doc_a", "doc_b")
      .except(narrow.select("doc_a", "doc_b")).isEmpty,
      "a 120-bit pair within budget must be within budget on its 60-bit prefix")
    // identical texts hash to identical fingerprints: hamming 0 on both,
    // so the wide (stricter) kernel still catches exact duplicates
    val dupText = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, dupText), (2L, dupText)).toDF("doc_id", "text")
    val got = Dedup.simhashDedupWideFrom(Dedup.shinglesOf(docs)).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 0L)))
  }

  test("native simhash words 0 and 1 match the exploded vote aggregate, corpus-wide") {
    // word 0 is the 60-bit fingerprint, word 1 the wide kernel's second
    // md5 word; both against the same independent groupBy formulation.
    val sh = Dedup.shinglesOf(Tables.documents(spark, sfDir)).cache()
    for (word <- Seq(0, 1)) {
      val native = sh.select(col("doc_id"),
        SimHashWord.of(col("shingles"), word).as("simhash"))
      val voteAgg = Dedup.simhashFingerprintsVoteAgg(sh, word)
      assert(native.count() == voteAgg.count())
      assert(native.except(voteAgg).isEmpty && voteAgg.except(native).isEmpty,
        s"word-$word native kernel and groupBy votes must agree for every doc")
    }
  }

  test("native minhash signature matches the exploded 64-buffer min aggregate, corpus-wide") {
    val sh = Dedup.shinglesOf(Tables.documents(spark, sfDir)).cache()
    val native = sh.select(col("doc_id"),
      MinHashSig.of(col("shingles"), 64).as("sig"))
    val exploded = Dedup.minhashSigExploded(sh)
    assert(native.count() == exploded.count())
    assert(native.except(exploded).isEmpty && exploded.except(native).isEmpty,
      "row-local native kernel and groupBy minima must agree lane-for-lane for every doc")
  }

  test("shingle df-cap bounds hot-shingle fan-out without losing true near-dups") {
    import spark.implicits._
    // docs 1-2: true near-dups (identical text, many shared low-df shingles).
    // docs 10-19: share ONLY the hot leading trigram; their tails are unique.
    val dupText = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = (Seq((1L, dupText), (2L, dupText)) ++
      (10L to 19L).map(i => (i, s"HOTA HOTB HOTC u${i}a u${i}b u${i}c u${i}d")))
      .toDF("doc_id", "text")
    val sh = Dedup.shinglesOf(docs)
    // capped at 5: the hot shingle (df=10) leaves the index; the true pair
    // (every shingle df=2) survives untouched
    val capped = Dedup.ngramJaccardPairsFrom(sh, maxDf = 5).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(capped.head.getDouble(2) == 1.0)
    // uncapped: the hot shingle generates 45 candidate pairs, but none pass
    // the 0.5 threshold — same output, quadratically more candidate work
    val uncapped = Dedup.ngramJaccardPairsFrom(sh, maxDf = 1000).collect()
    assert(uncapped.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("containment catches a short doc quoted inside a long one that Jaccard misses") {
    import spark.implicits._
    // doc 1 = 10 tokens; doc 2 = doc 1 + a 30-token unique tail. Every
    // shingle of 1 appears in 2 (containment 1.0) but the union is
    // dominated by 2's tail, so Jaccard sits far below any dedup bar.
    val short = (1 to 10).map(i => s"w$i").mkString(" ")
    val long = short + " " + (1 to 30).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val sh = Dedup.shinglesOf(docs)
    val got = Dedup.containmentPairsFrom(sh, maxDf = 64, minC = 0.9).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 2L, 1.0)), "only the short doc is contained, at exactly 1.0")
    val jac = Dedup.ngramJaccardPairsFrom(sh, maxDf = 64).collect()
    assert(jac.isEmpty, "the Jaccard kernel misses this pair at its 0.5 bar")
  }

  test("containment is a superset of symmetric exact duplicates, both directions") {
    val cont = Dedup.containmentDedup(spark, sfDir).cache()
    assert(cont.count() > 0, "corpus has containment pairs")
    assert(cont.filter(col("contained") === col("container") ||
      col("containment") < 0.9 || col("containment") > 1).isEmpty)
    // every Jaccard-1.0 pair (identical shingle sets) must appear in BOTH
    // directions at containment 1.0
    val ident = Dedup.ngramJaccardPairs(spark, sfDir)
      .filter(col("jaccard") === 1.0)
    val fwd = ident.select(col("doc_a").as("contained"), col("doc_b").as("container"))
    val bwd = ident.select(col("doc_b").as("contained"), col("doc_a").as("container"))
    val both = fwd.union(bwd)
    assert(both.except(cont.filter(col("containment") === 1.0)
      .select("contained", "container")).isEmpty)
    cont.unpersist()
  }

  test("cluster size histogram covers the corpus and reconciles with the clusters") {
    val h = Dedup.clusterSizeHistogram(spark, sfDir).collect()
    val corpus = graft.Tables.documents(spark, sfDir).count()
    assert(h.map(_.getAs[Long]("n_docs")).sum == corpus, "every doc in one bucket")
    h.foreach { r =>
      assert(r.getAs[Long]("n_docs") ==
        r.getAs[Long]("cluster_size") * r.getAs[Long]("n_clusters"))
    }
    // non-singleton mass equals the cluster table; cluster counts agree
    val cl = Dedup.dedupClusters(spark, sfDir).cache()
    val multi = h.filter(_.getAs[Long]("cluster_size") > 1)
    assert(multi.map(_.getAs[Long]("n_docs")).sum == cl.count())
    assert(multi.map(_.getAs[Long]("n_clusters")).sum ==
      cl.filter(col("is_canonical")).count())
    cl.unpersist()
  }

  test("dedup eval: confusion counts reconcile and match the two pair kernels") {
    val r = Dedup.dedupEval(spark, sfDir).collect()
    assert(r.length == 1)
    val row = r.head
    val (nt, np) = (row.getAs[Long]("n_truth"), row.getAs[Long]("n_pred"))
    val (tp, fp, fn) = (row.getAs[Long]("tp"), row.getAs[Long]("fp"), row.getAs[Long]("fn"))
    assert(tp + fn == nt && tp + fp == np, "confusion identities")
    // independent re-derivation from the kernels themselves
    val truth = Dedup.ngramJaccardPairs(spark, sfDir)
      .filter(col("jaccard") >= 0.8).select("doc_a", "doc_b").cache()
    val pred = Dedup.simhashDedup(spark, sfDir).select("doc_a", "doc_b").cache()
    assert(truth.count() == nt && pred.count() == np)
    assert(truth.intersect(pred).count() == tp)
    // on this corpus the near-dup families are blatant: both estimators
    // must agree on them well above chance
    assert(nt > 0 && row.getAs[Double]("recall") > 0.5,
      s"simhash recall ${row.getAs[Double]("recall")} collapsed")
    truth.unpersist(); pred.unpersist()
  }

  test("connected components resolve chains, triangles, and isolated pairs") {
    import spark.implicits._
    // chain 1-2-3, pair 10-11, triangle 20-21-22
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("u", "v")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("a deep path converges via path-halving, not one hop per round") {
    import spark.implicits._
    // a 33-node path: min-propagation alone needs 32 rounds; the pointer
    // jump must finish well inside the 48-round guard
    val edges = (0L until 32L).map(i => (i, i + 1)).toDF("u", "v")
    val got = Dedup.connectedComponents(edges).collect()
    assert(got.length == 33 && got.forall(_.getLong(1) == 0L))
  }

  test("components match a union-find model on a seeded random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val n = 60
    val edges = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // reference model: naive union-find over the same edges
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
    val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val want = touched.map(x => x -> touched.filter(y => find(y.toInt) == find(x.toInt)).min).toMap
    val got = Dedup.connectedComponents(edges.toDF("u", "v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("dedup clusters cover exactly the paired documents and pick min ids") {
    val pairs = Dedup.ngramJaccardPairs(spark, sfDir).cache()
    val clusters = Dedup.dedupClusters(spark, sfDir).cache()
    val byDoc = clusters.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // every paired doc is clustered, endpoints agree on the cluster id
    pairs.collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(byDoc(a)._1 == byDoc(b)._1)
    }
    // cluster id is the min member; canonical iff doc_id == cluster_id
    byDoc.groupBy(_._2._1).foreach { case (cid, members) =>
      assert(members.keys.min == cid)
      assert(members.forall { case (doc, (_, size, canon)) =>
        canon == (doc == cid) && size == members.size && size >= 2
      })
    }
  }

  test("substring dedup: planted shared run, within-doc repeat excluded, short doc guarded") {
    import spark.implicits._
    def words(p: String, r: Range) = r.map(i => s"$p$i").mkString(" ")
    val shared = words("s", 1 to 25) // 25-token verbatim run shared by A and B
    val rep = words("r", 1 to 20)    // 20-token run repeated WITHIN doc C only
    val docs = Seq(
      (1L, words("a", 1 to 10) + " " + shared + " " + words("a", 11 to 15)),
      (2L, words("b", 1 to 5) + " " + shared + " " + words("b", 6 to 25)),
      (3L, words("c", 1 to 5) + " " + rep + " " + words("c", 6 to 10) + " " +
        rep + " " + words("c", 11 to 15)),
      (4L, words("d", 1 to 5))
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedupFrom(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]), r.getLong(5))).toMap
    // A: 40 tokens, 21 windows; the shared 25-token run yields 6
    // consecutive duplicated windows (25 - 20 + 1) → span 25
    assert(out(1L) == ((40L, 21L, 6L, Some(BigDecimal(6.0/21).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble), 25L)), out(1L).toString)
    assert(out(2L)._3 == 6L && out(2L)._5 == 25L)
    // C's repeat is within ONE doc — not cross-doc duplication
    assert(out(3L)._3 == 0L && out(3L)._5 == 0L)
    // D is shorter than the window: no windows, NULL ratio, zero span
    assert(out(4L) == ((5L, 0L, 0L, None, 0L)))
  }

  test("substring dedup corpus invariants: bounds, coverage, near-dup families fire") {
    val out = Dedup.substringDedup(spark, sfDir).cache()
    assert(out.count() == graft.Tables.documents(spark, sfDir).count())
    assert(out.filter(col("n_dup_windows") > col("n_windows")).isEmpty)
    assert(out.filter(col("dup_ratio") < 0 || col("dup_ratio") > 1).isEmpty)
    // span is 0 iff no duplicated window; else at least the window size
    assert(out.filter(col("n_dup_windows") === 0 && col("max_dup_span") =!= 0).isEmpty)
    assert(out.filter(col("n_dup_windows") > 0 && col("max_dup_span") < 20).isEmpty)
    // the corpus's near-identical families must surface span-level dups
    assert(out.filter(col("n_dup_windows") > 0).count() > 0)
  }

  test("substring trim: min-id keeper keeps, holders mark, overlaps merge") {
    import spark.implicits._
    def words(p: String, r: Range) = r.map(i => s"$p$i").mkString(" ")
    val shared = words("s", 1 to 25)
    val docs = Seq(
      // doc 1 is the keeper (min id holding the shared run): removes nothing
      (1L, words("a", 1 to 10) + " " + shared + " " + words("a", 11 to 15)),
      // doc 2 holds the same run: its 25 tokens are marked, overlapping
      // windows merged (6 windows cover exactly 25 tokens, not 6 x 20)
      (2L, words("b", 1 to 5) + " " + shared + " " + words("b", 6 to 25)),
      (3L, words("c", 1 to 30))
    ).toDF("doc_id", "text")
    val out = Dedup.substringTrimFrom(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L)._2 == 0L && out(1L)._3 == 1.0, out(1L).toString)
    assert(out(2L) == ((50L, 25L, 0.5)), out(2L).toString)
    assert(out(3L)._2 == 0L)
  }

  test("incremental dedup ≡ full re-cluster on fixtures built to break naive variants") {
    import spark.implicits._
    // word universes are disjoint per motif so clusters cannot cross-link
    def words(p: String, r: Range) = r.map(i => s"$p$i")
    def text(ws: Seq[String]) = ws.mkString(" ")
    // motif 1 (bridge): base clusters {1,2}=tX and {3,4}=tY sit below the
    // 0.5 threshold of each other (first 16 of 40 words replaced,
    // J=22/54≈0.41); the NEW doc 27 replaces only the first 8 with the
    // same u-words, landing ≥0.5 of BOTH texts (0.652/0.583) — it must
    // merge the two prior clusters into one
    val tX = words("x", 1 to 40)
    val tY = words("u", 1 to 16) ++ tX.drop(16)
    val t27 = words("u", 1 to 8) ++ tX.drop(8)
    // motif 2 (attach via NON-canonical member): {10,11} cluster
    // (J=30/46≈0.65); new doc 17 is ≥0.5 of 11 ONLY (0.583 vs 0.407 to
    // 10) — a candidate join against canonicals alone would miss it
    val tW = words("w", 1 to 40)
    val t11 = words("v", 1 to 8) ++ tW.drop(8)
    val t17 = words("v", 1 to 16) ++ tW.drop(16)
    // motif 3: untouched base cluster {5,6}; motif 4: new-only cluster
    // {30,31}; singletons 7 (base) and 33 (new) stay unclustered
    val tQ = words("q", 1 to 12)
    val tZ = words("z", 1 to 12)
    val docs = Seq(
      (1L, text(tX), false), (2L, text(tX), false),
      (3L, text(tY), false), (4L, text(tY), false),
      (5L, text(tQ), false), (6L, text(tQ), false),
      (7L, text(words("s", 1 to 10)), false),
      (10L, text(tW), false), (11L, text(t11), false),
      (17L, text(t17), true),
      (27L, text(t27), true),
      (30L, text(tZ), true), (31L, text(tZ), true),
      (33L, text(words("t", 1 to 10)), true)
    ).toDF("doc_id", "text", "is_new")
    val sh = Dedup.shinglesOf(docs).cache()
    val inc = Dedup.dedupIncrementalFrom(sh, Dedup.DefaultMaxShingleDf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    // expected = full re-cluster of base ∪ new through the batch kernel
    val full = Dedup.ngramJaccardPairsFrom(sh.drop("is_new"), Dedup.DefaultMaxShingleDf)
    val comp = Dedup.connectedComponents(
      full.select(col("doc_a").as("u"), col("doc_b").as("v"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = comp.map { case (doc, cid) =>
      doc -> (cid, comp.count(_._2 == cid).toLong, doc == cid)
    }
    assert(inc == expected, s"inc=$inc\nexpected=$expected")
    // and the motifs resolved the way the fixture was built to force
    assert(Seq(1L, 2L, 3L, 4L, 27L).forall(inc(_)._1 == 1L), "bridge failed")
    assert(Seq(10L, 11L, 17L).forall(inc(_)._1 == 10L), "non-canonical attach failed")
    assert(inc(5L) == ((5L, 2L, true)) && inc(6L) == ((5L, 2L, false)))
    assert(inc(30L)._1 == 30L && inc(31L)._1 == 30L)
    assert(!inc.contains(7L) && !inc.contains(33L))
  }

  test("incremental dedup on the corpus equals the full dedup_clusters entry") {
    val inc = Dedup.dedupIncremental(spark, sfDir)
    val fullC = Dedup.dedupClusters(spark, sfDir)
    assert(inc.except(fullC).isEmpty && fullC.except(inc).isEmpty)
  }

  test("dedup apply keeps canonicals and unclustered docs, drops the rest") {
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id").cache()
    val clusters = Dedup.dedupClusters(spark, sfDir).cache()
    val kept = Dedup.dedupApply(spark, sfDir).cache()
    val total = docs.count()
    val clustered = clusters.count()
    val nClusters = clusters.select("cluster_id").distinct().count()
    // exactly one survivor per cluster; everything unclustered survives
    assert(kept.count() == total - (clustered - nClusters))
    // no kept doc is a non-canonical cluster member
    assert(kept.join(clusters.filter(!col("is_canonical")), "doc_id").isEmpty)
    // every canonical is kept
    assert(clusters.filter(col("is_canonical")).select("doc_id")
      .except(kept.select("doc_id")).isEmpty)
    Seq(docs, clusters, kept).foreach(_.unpersist())
  }

  test("keep-best apply keeps exactly one member per cluster — the longest") {
    val clusters = Dedup.dedupClusters(spark, sfDir).cache()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "n_chars").cache()
    val kept = Dedup.dedupKeepBest(spark, sfDir).cache()
    // survivor count identical to the min-id policy: one per cluster
    assert(kept.count() == Dedup.dedupApply(spark, sfDir).count())
    // the surviving member of each cluster is its (n_chars max, doc_id min)
    val byCluster = clusters.join(docs, "doc_id").collect()
      .groupBy(_.getAs[Long]("cluster_id"))
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    byCluster.foreach { case (cid, rs) =>
      val want = rs.map(r => (r.getAs[Long]("n_chars"), r.getAs[Long]("doc_id")))
        .minBy { case (n, id) => (-n, id) }._2
      val got = rs.map(_.getAs[Long]("doc_id")).filter(keptIds)
      assert(got.toSeq == Seq(want), s"cluster $cid kept ${got.toSeq}, want $want")
    }
    Seq(clusters, docs, kept).foreach(_.unpersist())
  }

  test("dedup report reconciles with the cluster table per source") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val clusters = Dedup.dedupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap // doc_id -> is_canonical
    val want = docs.groupBy(_._2).map { case (src, ds) =>
      val ids = ds.keys.toSeq
      val clustered = ids.filter(clusters.contains)
      val dropped = clustered.filterNot(clusters)
      (src, ids.size.toLong, clustered.size.toLong, dropped.size.toLong,
        BigDecimal(dropped.size.toDouble / ids.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy(_._1)
    val got = Dedup.dedupReport(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == want)
    // the report must cover every source and reconcile with dedup_apply:
    // kept = n_docs - n_dropped, summed over sources
    val kept = got.map(r => r._2 - r._4).sum
    assert(kept == Dedup.dedupApply(spark, sfDir).count())
  }

  test("source overlap matrix matches a driver-side model of shingle-set Jaccard") {
    val docs = Tables.documents(spark, sfDir).select("source", "text").collect()
      .map(r => r.getString(0) -> r.getString(1))
    val bySource = docs.groupBy(_._1).map { case (src, ds) =>
      src -> ds.flatMap { case (_, t) =>
        val ws = t.trim.split("\\s+")
        if (ws.length < 3) Seq.empty
        else ws.sliding(3).map(_.mkString(" ")).toSeq
      }.toSet
    }
    val srcs = bySource.keys.toSeq.sorted
    val want = (for {
      a <- srcs; b <- srcs if a < b
      shared = (bySource(a) & bySource(b)).size if shared > 0
    } yield {
      val (na, nb) = (bySource(a).size, bySource(b).size)
      (a, b, na.toLong, nb.toLong, shared.toLong,
        BigDecimal(shared.toDouble / (na + nb - shared))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }).sortBy(t => (t._1, t._2))
    val got = Dedup.sourceOverlapMatrix(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got == want)
  }

  test("levenshtein dedup finds single-end and middle edits, skips far pairs") {
    import spark.implicits._
    val base = ("alpha beta gamma delta epsilon zeta eta theta " * 2).trim
    val docs = Seq(
      (1L, base),
      (2L, base), // exact dup: distance 0
      (3L, base.replaceFirst("theta", "thetaX")), // middle edit: both ends intact
      (4L, "XY" + base), // head edit: suffix block catches it
      (5L, base + " xz"), // tail edit: prefix block catches it
      (6L, "completely unrelated text about something else entirely now")
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("spec_docs")
    // run the same kernel against the temp corpus by swapping the loader:
    // levenshteinDedup reads Tables.documents, so drive the logic inline
    val n = docs.select(col("doc_id"),
      lower(regexp_replace(col("text"), "\\s+", " ")).as("norm"))
    val pairs = {
      val blocks = n.select(col("doc_id"), col("norm"), explode(array(
        struct(lit(0).as("which"), expr("left(norm, 24)").as("key")),
        struct(lit(1).as("which"), expr("right(norm, 24)").as("key")))).as("b"))
        .select(col("doc_id"), col("norm"), col("b.which"), col("b.key"))
      blocks.as("a").join(blocks.as("b"),
          col("a.which") === col("b.which") && col("a.key") === col("b.key")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          levenshtein(col("a.norm"), col("b.norm"), 8).cast("long").as("edit_dist"))
        .dropDuplicates("doc_a", "doc_b")
        .filter(col("edit_dist") >= 0)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    assert(pairs((1L, 2L)) == 0L)
    assert(pairs((1L, 3L)) == 1L) // single inserted char mid-document
    assert(pairs((1L, 4L)) == 2L)
    assert(pairs((1L, 5L)) == 3L)
    assert(!pairs.keySet.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("levenshtein dedup on the corpus is ordered, bounded, deterministic") {
    val a = Dedup.levenshteinDedup(spark, sfDir).collect().toSeq
    val b = Dedup.levenshteinDedup(spark, sfDir).collect().toSeq
    assert(a == b)
    assert(a.forall(r => r.getLong(0) < r.getLong(1)
      && r.getLong(2) >= 0 && r.getLong(2) <= 8))
    // the corpus's exact-dup groups must appear at distance 0
    val exactPairs = TextAnalysis.exactDedup(spark, sfDir)
      .filter(col("n_copies") >= 2).count()
    assert(exactPairs == 0 || a.exists(_.getLong(2) == 0L))
  }

  test("pair lists are symmetric-free and deterministic") {
    val a = Dedup.ngramJaccardPairs(spark, sfDir).collect().toSeq
    val b = Dedup.ngramJaccardPairs(spark, sfDir).collect().toSeq
    assert(a == b)
    assert(a.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("tfidf cosine: planted near-dup scores high, disjoint docs absent") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base),
      (2L, base + " lambda"),                       // near-dup of 1
      (3L, "one two three four five six seven"),    // disjoint
      (4L, "red green blue cyan magenta yellow")    // disjoint
    ).toDF("doc_id", "text")
    val out = Dedup.tfidfCosineFrom(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("cosine"))).toMap
    assert(out.contains((1L, 2L)), s"got ${out.keys}")
    assert(out((1L, 2L)) > 0.8, s"cos=${out((1L, 2L))}")
    // docs sharing no shingle can never pair (inverted-index candidates)
    assert(!out.keys.exists(k => k._1 == 3L || k._2 == 3L || k._2 == 4L))
  }

  test("tfidf cosine: identical docs score exactly 1") {
    import spark.implicits._
    val t = "the quick brown fox jumps over the lazy dog again"
    val out = Dedup.tfidfCosineFrom(
      Seq((7L, t), (8L, t), (9L, "unrelated words only here now totally"))
        .toDF("doc_id", "text")).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 7L && out.head.getLong(1) == 8L)
    assert(math.abs(out.head.getAs[Double]("cosine") - 1.0) < 1e-4)
  }

  test("dedup_apply equals its clusterLabels form at sf0.001 and sf0.01") {
    for (dir <- Seq(sfDir, SparkSpec.gateDir)) {
      val docs = Tables.documents(spark, dir)
      val viaLabels = docs
        .join(Dedup.clusterLabels(spark, dir).filter(!col("is_canonical")).select("doc_id"),
          Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
        .collect().toSeq
      val got = Dedup.dedupApply(spark, dir).collect().toSeq
      assert(got == viaLabels, s"$dir: dedup_apply diverged from the clusterLabels form")
      assert(got.length < docs.count(), s"$dir: nothing was dropped")
    }
  }

  test("the pair kernel carries no global sort; the pairs entry adds one") {
    def globalSorts(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case s: Sort if s.global => s }.size
    val sh = Dedup.shinglesOf(Tables.documents(spark, sfDir))
    assert(globalSorts(Dedup.ngramJaccardPairsFrom(sh, Dedup.DefaultMaxShingleDf)) == 0)
    assert(globalSorts(Dedup.ngramJaccardPairs(spark, sfDir)) == 1)
  }
}
