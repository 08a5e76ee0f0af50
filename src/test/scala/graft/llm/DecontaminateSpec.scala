package graft.llm

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class DecontaminateSpec extends SparkSpec {

  /** Brute-force model on raw shingle STRINGS (no hashing): re-derive the
    * split and trigram sets independently of the operator's hashed
    * semi-join and compare row-for-row. */
  private def model() = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ws", split(trim(col("text")), "\\s+"))
      .filter(size(col("ws")) >= 3)
      .withColumn("sh", array_distinct(expr(
        "transform(sequence(1, size(ws) - 2), i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1]))")))
    val sp = Sampling.hashSplitFrom(docs, col("doc_id"))
      .select(col("doc_id"), col("split"),
        size(col("sh")).cast("long").as("n_shingles"),
        explode(col("sh")).as("s"))
    val bench = sp.filter(col("split") === "test").select("s").distinct()
    sp.filter(col("split") =!= "test")
      .join(bench, Seq("s"), "left_semi")
      .groupBy("doc_id", "split", "n_shingles")
      .agg(count(lit(1)).as("n_hit"))
      .withColumn("overlap",
        round(col("n_hit").cast("double") / col("n_shingles"), 6))
  }

  test("matches the unhashed brute-force model row-for-row") {
    val got = Decontaminate.decontaminate(spark, sfDir)
    val want = model()
    assert(got.count() > 0, "corpus has near-dups across the split boundary")
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("flags only train/val docs and bounds the overlap ratio") {
    val got = Decontaminate.decontaminate(spark, sfDir).cache()
    assert(got.filter(col("split") === "test").isEmpty)
    assert(got.filter(
      col("n_hit") < 1 || col("n_hit") > col("n_shingles") ||
        col("overlap") <= 0 || col("overlap") > 1).isEmpty)
    // doc_id is the output key: one row per contaminated document
    assert(got.select("doc_id").distinct().count() == got.count())
    got.unpersist()
  }

  test("fuzzy decontamination equals the exact all-pairs train-by-test model") {
    val got = Decontaminate.decontaminateFuzzy(spark, sfDir).cache()
    assert(got.count() > 0, "corpus has near-dups across the split boundary")
    assert(got.filter(col("split") === "test").isEmpty)
    // brute-force model on raw shingle strings: every train x test pair,
    // exact Jaccard, same 0.8 bar — banding must only prune, never lose
    val sp = Sampling.hashSplitFrom(
      Dedup.shinglesOf(Tables.documents(spark, sfDir)), col("doc_id"))
      .select(col("doc_id"), col("split"), col("shingles"))
    val tr = sp.filter(col("split") =!= "test")
      .select(col("doc_id"), col("split"), col("shingles").as("sa"))
    val te = sp.filter(col("split") === "test")
      .select(col("doc_id").as("test_doc"), col("shingles").as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val want = tr.crossJoin(te)
      .withColumn("jaccard", round(
        inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter), 6))
      .filter(col("jaccard") >= 0.8)
      .select("doc_id", "split", "test_doc", "jaccard")
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    got.unpersist()
  }

  test("decontaminate apply: drops exactly the fuzzy-flagged train/val docs") {
    val kept = Decontaminate.decontaminateApply(spark, sfDir).cache()
    val sp = Sampling.hashSplitFrom(
      Tables.documents(spark, sfDir), col("doc_id")).cache()
    val trainval = sp.filter(col("split") =!= "test")
    val flagged = Decontaminate.decontaminateFuzzy(spark, sfDir)
      .select("doc_id").distinct()
    assert(kept.count() == trainval.count() - flagged.count(),
      "every flagged doc is train/val by construction, so counts subtract")
    assert(kept.filter(col("split") === "test").isEmpty)
    assert(kept.select("doc_id").intersect(flagged).isEmpty, "no flagged doc survives")
    assert(trainval.select("doc_id").except(kept.select("doc_id"))
      .except(flagged).isEmpty, "nothing else was dropped")
    kept.unpersist(); sp.unpersist()
  }

  test("every flagged doc shares a shingle with some test doc (witness join)") {
    val got = Decontaminate.decontaminate(spark, sfDir)
    val sh = Sampling.hashSplitFrom(
      Dedup.shinglesOf(Tables.documents(spark, sfDir)), col("doc_id"))
      .select(col("doc_id"), col("split"), explode(col("shingles")).as("s"))
    val test = sh.filter(col("split") === "test")
      .select(col("s"), col("doc_id").as("test_doc"))
    val witnesses = sh.join(test, "s")
      .filter(col("split") =!= "test")
      .select("doc_id").distinct()
    assert(got.select("doc_id").except(witnesses).isEmpty)
  }

  test("bloom-prefiltered decontamination is bit-identical to the exact entry and the gate prunes") {
    val exact = Decontaminate.decontaminate(spark, sfDir)
    val bloom = Decontaminate.decontaminateBloom(spark, sfDir)
    assert(exact.schema == bloom.schema)
    assert(bloom.exceptAll(exact).isEmpty && exact.exceptAll(bloom).isEmpty,
      "the prefilter must be output-invisible (fp tail killed by the exact confirm)")
    // the gate is REAL: the plan carries the might_contain filter, and
    // running the gate alone admits far fewer postings than the full
    // train stream (otherwise the 'prefilter' is a no-op)
    val plan = bloom.queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain"), plan.take(500))
    val postings = Sampling.hashSplitFrom(
        Dedup.shinglesOf(Tables.documents(spark, sfDir)), col("doc_id"))
      .select(col("split"),
        explode(expr("transform(shingles, s -> xxhash64(s))")).as("s"))
      .filter(col("split") =!= "test")
    val total = postings.count()
    // build a fresh gate over the same bench set
    val bench = Sampling.hashSplitFrom(
        Dedup.shinglesOf(Tables.documents(spark, sfDir)), col("doc_id"))
      .select(col("split"),
        explode(expr("transform(shingles, s -> xxhash64(s))")).as("s"))
      .filter(col("split") === "test").select("s").distinct()
    val registry = spark.sessionState.functionRegistry
    val before = registry.listFunction().toSet
    val admitted = postings.filter(Decontaminate.bloomGate(bench)(col("s"))).count()
    assert(admitted < total / 2,
      s"gate admitted $admitted of $total postings — not pruning")
    // the gate never writes the session's function registry
    assert(registry.listFunction().toSet == before,
      s"bloom gate changed the registry: ${registry.listFunction().toSet -- before}")
  }

  test("interleaved bloom gates on one session stay independent (per-call names)") {
    import spark.implicits._
    val setA = (1L to 50L).toDF("s")
    val setB = (1000L to 1050L).toDF("s")
    val probe = ((1L to 50L) ++ (1000L to 1050L)).toDF("s")
    // both gates live at once, and A's gate COLUMN is resolved only
    // after B's filter is built — a gate bound through a shared
    // session-registry name would have been rebound to B's filter bytes
    val colA = Decontaminate.bloomGate(setA)(col("s")) // unresolved until the filter below
    val gateB = Decontaminate.bloomGate(setB)
    val hitsA = probe.filter(colA).collect().map(_.getLong(0)).toSet
    val hitsB = probe.filter(gateB(col("s"))).collect().map(_.getLong(0)).toSet
    // no false negatives: each gate admits its whole own set
    assert((1L to 50L).forall(hitsA), "gate A lost members of its own set")
    assert((1000L to 1050L).forall(hitsB), "gate B lost members of its own set")
    // independence: each gate rejects (at least most of — Bloom fp tail)
    // the other's set; a rebound gate would admit it wholesale
    assert(hitsA.count(_ >= 1000L) < 10, s"gate A admits B's set: $hitsA")
    assert(hitsB.count(_ < 1000L) < 10, s"gate B admits A's set: $hitsB")
  }
}
