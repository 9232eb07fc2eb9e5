package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Connected-components dedup clusters over near-dup pairs. */
class ClusterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("clusters: min-label propagation over chained pairs") {
    import spark.implicits._
    // component {1,2,3,4} via chain, component {7,9}, singleton 5 absent
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (9L, 7L)).toDF("id_a", "id_b")
    val cl = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("clusters: distributed pointer-jumping loop ≡ driver union-find shortcut") {
    import spark.implicits._
    // large-ish random graph exercising chains, stars, and singletons
    val rnd = new scala.util.Random(7)
    val pairs = (1 to 400).map { _ =>
      val a = rnd.nextInt(120).toLong; val b = rnd.nextInt(120).toLong
      (math.min(a, b), math.max(a, b) + 1)
    }.toDF("id_a", "id_b")
    def run(): Map[Long, Long] =
      Dedup.clusters(pairs).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val local = run()
    spark.conf.set(Dedup.CcLocalThresholdKey, "0") // force the loop
    val dist =
      try run()
      finally spark.conf.unset(Dedup.CcLocalThresholdKey)
    assert(local == dist)
    assert(local.nonEmpty)
  }

  test("clusters: chain-shaped graph takes one contraction level, not one per edge") {
    import spark.implicits._
    // a pure path is min-neighbor hooking's worst case: l1(i) = i-1
    // removes exactly ONE edge per contraction level, so the old
    // recurse-on-any-progress rule recursed once per edge (unbounded
    // depth, three checkpoints per level). The sub-geometric gate must
    // fall through to the label loop instead and still converge to
    // the driver union-find fixpoint.
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def run(): Map[Long, Long] =
      Dedup.clusters(pairs).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val local = run()
    spark.conf.set(Dedup.CcLocalThresholdKey, "0") // force the distributed path
    val dist =
      try run()
      finally spark.conf.unset(Dedup.CcLocalThresholdKey)
    assert(local == (0L to 63L).map(i => i -> 0L).toMap)
    assert(dist == local)
  }

  test("dedupAgainst: arrivals matching the store drop, store keys dedupe first") {
    import spark.implicits._
    val store = Seq((1L, "The  cat"), (2L, "the cat"), (3L, "a dog"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (10L, "THE CAT"),   // normalize-matches the store → dropped
      (11L, "a  DOG"),    // ditto
      (12L, "a parrot"),  // new content → kept
      (13L, "a parrot"))  // in-batch duplicate is NOT this op's job → kept
      .toDF("doc_id", "text")
    val key = md5(Dedup.normalizedText(col("text")))
    val out = Dedup.dedupAgainst(arrivals, store, key, key)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(12L, 13L))
  }

  test("incrementalNearDups: store rejects, batch keep-first, clean kept") {
    import spark.implicits._
    val store = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // = store 1 → rejected
      (11L, "totally different words here indeed friend"), // clean, keeps
      (12L, "totally different words here indeed friend"), // batch dup → loses to 11
      (13L, "unique snowflake content nobody else shares")) // clean singleton
      .toDF("doc_id", "text")
    val admitted = Dedup.incrementalNearDups(
        store, arrivals, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(11L, 13L))
  }

  test("incrementalNearDups: empty store admits the batch's keep-firsts") {
    import spark.implicits._
    val store = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val arrivals = Seq(
      (21L, "some perfectly ordinary sentence right here"),
      (22L, "some perfectly ordinary sentence right here"),
      (23L, "another thing entirely unlike the rest truly"))
      .toDF("doc_id", "text")
    val admitted = Dedup.incrementalNearDups(
        store, arrivals, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(21L, 23L))
  }

  test("kmeans: distributed Lloyd iterations converge to cluster means") {
    import spark.implicits._
    // two obvious clusters around (1,0) and (0,1); the two lowest ids
    // (0 and 1) seed one centroid each
    val vecs = Seq(
      (0L, Seq(1.0f, 0.1f)), (2L, Seq(0.9f, 0.0f)), (4L, Seq(1.1f, -0.1f)),
      (1L, Seq(0.1f, 1.0f)), (3L, Seq(0.0f, 0.9f)), (5L, Seq(-0.1f, 1.1f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansTrain(vecs, k = 2, iters = 3)._2.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(cents.keySet == Set(0L, 1L))
    assert(math.abs(cents(0L).head - 1.0) < 0.01 && math.abs(cents(0L)(1) - 0.0) < 0.01)
    assert(math.abs(cents(1L).head - 0.0) < 0.01 && math.abs(cents(1L)(1) - 1.0) < 0.01)
  }

  test("nearDupKeep: min-id survivor per cluster, untouched docs kept") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.nearDupKeep(docs, pairs).select("doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 5L))
  }
}
