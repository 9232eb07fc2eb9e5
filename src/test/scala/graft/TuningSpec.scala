package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the automatic shuffle-sizing rule (SCALE_NOTES finding 5's
  * fix, promoted from the GRAFT_SCALE_SHUFFLE env knob into engine
  * behavior). */
class TuningSpec extends AnyFunSuite {

  test("rule floors at cpus for small inputs (sf0.1 behavior unchanged)") {
    // sf0.1 is ~17.5 MB on disk → 17 by-bytes partitions → cpus wins
    assert(Tuning.initialShufflePartitions(17L << 20, 32) === 32)
    assert(Tuning.initialShufflePartitions(0L, 32) === 32)
    assert(Tuning.initialShufflePartitions(17L << 20, 4) === 17)
  }

  test("rule scales with input bytes (the d_bigram_kn x100 case)") {
    // the x100 probe dir measured 222 MB on disk; the manual fix that
    // recovered linearity was 256 partitions — the rule must land in
    // that neighborhood, far above the 32 that spilled
    val n = Tuning.initialShufflePartitions(222L << 20, 32)
    assert(n >= 128 && n <= 512, s"got $n")
  }

  test("rule is capped, and the cap is keyed to session parallelism") {
    // sandbox (32 cpus): the measured 1024 ceiling, unchanged
    assert(Tuning.maxInitialPartitions(32) === 1024)
    assert(Tuning.initialShufflePartitions(Long.MaxValue / 4, 32) === 1024)
    // a small session keeps the validated sandbox floor rather than
    // shrinking the ceiling below what 32 threads already handled
    assert(Tuning.maxInitialPartitions(4) === 1024)
    // a 1000-executor cluster (say 8 cores each) raises the ceiling
    // with its parallelism instead of freezing the sandbox number
    assert(Tuning.maxInitialPartitions(8000) === 256000)
    assert(Tuning.initialShufflePartitions(Long.MaxValue / 4, 8000) === 256000)
    // the x1000 case the cap exists for: ~2.2 GB of text wants ~2200
    // partitions; on 32 threads the cap binds at 1024
    assert(Tuning.initialShufflePartitions(2200L << 20, 32) === 1024)
    assert(Tuning.initialShufflePartitions(2200L << 20, 128) === 2200)
  }

  test("configureShuffle sets the AQE ceiling on a live session") {
    val s = SparkTestBase.spark
    val before = s.conf.getOption(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    try {
      val n = Tuning.configureShuffle(s, Seq("/root/testdata/sf0.1"), 4)
      assert(n >= 4)
      assert(s.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum") ===
        n.toString)
      assert(s.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") ===
        Tuning.AdvisoryPartitionBytes.toString)
      // AQE itself must be on for the ceiling to mean anything
      assert(s.conf.get("spark.sql.adaptive.enabled") === "true")
    } finally {
      // restore the shared session's test-time setting
      before.foreach(v => s.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", v))
    }
  }

  test("scan split size stays at Spark's default (the finding-8 A/B)") {
    // configureShuffle must NOT shrink spark.sql.files.maxPartitionBytes:
    // the x100 A/B measured 16 MB splits costing d_bigram_kn +32%
    // (map-side combine degradation on high-cardinality aggregates)
    val s = SparkTestBase.spark
    val before = s.conf.getOption("spark.sql.files.maxPartitionBytes")
    Tuning.configureShuffle(s, Seq("/root/testdata/sf0.001"), 4)
    assert(s.conf.getOption("spark.sql.files.maxPartitionBytes") == before)
  }

  test("dirBytes sizes recursively via Hadoop FS and tolerates missing dirs") {
    val s = SparkTestBase.spark
    assert(Tuning.dirBytes("/root/testdata/sf0.001", s) > 0)
    assert(Tuning.dirBytes("/nonexistent/nowhere", s) === 0L)
    // explicit scheme resolves the same local bytes
    assert(Tuning.dirBytes("file:/root/testdata/sf0.001", s) ===
      Tuning.dirBytes("/root/testdata/sf0.001", s))
  }
}
