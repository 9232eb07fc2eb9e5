package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the adaptive tiny-input spread rule
  * ([[Tuning.spreadTinyInput]]): spread fires exactly when the input
  * under-fills the session AND is cheap to move; the per-construction
  * opt-out and the at-scale no-op path stay no-ops.
  */
class TuningSpreadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("tiny single-split input spreads to session parallelism") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val spread = Tuning.spreadTinyInput(df)
    assert(spread.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // results unchanged (same rows, any order)
    assert(spread.count() == df.count())
  }

  test("input whose estimated scan tasks >= parallelism is left alone") {
    // shrink the split size so the same file ESTIMATES into >= p scan
    // tasks — the rule must then not re-shuffle
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "16")
    try {
      val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val spread = Tuning.spreadTinyInput(df)
      assert(spread.queryExecution.logical eq df.queryExecution.logical,
        "expected the identical plan back (no repartition inserted)")
    } finally spark.conf.set(key, prev)
  }

  test("kill switch disables the spread") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // the construction-scoped opt-out (what `SparkEntry.noSpread`
    // wraps): the identical plan back inside, the spread again after
    val inside = Tuning.withSpreadDisabled(Tuning.spreadTinyInput(df))
    assert(inside.queryExecution.logical eq df.queryExecution.logical)
    assert(!(Tuning.spreadTinyInput(df).queryExecution.logical eq df.queryExecution.logical))
  }
}
