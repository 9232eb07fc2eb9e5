package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The ingest-owned ANN index memo contract: one materialized
  * relation per (session, dir, kind) — repeated references hit the
  * same LogicalRDD (exchange reuse), distinct key components get
  * distinct entries, and the memoized relation is row-identical to
  * the raw assignment.
  */
class AnnIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("memo identity, key separation, row equivalence to raw plan and kernel") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-annmemo")
      .toFile.getAbsolutePath
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
      .toDF("centroid_id", "centroid")

    val a = AnnIndex.ivfCells(spark, dir, vecs, cents, nlist = 2)
    val b = AnnIndex.ivfCells(spark, dir, vecs, cents, nlist = 2)
    assert(a eq b, "same key must return the same memoized relation")

    // a different cell count (or column names) is a different index
    val c = AnnIndex.ivfCells(spark, dir, vecs, cents, nlist = 4)
    assert(!(c eq a))
    val d = AnnIndex.maxSimCellGroups(spark, dir,
      vecs.withColumn("group_id", col("vec_id")), cents, nlist = 2)
    assert(!(d eq a))

    // rows are exactly those of the raw assignment (the argmax kernel
    // the memo materializes), similarity included
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val raw = rows(Similarity.ivfAssign(vecs, cents))
    assert(rows(a) == raw)
    assert(raw.map(r => r._1 -> r._2) == Set(1L -> 0L, 3L -> 0L, 2L -> 1L))
  }

  test("plan fingerprint: different derivations never share an entry; " +
      "identical re-built derivations still hit") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-annfp")
      .toFile.getAbsolutePath
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val centsA = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
      .toDF("centroid_id", "centroid")
    // a DIFFERENT centroid set under the SAME default quantizerTag —
    // pre-fingerprint this silently read centsA's assignment
    val centsB = Seq((0L, Seq(0.6f, 0.8f)), (1L, Seq(0.8f, -0.6f)))
      .toDF("centroid_id", "centroid")
    val a = AnnIndex.ivfCells(spark, dir, vecs, centsA, nlist = 2)
    val b = AnnIndex.ivfCells(spark, dir, vecs, centsB, nlist = 2)
    assert(!(a eq b), "distinct centroid sets must get distinct memo entries")
    assert(b.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Similarity.ivfAssign(vecs, centsB).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)

    // a different GROUP derivation under the same groupCol name is a
    // different docVecs plan → distinct membership entries
    val g1 = AnnIndex.maxSimCellGroups(spark, dir,
      vecs.withColumn("group_id", col("vec_id")), centsA, nlist = 2)
    val g2 = AnnIndex.maxSimCellGroups(spark, dir,
      vecs.withColumn("group_id", col("vec_id") % 2), centsA, nlist = 2)
    assert(!(g1 eq g2), "distinct group derivations must get distinct entries")

    // stability: re-reading the same parquet dir is the SAME canonical
    // plan — the serve path re-builds its input frames per request and
    // must still hit the memo (a miss here would rebuild the index per
    // query batch, the exact cost split AnnIndex exists to prevent)
    val pq = "/root/testdata/sf0.001/embeddings.parquet"
    def freshVecs() = spark.read.parquet(pq)
    def freshCents() = spark.read.parquet(pq).where(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
    val h1 = AnnIndex.ivfCells(spark, dir, freshVecs(), freshCents(), nlist = 4)
    val h2 = AnnIndex.ivfCells(spark, dir, freshVecs(), freshCents(), nlist = 4)
    assert(h1 eq h2, "identical re-built derivations must hit the memo")
  }
}
