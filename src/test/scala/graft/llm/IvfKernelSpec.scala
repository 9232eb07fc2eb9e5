package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The IVF assignment ([[Similarity.ivfAssign]], the argmax-centroid
  * kernel) against a brute argmax computed here on the driver over
  * the collected vectors: the same index-ordered double cosine
  * ([[Similarity.cosine]]'s dot / (norm · norm)), the highest sim
  * wins with NaN above every real value, ties keep the lowest
  * centroid id, and the sim is rounded HALF_UP to 4 places as
  * Spark's `round` does. These conventions are what the DuckDB twins
  * of the assignment queries mirror.
  */
class IvfKernelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def pairs(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def doubles(xs: Seq[Any]): Array[Double] = xs.map {
    case f: java.lang.Float  => f.toDouble
    case d: java.lang.Double => d.doubleValue
  }.toArray

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    for (i <- a.indices) s += a(i) * b(i)
    s
  }

  /** (vec_id, centroid_id, round(sim, 4)) for every vector. */
  private def bruteAssign(vecs: DataFrame, cents: DataFrame) = {
    val cs = cents.select(col("centroid_id").cast("long"), col("centroid")).collect()
      .map(r => (r.getLong(0), doubles(r.getSeq[Any](1)))).sortBy(_._1)
    vecs.select(col("vec_id").cast("long"), col("embedding")).collect().map { r =>
      val v = doubles(r.getSeq[Any](1))
      val vn = math.sqrt(dot(v, v))
      val (id, sim) = cs.map { case (cid, c) => (cid, dot(v, c) / (vn * math.sqrt(dot(c, c)))) }
        .reduceLeft { (best, x) =>
          val better = if (x._2.isNaN) !best._2.isNaN else x._2 > best._2
          if (better) x else best
        }
      val rounded =
        if (sim.isNaN) sim
        else BigDecimal(sim).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (r.getLong(0), id, rounded)
    }.toSet
  }

  test("assignment == brute argmax on the fixture corpus (rounded sims included)") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val nlist = Similarity.ivfPlan(vecs.count())
    val cents = vecs.where(col("vec_id") < nlist)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
    val a = pairs(Similarity.ivfAssign(vecs, cents))
    assert(a == bruteAssign(vecs, cents))
    assert(a.size == vecs.count())
  }

  test("ties keep the lowest centroid id; a zero vector is NaN at centroid 0") {
    import spark.implicits._
    val cents = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0f)), // duplicate centroid → tie
      (2L, Seq(0f, 1f)))
      .toDF("centroid_id", "centroid")
    val vecs = Seq((10L, Seq(0.9f, 0.1f))) // ties centroids 0 and 1 → 0
      .toDF("vec_id", "embedding")
    val b = pairs(Similarity.ivfAssign(vecs, cents))
    assert(b == bruteAssign(vecs, cents))
    assert(b.head._2 == 0L, "tie must keep the lowest centroid id")

    // a zero vector's cosine is 0/0: Java double arithmetic gives NaN
    // for every centroid, and all-NaN keeps the lowest centroid id
    val zero = Seq((11L, Seq(0f, 0f))).toDF("vec_id", "embedding")
    val z = Similarity.ivfAssign(zero, cents).collect()
    assert(z.length == 1 && z.head.getLong(1) == 0L && z.head.getDouble(2).isNaN)
  }

  test("guards: oversized centroid relation fails bounded, dim mismatch throws") {
    import spark.implicits._
    val cents = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, Seq(1f, 1f)))
      .toDF("centroid_id", "centroid")
    val vecs = Seq((10L, Seq(0.9f, 0.1f))).toDF("vec_id", "embedding")
    // the guard fires from the LIMITed collect — the driver never
    // materializes more than maxCentroids + 1 rows
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfAssign(vecs, cents, maxCentroids = 2)
    }
    assert(e.getMessage.contains("exceeds the 2 guard"))

    // a vector whose width differs from the centroids must fail fast,
    // not silently score a truncated dot product
    val wide = Seq((11L, Seq(0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    val e2 = intercept[Exception] {
      Similarity.ivfAssign(wide, cents).collect()
    }
    assert(e2.getMessage != null)
  }

  test("trained (double) centroids assign identically through the kernel") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansTrain(vecs, k = 4, iters = 2)._2
    assert(pairs(Similarity.ivfAssign(vecs, cents)) == bruteAssign(vecs, cents))
  }
}
