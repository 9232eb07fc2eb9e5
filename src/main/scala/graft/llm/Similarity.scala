package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Lineage.TruncateOps

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths, per the usual ANN playbook:
  *   - brute-force cosine top-k as the exactness baseline — correct
  *     but only run with a *broadcast-sized query set* (queries ⋉ all
  *     vectors is a broadcast nested loop, never vectors × vectors);
  *   - a sign-LSH bucketed variant as the scale path: vectors are
  *     grouped by the sign pattern of their leading components, and
  *     cosine is evaluated within buckets only.
  *
  * Dot products / L2 use the native codegen kernels
  * ([[graft.functions.VecMath]]) — one fused whole-stage-codegen loop
  * per row-pair, double accumulation in index order, deterministic
  * (no UDF, no interpreted HOF lambdas, no intermediate arrays).
  */
object Similarity {

  /** Dot product of two float/double-array columns — the native
    * codegen kernel ([[graft.functions.VecMath.dot]]): one fused loop
    * with double accumulation in index order, bit-identical to the
    * `aggregate(zip_with(…))` fold it replaces but without the
    * interpreted lambdas or the per-row intermediate array.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VecMath.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * other vectors. `queries` MUST be a small relation (it is
    * broadcast); the big side streams through exactly once.
    */
  def bruteKnn(
      vectors: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
    val v = vectors.select(col(idCol).as("neighbor_id"), col(embCol).as("v_emb"))
    val scored = v
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("q_emb"), col("v_emb")))
    // bounded top-k aggregate, not a per-query rank window: every
    // query's group is corpus-sized here by definition, and the
    // window form would sort each one inside a single task
    graft.functions.BoundedTopK.topK(scored, Seq("query_id"),
        struct(col("sim"), col("neighbor_id")), k)
      .select(col("query_id"), col("rank"),
        col("__item.neighbor_id").as("neighbor_id"),
        round(col("__item.sim"), 4).as("sim"))
  }

  /** Sign-LSH bucket key: the sign bits of the first `bits` embedding
    * components packed into a long. Deterministic, data-independent,
    * portable — the simplest random-hyperplane sketch (axis-aligned
    * hyperplanes).
    */
  def signBucket(emb: Column, bits: Int): Column =
    (0 until bits)
      .map(i => when(element_at(emb, i + 1) >= 0f, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Corpus-adaptive sign-LSH bit count — the embedding counterpart
    * of `Multimodal.dhashPlan` (SCALE_NOTES finding 4's rule: fixed
    * bucket keys are linear only while n ≪ bucket count). With
    * `bits = ceil(log₂ n) − 5`, expected bucket size is ≤ 32 vectors,
    * so in-bucket candidate pairs stay ≈ 32·n at any corpus size;
    * `floor` preserves a caller's recall choice on small corpora (the
    * rule only ever RAISES bits as n grows past 2^(floor+5)), and
    * `cap` bounds the key at components the sketch can actually read
    * (beyond it, switch to [[lshKnnMulti]]'s synthesized planes).
    */
  def lshBitsPlan(n: Long, floor: Int = 4, cap: Int = 20): Int =
    math.min(cap, math.max(floor,
      Multimodal.ceilLog2(math.max(n, 2L)) - 5))

  /** The same rule as a SQL CASE over a row-count expression, emitted
    * from the identical thresholds so oracle twins can never bucket
    * differently (`bits = b  ⟺  n ≤ 2^(b+5)`, floored and capped).
    */
  def lshBitsPlanSqlCase(nExpr: String, floor: Int = 4, cap: Int = 20): String = {
    val branches = (floor until cap).map(b =>
      s"WHEN $nExpr <= ${1L << (b + 5)} THEN $b")
    // floor >= cap degenerates to zero branches; a branchless CASE is
    // invalid SQL while the Scala twin still returns cap — emit the
    // bare constant so the twins agree instead of one erroring.
    if (branches.isEmpty) s"$cap"
    else s"(CASE ${branches.mkString(" ")} ELSE $cap END)"
  }

  /** Bucketed ANN: candidate pairs share the sign-LSH bucket, cosine
    * is computed in-bucket, top-k per query among candidates. Recall
    * is traded for never materializing cross-bucket pairs — the
    * 100 TB-safe shape (shuffle on bucket key, bounded bucket sizes;
    * skewed buckets split by AQE).
    */
  def lshKnn(
      vectors: DataFrame,
      k: Int,
      bits: Int = 8,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val keyed = vectors.select(
      col(idCol).as("id"), col(embCol).as("emb"),
      signBucket(col(embCol), bits).as("bucket"))
    val a = keyed.select(col("id").as("query_id"), col("emb").as("q_emb"), col("bucket"))
    val b = keyed.select(col("id").as("neighbor_id"), col("emb").as("v_emb"), col("bucket"))
    val scored = a.join(b, Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("q_emb"), col("v_emb")))
    // a hot bucket (skewed sign pattern) would serialize its whole
    // candidate mass into one window task; the bounded aggregate
    // caps every buffer at k
    graft.functions.BoundedTopK.topK(scored, Seq("query_id"),
        struct(col("sim"), col("neighbor_id")), k)
      .select(col("query_id"), col("rank"),
        col("__item.neighbor_id").as("neighbor_id"),
        round(col("__item.sim"), 4).as("sim"))
  }

  /** Deterministic pseudo-random index in [0, dim) for hash table `t`,
    * bit `b`, slot `s` — splitmix-style integer mixing, no RNG state
    * (scripts and both engines must derive identical planes).
    */
  private[graft] def planeIndex(t: Int, b: Int, s: Int, dim: Int): Int = {
    var z = t.toLong * 0x9E3779B97F4A7C15L + b.toLong * 0xBF58476D1CE4E5B9L +
      s.toLong * 0x94D049BB133111EBL + 0x2545F4914F6CDD1DL
    z ^= z >>> 30; z *= 0xBF58476D1CE4E5B9L
    z ^= z >>> 27; z *= 0x94D049BB133111EBL
    z ^= z >>> 31
    ((z % dim) + dim).toInt % dim
  }

  /** The two embedding components whose difference defines hyperplane
    * (t, b): normal = e_i − e_j (distinct i, j).
    */
  private[graft] def planeCoords(t: Int, b: Int, dim: Int): (Int, Int) = {
    val i = planeIndex(t, b, 0, dim)
    var j = planeIndex(t, b, 1, dim)
    if (j == i) j = (j + 1) % dim
    (i, j)
  }

  /** Sign bucket of hash table `t`: bit b = [e_i − e_j ≥ 0] for the
    * (t, b) plane. Non-axis-aligned (unlike [[signBucket]]) and
    * different per table — the OR-amplification construction.
    */
  def multiTableBucket(emb: Column, bits: Int, t: Int, dim: Int): Column =
    (0 until bits).map { b =>
      val (i, j) = planeCoords(t, b, dim)
      when(element_at(emb, i + 1).cast("double") - element_at(emb, j + 1).cast("double") >= 0d,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Multi-table LSH ANN: `tables` independent sign-hash tables;
    * candidates are the union of per-table same-bucket pairs
    * (OR-amplification: a near neighbor is missed only if it falls on
    * the wrong side in EVERY table, so recall rises exponentially in
    * `tables` while each table's candidate set stays Σ sᵢ²-bounded).
    * Like every fixed bucket key, `bits` must grow with the corpus —
    * size it with [[lshBitsPlan]] (the planes here are synthesized
    * from component pairs, so bits is not capped by the embedding
    * dimension); the registered fixture query keeps bits = 4 for the
    * recall eval at n = 500.
    *
    * Execution shape: ONE equi-join on the composite (table, bucket)
    * key via a T-way explode — no cross-bucket or cross-table pair is
    * ever materialized; duplicate candidates dedup BEFORE cosine
    * scoring so each pair is scored once.
    */
  def lshKnnMulti(
      vectors: DataFrame,
      k: Int,
      dim: Int,
      bits: Int = 8,
      tables: Int = 8,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val buckets = array((0 until tables).map(t =>
      struct(lit(t).as("t"), multiTableBucket(col(embCol), bits, t, dim).as("b"))): _*)
    val keyed = vectors.select(
      col(idCol).as("id"), col(embCol).as("emb"), explode(buckets).as("tb"))
    val a = keyed.select(col("id").as("query_id"), col("emb").as("q_emb"), col("tb"))
    val b = keyed.select(col("id").as("neighbor_id"), col("emb").as("v_emb"), col("tb"))
    val candidates = a.join(b, Seq("tb"))
      .where(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("sim", cosine(col("q_emb"), col("v_emb")))
    graft.functions.BoundedTopK.topK(candidates, Seq("query_id"),
        struct(col("sim"), col("neighbor_id")), k)
      .select(col("query_id"), col("rank"),
        col("__item.neighbor_id").as("neighbor_id"),
        round(col("__item.sim"), 4).as("sim"))
  }

  /** Multi-table embedding near-dup pairs — [[embeddingNearDups]] with
    * OR-amplified candidate generation.
    */
  def embeddingNearDupsMulti(
      vectors: DataFrame,
      threshold: Double,
      dim: Int,
      bits: Int = 8,
      tables: Int = 8,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val buckets = array((0 until tables).map(t =>
      struct(lit(t).as("t"), multiTableBucket(col(embCol), bits, t, dim).as("b"))): _*)
    val keyed = vectors.select(
      col(idCol).as("id"), col(embCol).as("emb"), explode(buckets).as("tb"))
    val a = keyed.select(col("id").as("id_a"), col("emb").as("emb_a"), col("tb"))
    val b = keyed.select(col("id").as("id_b"), col("emb").as("emb_b"), col("tb"))
    a.join(b, Seq("tb"))
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("sim", cosine(col("emb_a"), col("emb_b")))
      .where(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }

  /** One Lloyd's iteration for IVF training: assign every vector to
    * its nearest centroid ([[ivfAssign]]), then recompute per-centroid
    * dimension means — posexplode + ONE hash aggregate on (centroid,
    * dimension). Returns long-form (centroid_id, pos, m).
    *
    * The mean is a sequential double fold in vector-id order (collect
    * values, sort by id, left-fold `+`), not `avg`: parallel
    * partial-agg summation order is nondeterministic across engines,
    * and a float sum can land on either side of a round-half boundary.
    * The ordered fold is the same primitive as [[dot]], which is
    * bit-identical to DuckDB's `list_sum` over an `ORDER BY`-ed list —
    * what puts `e_kmeans_step` under the hash oracle. The training
    * loop is [[kmeansTrain]].
    */
  def kmeansStep(
      vectors: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val assigned = ivfAssign(vectors, centroids, idCol, embCol)
      .select(col(idCol).as("vid"), col("centroid_id"))
    vectors.select(col(idCol).as("vid"), col(embCol).as("emb"))
      .join(assigned, Seq("vid"))
      .select(col("centroid_id"), col("vid"), posexplode(col("emb")))
      .groupBy(col("centroid_id"), col("pos"))
      .agg(
        aggregate(
          transform(
            array_sort(collect_list(struct(col("vid"), col("col").cast("double").as("v")))),
            e => e.getField("v")),
          lit(0.0), (acc, x) => acc + x).as("s"),
        count(lit(1)).as("c"))
      .select(col("centroid_id"), col("pos"), (col("s") / col("c")).as("m"))
  }

  /** Full Lloyd's-loop k-means TRAINING under the hash oracle, with
    * the model-on-driver shape of
    * [[graft.llm.TextStats.trainQualityClassifier]]: the MODEL (k·d
    * doubles) lives on the driver, the data never leaves the cluster,
    * and each iteration is exactly ONE aggregate query over the
    * lineage-cut vector relation (AQE surfaces it as a map job plus a
    * reduce job). The trainer compiles the k current centroids into
    * LITERAL arrays and picks the per-row argmax with a `greatest()`
    * over (cosine, −centroid_id) structs: assignment is map-only
    * (zero shuffle), and the only exchange per iteration is the
    * (centroid, dim) mean hash-aggregate with map-side partials.
    * Per-iteration driver traffic is k·d doubles — model-sized, not
    * data-sized — so at 100 TB the loop costs
    * `iters` scans and nothing else.
    *
    * Determinism contract (what puts the whole trace under the
    * DuckDB hash oracle, which unrolls the identical loop in chained
    * CTEs): ties rank to the lowest centroid_id; the cosine is the
    * bit-identical [[cosine]] fold both engines share; and each new
    * mean is floored to the 2^-20 grid before it feeds forward — a
    * distributed avg() is partial-sum-order-dependent at the ulp
    * level (~1e-13 relative), and the grid is ~10^7 coarser, so the
    * fed-forward centroids are bit-identical on any partitioning
    * (the [[graft.llm.TextStats.trainQualityClassifier]] argument).
    * Empty clusters keep their previous centroid — no reseeding
    * (declared scope). Init = the k lowest-id vectors, widened
    * float→double (exact on both engines).
    *
    * Returns (trace, centroids): the full per-iteration centroid
    * trace (iter, centroid_id, pos, m) and the final centroids
    * (centroid_id, centroid: Array[Double]) ready for [[ivfAssign]].
    */
  def kmeansTrain(
      vectors: DataFrame,
      k: Int,
      iters: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): (DataFrame, DataFrame) = {
    require(k >= 1 && iters >= 1, "bad k-means train parameters")
    val spark = vectors.sparkSession
    import spark.implicits._
    val base = vectors
      .select(col(idCol).cast("long").as("id"), col(embCol).as("emb"))
      .truncateLineage(eager = false)
    val initRows = base.orderBy(col("id").asc).limit(k).collect()
    require(initRows.length >= k, s"kmeansTrain: need at least $k vectors")
    var cents: Array[Array[Double]] = initRows.map {
      _.getSeq[Any](1).map {
        case f: Float  => f.toDouble
        case d: Double => d
      }.toArray
    }
    val d = cents(0).length
    def q20(x: Double): Double = Grid.q20(x)
    val trace = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    for (it <- 1 to iters) {
      // map-only argmax: greatest() over (sim, -cid) structs picks the
      // highest cosine, lowest centroid_id on ties — no join, no window
      val scored = (0 until k).map { j =>
        struct(
          cosine(col("emb"), typedLit(cents(j).toSeq)).as("sim"),
          lit(-j).as("nj"))
      }
      val best = if (k == 1) scored.head else greatest(scored: _*)
      val means = base
        .select((-best.getField("nj")).cast("long").as("cid"), posexplode(col("emb")))
        .groupBy("cid", "pos")
        .agg(avg(col("col").cast("double")).as("m"))
        .collect() // bounded: k·d rows (the model), never data-sized
      val next = cents.map(_.clone())
      means.foreach { r =>
        next(r.getLong(0).toInt)(r.getInt(1)) = q20(r.getDouble(2))
      }
      cents = next
      for (j <- 0 until k; p <- 0 until d)
        trace += ((it.toLong, j.toLong, p.toLong, cents(j)(p)))
    }
    val traceDf = trace.toSeq
      .toDF("iter", "centroid_id", "pos", "m")
      .select(col("iter"), col("centroid_id"), col("pos"),
        (round(col("m"), 6) + 0.0).as("m"))
    val centDf = cents.zipWithIndex
      .map { case (c, j) => (j.toLong, c.toSeq) }.toSeq
      .toDF("centroid_id", "centroid")
    (traceDf, centDf)
  }

  /** Greedy k-center (farthest-point) seeding — Gonzalez 1985, the
    * deterministic cousin of k-means++ (k-means++ samples ∝ D²; the
    * greedy rule takes the argmax, so no seeded RNG is needed for
    * engine-portable results): seed with the lowest-id vector, then
    * `k−1` times add the vector farthest (squared L2, lowest id on
    * ties) from its nearest chosen center. Spreads initial centroids
    * across the data diameter — the standard fix for [[kmeansTrain]]'s
    * lowest-id init collapsing into one dense region.
    *
    * Scale shape per round: centers-so-far (≤ k rows) broadcast
    * against ONE corpus scan; the per-vector nearest-center distance
    * is a bounded hash aggregate and the winner a TakeOrdered(1) —
    * per-partition heaps, never a global sort. k rounds = k scans,
    * the same job-count discipline as [[kmeansTrain]] iterations (k is
    * tens; the corpus is never shuffled at all).
    */
  def kcenterInit(
      vectors: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be positive")
    val spark = vectors.sparkSession
    val base = vectors.select(col(idCol).cast("long").as("id"),
      col(embCol).as("emb"))
    val seed = base.orderBy(col("id").asc).limit(1).collect()(0)
    var chosen = Vector[(Long, Long, Double)]((1L, seed.getLong(0), 0.0))
    var centers = base.where(col("id") === seed.getLong(0))
      .select(col("id").as("cid"), col("emb").as("cemb"))
    for (r <- 2 to k) {
      val far = base.crossJoin(broadcast(centers))
        .groupBy("id").agg(min(l2sq(col("emb"), col("cemb"))).as("mind"))
        .orderBy(col("mind").desc, col("id").asc)
        .limit(1)
        .collect()(0)
      val wid = far.getLong(0)
      chosen :+= ((r.toLong, wid, far.getDouble(1)))
      centers = centers.unionAll(
        base.where(col("id") === wid)
          .select(col("id").as("cid"), col("emb").as("cemb")))
    }
    import spark.implicits._
    chosen.toDF("rank", "vec_id", "__d")
      .select(col("rank"), col("vec_id"), round(col("__d"), 4).as("dist"))
  }

  /** k-means|| initialization (Bahmani et al., "Scalable K-Means++",
    * VLDB 2012) — the industry-standard distributed seeding.
    * k-means++ needs k sequential corpus passes (one per center);
    * k-means|| OVERSAMPLES instead: each of `rounds` passes admits
    * every point independently with probability `l·d²(x,C)/φ`
    * (φ = current total cost), growing a candidate set of ~l per
    * round, which then reduces to k centers driver-side from the
    * candidates' assignment weights. Randomness is the
    * engine-portable md5-uniform keyed on (id, round salt) — the
    * sampling family's determinism contract — so candidates, weights
    * and the final centers are reproducible on any engine or
    * partitioning and sit under the DuckDB hash oracle.
    *
    * Scale shape: per round ONE corpus pass (broadcast centers →
    * min-d² relation, lineage-cut, consumed by a 1-row cost
    * aggregate and the sample filter); one more pass for assignment
    * weights. The k-selection (weighted farthest-point: pick max
    * weight first, then argmax weight·min-d², ties lowest id — the
    * deterministic stand-in for weighted k-means++'s final draw)
    * runs on the ≤ 1 + ~l·rounds collected candidates.
    * Returns (rank, vec_id, weight).
    */
  def kmeansParallelInit(
      vectors: DataFrame,
      k: Int,
      rounds: Int,
      l: Double,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(k >= 1 && rounds >= 1 && l > 0, "bad k-means|| parameters")
    val spark = vectors.sparkSession
    val base = vectors.select(col(idCol).cast("long").as("id"),
      col(embCol).as("emb")).truncateLineage(eager = false)
    val seedRows = base.orderBy(col("id").asc).limit(1).collect()
    require(seedRows.nonEmpty, "kmeansParallelInit: empty vectors input")
    val seed = seedRows(0).getLong(0)
    var candIds = Vector(seed)
    def centersDf = base.where(col("id").isin(candIds: _*))
      .select(col("id").as("cid"), col("emb").as("cemb"))
    for (r <- 1 to rounds) {
      val mind = base.crossJoin(broadcast(centersDf))
        .groupBy("id").agg(min(l2sq(col("emb"), col("cemb"))).as("mind"))
        .truncateLineage(eager = false)
      val phiRaw = mind.agg(coalesce(sum("mind"), lit(0.0))).collect()(0).getDouble(0)
      // the cost enters only a DISCRETE admit decision, and a
      // distributed double sum is order-dependent at the ulp level —
      // enough to flip a point sitting exactly on the threshold.
      // Quantize φ to its power-of-two CEILING (both engines spell it
      // pow(2, ceil(log2(φ)))): any sub-ulp sum variation maps to the
      // same quantized value, and φ only steers the oversampling
      // rate — a loose knob by construction (effective l scales by
      // φ/φ₂ ∈ (0.5, 1]).
      // power-of-two ceiling computed BIT-EXACTLY (r10 advice): the
      // ln(x)/ln(2) spelling can sit 1 ulp under an integer when x IS
      // a power of two, flipping ceil() on one engine only. getExponent
      // is exact — 2^e ≤ x < 2^(e+1) — so the ceiling is 2^e iff
      // x == 2^e, else 2^(e+1); matches C log2's exact powers-of-two.
      // (Subnormal φ would quantize to 2^-1021 here — unreachable for
      // a sum of squared distances that already passed the <= 0 gate.)
      val phi =
        if (phiRaw <= 0.0) 0.0
        else {
          val p = math.pow(2.0, math.max(Math.getExponent(phiRaw), -1022))
          if (phiRaw == p) p else p * 2.0
        }
      val fresh = mind
        .where(Sampling.hash01(col("id"), "kmpp" + r) * phi < lit(l) * col("mind"))
        .select("id").collect().map(_.getLong(0)).sorted
      candIds = candIds ++ fresh.filterNot(candIds.contains)
    }
    // assignment weights: points per candidate under argmin d² (ties
    // lowest candidate id) — one corpus pass, candidate-sized result
    val weights = base.crossJoin(broadcast(centersDf))
      .withColumn("d", l2sq(col("emb"), col("cemb")))
      .groupBy("id").agg(min_by(col("cid"), struct(col("d"), col("cid"))).as("win"))
      .groupBy("win").agg(count(lit(1)).as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cands = base.where(col("id").isin(candIds: _*))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def l2Local(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
      }
      s
    }
    // weighted farthest-point reduction to k
    val w = cands.map { case (id, _) => weights.getOrElse(id, 0L) }
    val mindArr = Array.fill(cands.length)(Double.MaxValue)
    val first = cands.indices.minBy(i => (-w(i), cands(i)._1))
    var chosen = Vector((1L, cands(first)._1, w(first)))
    var last = first
    for (rank <- 2 to math.min(k, cands.length)) {
      var i = 0
      while (i < cands.length) {
        mindArr(i) = math.min(mindArr(i), l2Local(cands(i)._2, cands(last)._2))
        i += 1
      }
      val next = cands.indices
        .filterNot(i => chosen.exists(_._2 == cands(i)._1))
        .minBy(i => (-w(i) * mindArr(i), cands(i)._1))
      chosen :+= ((rank.toLong, cands(next)._1, w(next)))
      last = next
    }
    import spark.implicits._
    chosen.toDF("rank", "vec_id", "weight")
  }

  /** Embedding-cosine near-duplicate pairs: sign-LSH bucketed
    * candidate generation + in-bucket cosine threshold — the
    * embedding-space analog of MinHash-LSH dedup. Near-identical
    * vectors agree on every sign bit, so recall for true near-dups
    * (cos ≈ 1) is high; no cross-bucket pair is ever materialized.
    */
  def embeddingNearDups(
      vectors: DataFrame,
      threshold: Double,
      bits: Int = 8,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val keyed = vectors.select(
      col(idCol).as("id"), col(embCol).as("emb"),
      signBucket(col(embCol), bits).as("bucket"))
    val a = keyed.select(col("id").as("id_a"), col("emb").as("emb_a"), col("bucket"))
    val b = keyed.select(col("id").as("id_b"), col("emb").as("emb_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("emb_a"), col("emb_b")))
      .where(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }

  /** Corpus-adaptive IVF cell count — the third leg of the
    * "size every fixed key space to the corpus" family
    * ([[lshBitsPlan]], `Multimodal.dhashPlan`): the textbook
    * IVF-Flat sizing `nlist ≈ √n` balances the two linear terms of a
    * probe (centroid scan `nlist` + cell scan `nprobe·n/nlist`),
    * rounded up to a power of two and floored so tiny corpora keep a
    * meaningful partition. The centroid table stays
    * broadcast-sized by construction (√n rows ≪ executor memory at
    * any realistic n). The registered `e_ivf_*` fixtures keep their
    * pinned k = 8 (a fixture-density choice; the rule picks 32 at
    * n = 500) — this is the sizing for NEW index builds.
    */
  def ivfPlan(n: Long, floor: Int = 8, cap: Int = 1 << 18): Int = {
    val target = math.sqrt(math.max(n, 1L).toDouble)
    val pow2 = 1 << math.min(30, 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, math.ceil(target).toLong - 1)))
    math.min(cap, math.max(floor, pow2))
  }

  /** The [[ivfPlan]] rule as a SQL CASE over a row-count expression,
    * emitted from the identical thresholds so oracle twins can never
    * size differently (`nlist = p  ⟺  n ≤ p²` for powers of two `p`,
    * floored and capped — p² ≤ 2³⁶ is exact in double and exact here
    * as integer literals). Like [[lshBitsPlanSqlCase]], a degenerate
    * floor ≥ cap emits the bare constant instead of a branchless CASE.
    */
  def ivfPlanSqlCase(nExpr: String, floor: Int = 8, cap: Int = 1 << 18): String = {
    require(Integer.bitCount(floor) == 1 && Integer.bitCount(cap) == 1,
      s"ivfPlanSqlCase needs power-of-two floor/cap, got $floor/$cap")
    val ps = Iterator.iterate(floor)(_ * 2).takeWhile(_ < cap).toSeq
    val branches = ps.map(p => s"WHEN $nExpr <= ${p.toLong * p} THEN $p")
    if (branches.isEmpty) s"$cap"
    else s"(CASE ${branches.mkString(" ")} ELSE $cap END)"
  }

  /** Recall-targeted probe sizing — the fourth leg of the sizing-rule
    * family ([[ivfPlan]], [[lshBitsPlan]], `Multimodal.dhashPlan`):
    * every other knob of the IVF family is a plan rule with a
    * lockstep SQL twin; nprobe was a per-query hardcode whose recall
    * consequence was invisible (measured 0.21 at the registered
    * nprobe=2 on unstructured embeddings — SCALE_NOTES finding 10).
    *
    * Model: on UNSTRUCTURED (worst-case) embeddings, probing the
    * query's `nprobe` nearest of `nlist` random-seeded cells recovers
    * the true neighbor with probability ≈ √(nprobe/nlist) — the
    * measured curve's two anchors fit it well (nprobe 2/32 → model
    * 0.25 vs measured 0.21; 16/32 → model 0.71 vs measured 0.75).
    * Inverting: `nprobe = ⌈nlist · target²⌉`, clamped to [1, nlist].
    * This is WORST-CASE sizing: clustered corpora (the data ANN
    * indexes exist for) reach the target with far fewer probes —
    * nprobe=1 is brute-equal on the clustered bitext fixtures — so
    * the rule is the floor-guaranteeing choice, not the clustered-
    * data optimum. `target = 1` degenerates to the exhaustive scan
    * (nprobe = nlist ⇒ recall 1.0 exactly, any data).
    *
    * Arithmetic is integer-exact on both engines: target² is frozen
    * to the 1e-4 grid (`round(t²·10⁴)`) and the ceiling is integer
    * division, so the SQL twin ([[nprobePlanSql]]) can never size
    * differently from this rule.
    */
  def nprobePlan(nlist: Int, recallTarget: Double): Int = {
    require(nlist >= 1, s"nprobePlan: nlist must be positive, got $nlist")
    require(recallTarget > 0.0 && recallTarget <= 1.0,
      s"nprobePlan: recallTarget must be in (0, 1], got $recallTarget")
    val r = math.round(recallTarget * recallTarget * 10000)
    math.min(nlist,
      math.max(1, ((nlist.toLong * r + 9999) / 10000).toInt))
  }

  /** [[nprobePlan]] as engine-exact SQL over an nlist expression
    * (which may itself be an [[ivfPlanSqlCase]] CASE) — same frozen
    * target² grid, same ceiling, same clamps. The ceiling is
    * `floor((a + 9999) / 10000.0)` rather than an integer-division
    * operator (DuckDB spells it `//`, Spark `div` — no shared
    * syntax): `a ≤ 2¹⁸·10⁴ ≪ 2⁵³` is exact in double and the true
    * quotient is ≥ 10⁻⁴ from any wrong integer, so the correctly-
    * rounded IEEE division can never cross a floor boundary — exact
    * on both engines. */
  def nprobePlanSql(nlistExpr: String, recallTarget: Double): String = {
    require(recallTarget > 0.0 && recallTarget <= 1.0,
      s"nprobePlanSql: recallTarget must be in (0, 1], got $recallTarget")
    val r = math.round(recallTarget * recallTarget * 10000)
    // BIGINT widen: nlist(≤2^18)·r(≤10^4) overflows INT under ANSI
    s"LEAST($nlistExpr, GREATEST(1, " +
      s"CAST(floor((CAST($nlistExpr AS BIGINT) * $r + 9999) / 10000.0) AS INT)))"
  }

  /** The serve-path default recall target, anchored on the measured
    * curve (0.75 at nprobe 16 of nlist 32 on unstructured sf0.01
    * embeddings): 0.7 reproduces exactly that operating point through
    * [[nprobePlan]] (⌈32·0.49⌉ = 16). Request-shaped query batches
    * pay probe cost `queries·(nlist + nprobe·n/nlist)` — linear in
    * the corpus at any fixed target, so targeting recall is the right
    * contract there. */
  val ServeRecallTarget: Double = 0.7

  /** Corpus-scale mining caps nprobe by COST, not recall: when every
    * vector is a query, candidates = n·nprobe·(n/nlist), so nprobe is
    * the multiplier on the n^1.5 mining budget and a recall-targeted
    * nprobe (∝ nlist = √n) would collapse the shape to n². Mining
    * consumers take `min(nprobePlan(...), MiningNprobeCap)` and
    * report the implied worst-case floor via
    * [[impliedRecallFloor]] — the honest label: mining recall on
    * unstructured data DEGRADES with corpus growth unless the budget
    * is raised (clustered corpora, the actual mining case, do not —
    * nprobe=1 is brute-equal on the clustered fixtures).
    *
    * MEASURED margin-pair recall at the cap (round 16,
    * `e_bitext_margin_recall`: |IVF margin pairs ∩ brute margin
    * pairs| / |brute pairs|): 0.21 at sf0.01 (500 vecs, cap'd
    * nprobe 2) — far below the serve path's 1.00, because a margin
    * PAIR needs both directions' shortlists to surface the partner
    * AND the margin rank to pick it; see SCALE_NOTES for the ×10
    * leg. Hence a per-deployment knob, not a universal constant: a
    * deployment that needs recalled mining raises the cap (paying
    * cap/2 × the n^1.5 budget) via `-Dgraft.mining.nprobe.cap=N`.
    * Read once at class init so every consumer — including the
    * DuckDB twin emitted by `SparkEntry.oracleSql` — sees one value
    * (lockstep, like the nprobePlanSql pairing). */
  val MiningNprobeCap: Int =
    sys.props.get("graft.mining.nprobe.cap").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(2)

  /** Inverse of the [[nprobePlan]] model: the worst-case recall a
    * given (nprobe, nlist) operating point guarantees. */
  def impliedRecallFloor(nprobe: Int, nlist: Int): Double =
    math.sqrt(math.min(nprobe, nlist).toDouble / nlist)

  /** IVF-style coarse quantization: assign each vector to the nearest
    * of `centroids` (a small relation of (centroid_id, centroid));
    * queries then probe only their cell. Returns the assignment
    * relation (idCol, centroid_id: Long, sim rounded to 4 places).
    * Size `centroids` with [[ivfPlan]] when building the index from
    * scratch.
    *
    * One [[graft.functions.VecMath.nearestCentroid]] argmax per row:
    * the centroids are driver-collected into the plan and each row
    * scans them, emitting exactly n rows — never the n·nlist rows a
    * cross join ranked by a window materializes (that form was
    * measured fatal at ×1000: 20.7M vectors × 8192 sqrt-rule cells;
    * executor death). Cosine, ties (highest sim, lowest centroid_id)
    * and NaN ordering are the conventions the DuckDB twins mirror
    * (`IvfKernelSpec` pins them against a driver-side argmax); a zero
    * vector gets sim NaN at the lowest centroid id. Centroids are
    * bounded by the ivfPlan cap by construction; the guard rejects
    * anything larger.
    */
  def ivfAssign(
      vectors: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      maxCentroids: Int = 1 << 18): DataFrame = {
    // guard BEFORE materializing: limit(max+1) bounds what the driver
    // ever holds, so an oversized centroid relation fails the require
    // instead of OOMing the driver during the collect itself
    val rows = centroids
      .select(col("centroid_id").cast("long"), col("centroid"))
      .limit(maxCentroids + 1)
      .collect()
    require(rows.length <= maxCentroids,
      s"ivfAssign: centroid relation exceeds the $maxCentroids guard")
    val sorted = rows.map { r =>
      val arr = r.getSeq[Any](1).map {
        case f: java.lang.Float  => f.toDouble
        case d: java.lang.Double => d.doubleValue
        case other => other.asInstanceOf[Number].doubleValue
      }.toArray
      (r.getLong(0), arr)
    }.sortBy(_._1)
    val nc = graft.functions.VecMath.nearestCentroid(
      col(embCol), sorted.map(_._1), sorted.map(_._2))
    vectors.select(col(idCol), nc.as("__nc"))
      .select(col(idCol), col("__nc.centroid_id").as("centroid_id"),
        round(col("__nc.sim"), 4).as("sim"))
  }

  /** IVF top-k search — the query path the [[ivfAssign]]/[[kmeansTrain]]
    * index exists for. Every stored vector lives in exactly one cell
    * (its nearest centroid); a query probes its `nprobe` nearest cells
    * and scores cosine against only the vectors inside them.
    *
    * Execution shape at 100 TB: the stored side's nearest centroid
    * is the per-row argmax of [[ivfAssign]] and the query side's
    * `nprobe` nearest cells a broadcast join (the centroid table is
    * tiny by construction), the probe list is `queries × nprobe`
    * rows, and candidate generation is ONE equi-join on
    * `centroid_id` — the big vector relation shuffles on its cell key
    * once and no cross-cell pair is ever materialized.
    * Recall is tunable with `nprobe` exactly like FAISS-style IVF-Flat;
    * the brute-force path ([[bruteKnn]]) stays the exactness baseline.
    *
    * `broadcastProbes`: request-sized query sets (the serving path)
    * broadcast their probe list so the corpus join is shuffle-free on
    * the query side; set false for corpus-scale batch query sets,
    * which should shuffle on `centroid_id` like the stored side.
    */
  def ivfSearch(
      vectors: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      k: Int,
      nprobe: Int = 1,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      broadcastProbes: Boolean = true,
      assignment: Option[DataFrame] = None): DataFrame = {
    val cents = broadcast(centroids.select(col("centroid_id"), col("centroid")))
    // stored side: each vector keyed by its one home cell — index
    // state; serving deployments pass the ingest-maintained relation
    // ([[graft.llm.AnnIndex.ivfCells]]) instead of paying the
    // O(n·nlist·d) assignment per query batch
    val cells = assignment.getOrElse(ivfAssign(vectors, centroids, idCol, embCol))
      .select(col(idCol).as("neighbor_id"), col("centroid_id"))
      .join(vectors.select(col(idCol).as("neighbor_id"), col(embCol).as("v_emb")),
        Seq("neighbor_id"))
    // query side: top-nprobe cells per query
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("c_sim").desc, col("centroid_id").asc)
    val probes = queries
      .select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
      .join(cents)
      .withColumn("c_sim", cosine(col("q_emb"), col("centroid")))
      .withColumn("c_rank", row_number().over(probeW))
      .where(col("c_rank") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("centroid_id"))
    // the final rank is the one skew-prone stage of the whole path: a
    // hot cell (dense embedding cluster) makes one query_id group
    // carry ~share²·n² candidates, and a rank window serializes that
    // mass into a single sort task (the measured ×100 mining
    // straggler, SCALE_NOTES 16). The bounded top-k aggregate keeps
    // ≤ k rows per group in every map-side buffer instead.
    val scored = cells
      .join(if (broadcastProbes) broadcast(probes) else probes, Seq("centroid_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("q_emb"), col("v_emb")))
    graft.functions.BoundedTopK.topK(scored, Seq("query_id"),
        struct(col("sim"), col("neighbor_id")), k)
      .select(col("query_id"), col("rank"),
        col("__item.neighbor_id").as("neighbor_id"),
        round(col("__item.sim"), 4).as("sim"))
  }

  // ------------------------------------------------------------------
  // Product quantization (the IVF-PQ compression stage)
  // ------------------------------------------------------------------
  // FAISS-style PQ: vectors split into `m` equal subvectors, each
  // subspace quantized against its own k-entry codebook; a vector is
  // stored as m small codes and queries score candidates with
  // asymmetric distance (ADC) — per-query lookup tables of partial
  // squared L2 against every codebook entry, summed per code. At
  // 100 TB this is the memory play: 64-d float vectors (256 B) become
  // m bytes, and search never touches the raw corpus vectors.

  /** Squared L2 distance via the native codegen kernel — accumulation
    * ordered like [[dot]], so cross-engine float results are
    * bit-identical.
    */
  def l2sq(a: Column, b: Column): Column = graft.functions.VecMath.l2sq(a, b)

  /** The (vid, sub, semb) subvector relation: every vector exploded
    * into its `m` width-`dim/m` subvectors.
    */
  private def subVectors(
      vectors: DataFrame, m: Int, dim: Int,
      idCol: String, embCol: String): DataFrame = {
    val sd = dim / m
    require(sd * m == dim, s"dim $dim not divisible into $m subspaces")
    vectors
      .select(col(idCol).cast("long").as("vid"),
        explode(transform(sequence(lit(0), lit(m - 1)), s =>
          struct(s.as("sub"), slice(col(embCol), s * sd + 1, lit(sd)).as("semb"))))
          .as("x"))
      .select(col("vid"), col("x.sub").as("sub"), col("x.semb").as("semb"))
  }

  /** PQ codebook training: k-means independently per subspace — but
    * all `m` subspaces train in the SAME distributed passes by keeping
    * `sub` in every grouping key (no per-subspace job loop).
    * Deterministic init: the subvectors of the `k` lowest-id vectors —
    * selected by rank (a distributed top-k, TakeOrderedAndProject),
    * NOT a literal `vid < k` predicate, so sparse or non-zero-based id
    * spaces still seed a full k-entry codebook.
    * Returns (sub, centroid_id, centroid).
    */
  def pqTrain(
      vectors: DataFrame,
      m: Int,
      k: Int,
      iters: Int,
      dim: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val subs = subVectors(vectors, m, dim, idCol, embCol)
    val initIds = vectors.select(col(idCol).cast("long").as("vid"))
      .distinct().orderBy(col("vid")).limit(k)
    var cents = subs.join(broadcast(initIds), Seq("vid"))
      .select(col("sub"), col("vid").as("centroid_id"), col("semb").as("centroid"))
    for (_ <- 0 until iters) {
      val w = Window.partitionBy("vid", "sub")
        .orderBy(col("d2").asc, col("centroid_id").asc)
      cents = subs.join(broadcast(cents), Seq("sub"))
        .withColumn("d2", l2sq(col("semb"), col("centroid")))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("sub"), col("centroid_id"), posexplode(col("semb")))
        .groupBy(col("sub"), col("centroid_id"), col("pos"))
        .agg(avg(col("col").cast("double")).as("mv"))
        .groupBy("sub", "centroid_id")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mv")))),
          e => e.getField("mv")).as("centroid"))
        .truncateLineageDeferred()
    }
    cents
  }

  /** PQ encoding: each vector → its `m` nearest-codebook-entry codes
    * (sub order). One broadcast join + rank per (vector, subspace) —
    * the corpus shuffles once on nothing (broadcast side is the
    * codebook), then one hash aggregate packs the codes array.
    */
  def pqEncode(
      vectors: DataFrame,
      codebooks: DataFrame,
      m: Int,
      dim: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val subs = subVectors(vectors, m, dim, idCol, embCol)
    val w = Window.partitionBy("vid", "sub")
      .orderBy(col("d2").asc, col("centroid_id").asc)
    subs.join(broadcast(codebooks), Seq("sub"))
      .withColumn("d2", l2sq(col("semb"), col("centroid")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .groupBy(col("vid").as(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("centroid_id")))),
        e => e.getField("centroid_id")).as("codes"))
  }

  /** ADC top-k search over PQ codes: the query side builds its lookup
    * table (query × sub × codebook-entry partial d², request-sized →
    * broadcast), the corpus side explodes its codes (m small rows per
    * vector), and ONE equi-join on (sub, code) + one ordered-fold
    * aggregate per (query, vector) sums the asymmetric distance. The
    * raw corpus vectors are never touched — that is the point of PQ.
    * Per-pair partials fold in `sub` order so results are
    * deterministic and engine-portable.
    */
  def pqSearch(
      codes: DataFrame,
      codebooks: DataFrame,
      queries: DataFrame,
      k: Int,
      m: Int,
      dim: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val lut = subVectors(queries, m, dim, idCol, embCol)
      .join(broadcast(codebooks), Seq("sub"))
      .select(col("vid").as("query_id"), col("sub"),
        col("centroid_id").as("code"), l2sq(col("semb"), col("centroid")).as("pd2"))
    val corpus = codes.select(col(idCol).as("neighbor_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .select(col("neighbor_id"), col("sub").cast("long").as("sub"), col("code"))
    val scored = corpus
      .join(broadcast(lut), Seq("sub", "code"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(aggregate(
        transform(
          array_sort(collect_list(struct(col("sub"), col("pd2")))),
          e => e.getField("pd2")),
        lit(0.0), (acc, v) => acc + v).as("d2"))
    graft.functions.BoundedTopK.topK(scored, Seq("query_id"),
        struct(col("d2"), col("neighbor_id")), k, asc = true)
      .select(col("query_id"), col("rank"),
        col("__item.neighbor_id").as("neighbor_id"),
        round(col("__item.d2"), 4).as("d2"))
  }

  /** IVF-PQ search — the FAISS-style composition of the coarse index
    * and the compressed scorer: queries probe their `nprobe` nearest
    * cells ([[ivfAssign]] keys the stored side), candidates come from
    * ONE equi-join on `centroid_id`, and ONLY those candidates are
    * scored with PQ asymmetric distance against the broadcast query
    * LUT. Raw corpus vectors are touched once at build time
    * ([[pqEncode]]); search reads m codes per candidate. At 100 TB
    * this is the serving shape: cell-bounded candidate generation
    * (like [[ivfSearch]]) times O(m)-byte scoring (like [[pqSearch]])
    * — neither a corpus-wide ADC pass nor raw-vector reads.
    */
  def ivfPqSearch(
      vectors: DataFrame,
      centroids: DataFrame,
      codebooks: DataFrame,
      queries: DataFrame,
      k: Int,
      m: Int,
      dim: Int,
      nprobe: Int = 1,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val cents = broadcast(centroids.select(col("centroid_id"), col("centroid")))
    val assign = ivfAssign(vectors, centroids, idCol, embCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"))
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("c_sim").desc, col("centroid_id").asc)
    val probes = queries
      .select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
      .join(cents)
      .withColumn("c_sim", cosine(col("q_emb"), col("centroid")))
      .withColumn("c_rank", row_number().over(probeW))
      .where(col("c_rank") <= nprobe)
      .select(col("query_id"), col("centroid_id"))
    val cand = assign.join(broadcast(probes), Seq("centroid_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val corpus = pqEncode(vectors, codebooks, m, dim, idCol, embCol)
      .select(col(idCol).as("neighbor_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .select(col("neighbor_id"), col("sub").cast("long").as("sub"), col("code"))
    val lut = subVectors(queries, m, dim, idCol, embCol)
      .join(broadcast(codebooks), Seq("sub"))
      .select(col("vid").as("query_id"), col("sub"),
        col("centroid_id").as("code"), l2sq(col("semb"), col("centroid")).as("pd2"))
    val scored = cand
      .join(corpus, Seq("neighbor_id"))
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy("query_id", "neighbor_id")
      .agg(aggregate(
        transform(
          array_sort(collect_list(struct(col("sub"), col("pd2")))),
          e => e.getField("pd2")),
        lit(0.0), (acc, v) => acc + v).as("d2"))
    graft.functions.BoundedTopK.topK(scored, Seq("query_id"),
        struct(col("d2"), col("neighbor_id")), k, asc = true)
      .select(col("query_id"), col("rank"),
        col("__item.neighbor_id").as("neighbor_id"),
        round(col("__item.d2"), 4).as("d2"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings with a coarse centroid
    * table, then drop every vector that has a lower-id neighbor above
    * `threshold` cosine INSIDE its cluster — near-duplicate pruning
    * whose pair generation is bounded to Σ|cluster|² by the
    * cluster-key equi-join, never the corpus square. Returns the
    * survivors as (vec_id, centroid_id).
    *
    * Divergence from the paper: the paper keeps a random member of
    * each duplicate set; this keeps the LOWEST id (deterministic for
    * the oracle and idempotent across reruns). Assignment ties break
    * on centroid id like [[ivfAssign]].
    */
  def semanticDedup(
      vectors: DataFrame,
      centroids: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val assign = ivfAssign(vectors, centroids, idCol, embCol)
      .select(col(idCol), col("centroid_id"))
    val keyed = vectors.select(col(idCol).as("id"), col(embCol).as("emb"))
      .join(assign.select(col(idCol).as("id"), col("centroid_id")), Seq("id"))
    val a = keyed.select(col("id").as("id_a"), col("emb").as("emb_a"),
      col("centroid_id"))
    val b = keyed.select(col("id").as("id_b"), col("emb").as("emb_b"),
      col("centroid_id"))
    val dropped = a.join(b, Seq("centroid_id"))
      .where(col("id_a") < col("id_b"))
      .where(cosine(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    assign.join(dropped, Seq(idCol), "left_anti")
  }

  /** Semantic decontamination: drop every corpus vector whose cosine
    * against ANY eval-set vector reaches `threshold` — the embedding
    * analogue of the shingle decontamination pass
    * (`Decontaminate.dropContaminated`), catching paraphrased
    * benchmark leakage that exact n-grams miss. The eval side is
    * benchmark-sized (thousands of vectors, never corpus-sized) and
    * broadcast-ENFORCED, so the corpus is scanned exactly once and
    * scored map-side (broadcast nested-loop, |corpus|·|eval| scalar
    * work but zero corpus shuffle); the contaminated-id set is
    * result-sized and anti-joins back. For eval sets too big to
    * broadcast, pre-bucket both sides with [[multiTableBucket]] as in
    * [[embeddingNearDupsMulti]].
    */
  def semanticDecon(
      corpus: DataFrame,
      evalSet: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val ev = broadcast(evalSet.select(col(embCol).as("__eemb")))
    val contaminated = corpus
      .select(col(idCol), col(embCol).as("__cemb"))
      .join(ev, cosine(col("__cemb"), col("__eemb")) >= threshold)
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** kNN label propagation — auto-labeling for training-data tagging:
    * each query takes the majority label among its k nearest
    * neighbors (ties break on the smaller label id), reported next to
    * its own label for accuracy measurement. Rides any neighbor
    * relation — brute force here, or the IVF/PQ paths at scale — so
    * the vote is one result-sized aggregate over (query × k) rows.
    */
  def knnClassify(
      neighbors: DataFrame,
      labels: DataFrame,
      idCol: String = "vec_id",
      labelCol: String = "label"): DataFrame = {
    val lab = labels.select(col(idCol), col(labelCol))
    val votes = neighbors.select(col("query_id"), col("neighbor_id"))
      .join(lab.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("n_label")), Seq("neighbor_id"))
      .groupBy("query_id", "n_label").agg(count(lit(1)).as("votes"))
    graft.functions.BoundedTopK.topK(votes, Seq("query_id"),
        struct(col("votes"), col("n_label")), 1)
      .select(col("query_id"), col("__item.n_label").as("pred_label"),
        col("__item.votes").as("votes"))
      .join(lab.select(col(idCol).as("query_id"),
        col(labelCol).as("true_label")), Seq("query_id"))
      .select(col("query_id"), col("pred_label"), col("votes"),
        col("true_label"),
        (col("pred_label") === col("true_label")).as("correct"))
  }

  /** Distributed PCA, top principal component by power iteration —
    * the dimensionality-understanding step before choosing an MRL
    * prefix / [[rpSearch]] m / SQ8 clipping: ONE corpus job computes
    * the d×d Gram matrix Σ x·xᵀ (two chained posexplodes — map-only
    * generate, no self-join — into a (i,j)-keyed hash aggregate whose
    * shuffle is d² rows per map partition, data-size-independent),
    * then the power iteration runs on the DRIVER over the collected
    * d² doubles: model-sized work, zero further scans, the
    * [[kmeansTrain]] discipline. At production d a `mapPartitions`
    * BLAS rank-1 kernel is the constant-factor upgrade; the plan
    * shape (one scan, d²-bounded shuffle) is already the 100 TB one.
    *
    * Determinism: Gram entries are floored to the 2^-20 grid (the
    * distributed-sum ulp argument of [[kmeansTrain]]), v₀ = 1/√d
    * uniformly, and every iterate re-quantizes to the grid after the
    * norm division, so the whole (iter, pos, v) trace is
    * bit-identical on any partitioning and on the DuckDB twin that
    * replays the same matvec/normalize loop over ordered list folds.
    *
    * Returns (trace, v): the per-iteration component trace and the
    * final unit direction for map-only projection.
    */
  def pcaPowerTrain(
      vectors: DataFrame,
      dim: Int,
      iters: Int,
      embCol: String = "embedding"): (DataFrame, Array[Double]) = {
    require(iters >= 1, "iters must be positive")
    val spark = vectors.sparkSession
    import spark.implicits._
    val g = gramMatrix(vectors, dim, embCol)
    val trace = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val v = powerLoop(g, dim, iters,
      (it, p, x) => trace += ((it.toLong, p.toLong, x)))
    val traceDf = trace.toSeq.toDF("iter", "pos", "v")
      .select(col("iter"), col("pos"), (round(col("v"), 6) + 0.0).as("v"))
    (traceDf, v)
  }

  /** The d×d Gram matrix Σ x·xᵀ in ONE corpus job, entries floored to
    * the 2^-20 grid — shared by [[pcaPowerTrain]] and [[pcaTop2]].
    */
  private def gramMatrix(
      vectors: DataFrame, dim: Int, embCol: String): Array[Array[Double]] = {
    val gramRows = vectors
      .select(posexplode(col(embCol)).as(Seq("i", "xi")), col(embCol).as("emb"))
      .select(col("i"), col("xi"), posexplode(col("emb")).as(Seq("j", "xj")))
      .groupBy("i", "j")
      .agg(sum(col("xi").cast("double") * col("xj").cast("double")).as("g"))
      .collect() // bounded: d² doubles (the model), never data-sized
    val g = Array.ofDim[Double](dim, dim)
    gramRows.foreach(r => g(r.getInt(0))(r.getInt(1)) = Grid.q20(r.getDouble(2)))
    g
  }

  /** Driver-side power iteration on a (quantized) matrix: v₀ = 1/√d,
    * per round an ascending-index matvec, ascending-index norm, and a
    * [[Grid.q20]] re-quantize — the loop both DuckDB twins replay.
    */
  private def powerLoop(
      g: Array[Array[Double]],
      dim: Int,
      iters: Int,
      trace: (Int, Int, Double) => Unit = (_, _, _) => ()): Array[Double] = {
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    for (it <- 1 to iters) {
      val u = Array.tabulate(dim) { i =>
        var acc = 0.0
        var j = 0
        while (j < dim) { acc += g(i)(j) * v(j); j += 1 }
        acc
      }
      var n2 = 0.0
      var i = 0
      while (i < dim) { n2 += u(i) * u(i); i += 1 }
      val nrm = math.sqrt(n2)
      require(nrm > 0, "powerLoop: zero matrix")
      v = u.map(x => Grid.q20(x / nrm))
      for (p <- 0 until dim) trace(it, p, v(p))
    }
    v
  }

  /** Top-2 principal components by Hotelling deflation — the 2-D
    * projector ([[pcaPowerTrain]]'s natural extension for whitening /
    * visualization / correlation-structure checks): after the first
    * power loop converges to v₁, the driver deflates the Gram matrix
    * with its Rayleigh quotient, `G' = G − λ₁·v₁v₁ᵀ where
    * λ₁ = v₁ᵀGv₁`, and power-iterates again — v₂ is the top
    * component of the residual, orthogonal to v₁ up to the grid.
    * The corpus is still touched by exactly ONE job (the shared Gram
    * aggregate); the deflation and both loops are pure driver-side
    * deterministic arithmetic over ascending-index folds, so the
    * DuckDB twin replays them exactly. Returns (components, v1, v2)
    * where `components` is (component ∈ {1,2}, pos, v).
    */
  def pcaTop2(
      vectors: DataFrame,
      dim: Int,
      iters: Int,
      embCol: String = "embedding"): (DataFrame, Array[Double], Array[Double]) = {
    require(iters >= 1, "iters must be positive")
    val spark = vectors.sparkSession
    import spark.implicits._
    val g = gramMatrix(vectors, dim, embCol)
    val v1 = powerLoop(g, dim, iters)
    val gv = Array.tabulate(dim) { i =>
      var acc = 0.0
      var j = 0
      while (j < dim) { acc += g(i)(j) * v1(j); j += 1 }
      acc
    }
    var lam = 0.0
    for (i <- 0 until dim) lam += v1(i) * gv(i)
    val g2 = Array.tabulate(dim, dim)((i, j) => g(i)(j) - lam * v1(i) * v1(j))
    val v2 = powerLoop(g2, dim, iters)
    val comps = (v1.zipWithIndex.map { case (x, p) => (1L, p.toLong, x) } ++
      v2.zipWithIndex.map { case (x, p) => (2L, p.toLong, x) }).toSeq
      .toDF("component", "pos", "v")
      .select(col("component"), col("pos"), (round(col("v"), 6) + 0.0).as("v"))
    (comps, v1, v2)
  }

  /** Hard-negative triplet mining — the batch-preparation step of
    * contrastive embedding training (in-batch negatives are easy;
    * the gradient signal lives in the HARDEST wrong-label neighbors,
    * per FaceNet's semi-hard observation and the dense-retrieval
    * ANCE recipe): for each anchor, the single most-similar SAME-label
    * vector (the positive) paired with the `negK` most-similar
    * DIFFERENT-label vectors (the hard negatives), with the
    * pos-minus-neg cosine margin the loss would see. Ties rank to
    * the lowest neighbor id; labels compare null-safely.
    *
    * Scale shape: one corpus scan against the broadcast anchor batch
    * (anchors are a training batch — bounded by construction, like
    * [[bruteKnn]] queries); positives and negatives come from the
    * SAME scored relation via two rank windows keyed per anchor, and
    * the pos⋈neg recombination joins two anchor-sized relations.
    * Mining a full epoch = one such job per anchor batch, each a
    * single pass — the corpus is never self-joined.
    */
  def hardNegatives(
      vectors: DataFrame,
      anchors: DataFrame,
      negK: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val a = anchors.select(col(idCol).cast("long").as("anchor_id"),
      col(embCol).as("a_emb"), col(labelCol).as("a_label"))
    val v = vectors.select(col(idCol).cast("long").as("neighbor_id"),
      col(embCol).as("v_emb"), col(labelCol).as("v_label"))
    val scored = v.join(broadcast(a), col("anchor_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("a_emb"), col("v_emb")))
      .withColumn("same", col("a_label") <=> col("v_label"))
    // per-(anchor, same) groups are corpus-sized (one scan against the
    // broadcast anchor batch) — k-bounded aggregate, not a window
    val ranked = graft.functions.BoundedTopK.topK(
      scored, Seq("anchor_id", "same"),
      struct(col("sim"), col("neighbor_id"), col("a_label")),
      math.max(1, negK))
    val pos = ranked.where(col("same") && col("rank") === 1)
      .select(col("anchor_id"), col("__item.a_label").as("label"),
        col("__item.neighbor_id").as("pos_id"), col("__item.sim").as("pos_sim"))
    val neg = ranked.where(!col("same") && col("rank") <= negK)
      .select(col("anchor_id"), col("rank").cast("long").as("neg_rank"),
        col("__item.neighbor_id").as("neg_id"), col("__item.sim").as("neg_sim"))
    pos.join(neg, Seq("anchor_id"))
      .select(col("anchor_id"), col("label"), col("pos_id"),
        round(col("pos_sim"), 4).as("pos_sim"),
        col("neg_rank"), col("neg_id"),
        round(col("neg_sim"), 4).as("neg_sim"),
        round(col("pos_sim") - col("neg_sim"), 4).as("margin"))
  }

  /** Late-interaction MaxSim retrieval (Khattab & Zaharia 2020,
    * ColBERT): query and document are each a GROUP of vectors (token/
    * chunk embeddings); `score(Q, D) = Σ_{q∈Q} max_{d∈D} cos(q, d)` —
    * every query vector finds its best-matching document vector and
    * the per-term maxima sum. Two hash aggregates express the whole
    * interaction: max over (q_vec, d_group), then sum over (q_group,
    * d_group) — no per-pair matrices materialize beyond the scored
    * join, and the final top-k window partitions on the query group.
    *
    * Per-term sims are 4dp-grid-floored before the max/sum chain, so
    * the score is an exact sum of grid values — engine-deterministic
    * on any partitioning. The scored join here is the exhaustive
    * (broadcast-query) form — the eval/oracle shape, like
    * [[bruteKnn]]; at corpus scale feed `docVecs` pre-filtered by an
    * ANN shortlist of candidate `d_group`s (the standard ColBERT
    * two-stage: ANN per query vector → gather groups → exact MaxSim).
    */
  def maxSim(
      docVecs: DataFrame,
      queryVecs: DataFrame,
      k: Int,
      groupCol: String = "group_id",
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val q = queryVecs.select(col(groupCol).as("q_group"),
      col(idCol).as("q_vec"), col(embCol).as("q_emb"))
    val d = docVecs.select(col(groupCol).as("d_group"), col(embCol).as("d_emb"))
    val scored = d.join(broadcast(q), col("q_group") =!= col("d_group"))
      .withColumn("sim", round(cosine(col("q_emb"), col("d_emb")), 4))
    val perTerm = scored
      .groupBy(col("q_group"), col("q_vec"), col("d_group"))
      .agg(max(col("sim")).as("term_max"))
    val perDoc = perTerm
      .groupBy(col("q_group"), col("d_group"))
      .agg(round(sum(col("term_max")), 4).as("maxsim"),
        count(lit(1)).as("n_terms"))
    graft.functions.BoundedTopK.topK(perDoc, Seq("q_group"),
        struct(col("maxsim"), col("d_group"), col("n_terms")), k)
      .select(col("q_group"), col("rank").cast("long").as("rank"),
        col("__item.d_group").as("d_group"),
        col("__item.maxsim").as("maxsim"),
        col("__item.n_terms").as("n_terms"))
  }

  /** The distinct (d_group, centroid_id) inverted membership the
    * MaxSim shortlist probes against — built from one [[ivfAssign]]
    * pass over the stored vectors, collapsed to document-group
    * granularity. This is the index-build leg of the two-stage serve
    * path; [[graft.llm.AnnIndex]] memoizes it as ingest-owned state.
    */
  def maxSimCellGroups(
      docVecs: DataFrame,
      centroids: DataFrame,
      groupCol: String = "group_id",
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    ivfAssign(docVecs, centroids, idCol, embCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"))
      .join(docVecs.select(col(idCol).as("neighbor_id"),
        col(groupCol).as("d_group")), Seq("neighbor_id"))
      .select(col("d_group"), col("centroid_id")).distinct()

  /** Two-stage (shortlist-fed) MaxSim — the production shape of
    * [[maxSim]], the standard ColBERT serve path (Khattab & Zaharia
    * 2020 §3.6): an IVF probe per query VECTOR nominates candidate
    * document groups, and exact MaxSim runs only on the shortlist.
    *
    * Stage 1 (candidate generation) never touches pairs: stored
    * vectors key once on their home cell ([[ivfAssign]], a per-row
    * argmax over the √n-sized centroid table), the per-cell → d_group
    * membership collapses to a DISTINCT, query vectors probe their
    * `nprobe` nearest cells, and one equi-join on `centroid_id` yields
    * the distinct (q_group, d_group) shortlist — result-sized, ≈
    * queries × nprobe × groups-per-cell.
    *
    * Stage 2 re-reads only shortlisted document groups (an equi-join
    * of `docVecs` on `d_group`) and scores them against the broadcast
    * query batch with the identical grid-floored max/sum chain as
    * [[maxSim]] — so any (q_group, d_group) pair the shortlist keeps
    * scores EXACTLY as the exhaustive form, and recall is tunable with
    * `nprobe` alone. Cost scales with shortlist × group size, not
    * corpus: with the index prebuilt (`cellGroups`), the only
    * corpus-wide work per batch is the stage-2 scan that gathers
    * shortlisted groups.
    */
  def maxSimShortlist(
      docVecs: DataFrame,
      queryVecs: DataFrame,
      centroids: DataFrame,
      k: Int,
      nprobe: Int = 1,
      groupCol: String = "group_id",
      idCol: String = "vec_id",
      embCol: String = "embedding",
      cellGroups: Option[DataFrame] = None): DataFrame = {
    val cents = broadcast(centroids.select(col("centroid_id"), col("centroid")))
    // stored side: distinct (d_group, cell) membership — index state;
    // serving deployments pass the ingest-maintained relation
    // ([[graft.llm.AnnIndex.maxSimCellGroups]]) instead of paying the
    // O(n·nlist·d) assignment per query batch
    val cellGroupsDf = cellGroups.getOrElse(
      maxSimCellGroups(docVecs, centroids, groupCol, idCol, embCol))
    // query side: distinct (q_group, cell) over each vector's nprobe cells
    val probeW = Window.partitionBy("q_vec")
      .orderBy(col("c_sim").desc, col("centroid_id").asc)
    val probeGroups = queryVecs
      .select(col(groupCol).as("q_group"), col(idCol).as("q_vec"),
        col(embCol).as("q_emb"))
      .join(cents)
      .withColumn("c_sim", cosine(col("q_emb"), col("centroid")))
      .withColumn("c_rank", row_number().over(probeW))
      .where(col("c_rank") <= nprobe)
      .select(col("q_group"), col("centroid_id")).distinct()
    val shortlist = probeGroups.join(cellGroupsDf, Seq("centroid_id"))
      .where(col("q_group") =!= col("d_group"))
      .select(col("q_group"), col("d_group")).distinct()
    // stage 2: exact MaxSim on shortlisted pairs only
    val q = queryVecs.select(col(groupCol).as("q_group"),
      col(idCol).as("q_vec"), col(embCol).as("q_emb"))
    val scored = docVecs
      .select(col(groupCol).as("d_group"), col(embCol).as("d_emb"))
      .join(shortlist, Seq("d_group"))
      .join(broadcast(q), Seq("q_group"))
      .withColumn("sim", round(cosine(col("q_emb"), col("d_emb")), 4))
    val perTerm = scored
      .groupBy(col("q_group"), col("q_vec"), col("d_group"))
      .agg(max(col("sim")).as("term_max"))
    val perDoc = perTerm
      .groupBy(col("q_group"), col("d_group"))
      .agg(round(sum(col("term_max")), 4).as("maxsim"),
        count(lit(1)).as("n_terms"))
    graft.functions.BoundedTopK.topK(perDoc, Seq("q_group"),
        struct(col("maxsim"), col("d_group"), col("n_terms")), k)
      .select(col("q_group"), col("rank").cast("long").as("rank"),
        col("__item.d_group").as("d_group"),
        col("__item.maxsim").as("maxsim"),
        col("__item.n_terms").as("n_terms"))
  }

  /** Margin-criterion pair mining (Artetxe & Schwenk 2019 — the
    * LASER/CCMatrix bitext-mining scorer weak-supervision pipelines
    * use to harvest parallel/aligned pairs from two embedding sets):
    * a candidate pair (x, y) scores `margin = 2·cos(x,y) /
    * (avgF(x) + avgB(y))` where avgF(x) is the mean similarity of
    * x's k nearest in the other set and avgB(y) the mean of y's k
    * nearest back — the RATIO margin, which normalizes away hubness
    * (a y that is everyone's neighbor gets a high denominator).
    * Each query keeps its best-margin candidate; callers filter on
    * `margin > 1` (the standard acceptance bar).
    *
    * Edge-agnostic like [[labelPropagate]]: pass any two
    * (query_id, neighbor_id, sim) kNN relations — [[bruteKnn]] at
    * fixture scale, [[lshKnn]]/[[rpSearch]] shortlists at corpus
    * scale — so the only corpus-sized stage is the neighbor build;
    * the mining itself is three hash aggregates + result-sized joins
    * + a per-query rank window. Similarities arrive 4dp-rounded from
    * the kNN builders, so the k-term means are exact grid sums and
    * the margin is engine-deterministic before its own 4dp round.
    */
  def marginMine(fwd: DataFrame, bwd: DataFrame): DataFrame = {
    val fAvg = fwd.groupBy("query_id").agg(avg(col("sim")).as("f_avg"))
    val bAvg = bwd.groupBy("query_id")
      .agg(avg(col("sim")).as("b_avg"))
      .withColumnRenamed("query_id", "neighbor_id")
    val scored = fwd
      .join(fAvg, Seq("query_id"))
      .join(bAvg, Seq("neighbor_id"))
      .withColumn("margin",
        round(lit(2.0) * col("sim") / (col("f_avg") + col("b_avg")), 4))
    graft.functions.BoundedTopK.topK(scored, Seq("query_id"),
        struct(col("margin"), col("neighbor_id"), col("sim")), 1)
      .select(col("query_id"), col("__item.neighbor_id").as("neighbor_id"),
        col("__item.sim").as("sim"), col("__item.margin").as("margin"))
  }

  /** Semi-supervised label propagation over a neighbor graph (Zhu &
    * Ghahramani 2002, in the hard-label iterated form weak-
    * supervision pipelines use to auto-label training data from a
    * small seed set): per round, every still-unlabeled node takes the
    * majority label of its LABELED neighbors (vote count desc, label
    * asc on ties — deterministic), labels are immutable once
    * assigned, and nodes with no labeled neighbor wait for a later
    * round. Returns (id, label, round) — round 0 = seed.
    *
    * Edge-agnostic by design: pass any (src, dst) relation — brute
    * kNN edges at fixture scale, banded-LSH or [[rpSearch]]-shortlist
    * edges at corpus scale (the edge build is the only corpus-sized
    * stage; propagation itself joins the edge relation against the
    * label relation, both fleet-bounded per round, `rounds` jobs
    * total with the label frontier lineage-cut per round).
    */
  def labelPropagate(
      edges: DataFrame,
      seeds: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    var labels = seeds
      .select(col("id").cast("long").as("id"),
        col("label").cast("long").as("label"), lit(0L).as("round"))
      .truncateLineage(eager = false)
    for (r <- 1 to rounds) {
      val votes = e
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .join(labels.select(col("id").as("src")),
          Seq("src"), "left_anti") // only still-unlabeled nodes vote
        .groupBy(col("src").as("id"), col("label"))
        .agg(count(lit(1)).as("votes"))
      val w = Window.partitionBy("id")
        .orderBy(col("votes").desc, col("label").asc)
      val newly = votes.withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("id"), col("label"), lit(r.toLong).as("round"))
      labels = labels.unionAll(newly).truncateLineage(eager = false)
    }
    labels
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) — the
    * standard hybrid-retrieval combiner: each ranked list contributes
    * `1/(c + rank)` per (query, id) and lists need no score
    * calibration against each other, which is why RRF is the default
    * way to fuse a BM25 keyword ranking with an embedding kNN ranking
    * (see the `d_hybrid_rrf` query). Inputs are result-sized
    * relations (query_id, rank, id) — rank-window outputs, never the
    * corpus — so the union + (query, id) aggregate + per-query rank
    * window all run on fleet-bounded data at any corpus size.
    *
    * Contributions are floored to the 2^-30 grid before summing, so
    * the fused score is an exact sum of grid values — order-free on
    * any partitioning and across engines, no matter how many lists
    * are fused. Ties rank to the lowest id. Returns (query_id, rank,
    * id, rrf, n_lists).
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: no rankings")
    val contrib = floor(lit(1.0) / (lit(c.toDouble) + col("rank").cast("double")) *
      lit(1073741824.0)) / lit(1073741824.0)
    val tagged = rankings.map(_.select(col("query_id").cast("long").as("query_id"),
      col("id").cast("long").as("id"), contrib.as("rc")))
    val fused = tagged.reduce(_ unionAll _)
      .groupBy("query_id", "id")
      .agg(sum("rc").as("rrf"), count(lit(1)).as("n_lists"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("id").asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"),
        (round(col("rrf"), 6) + 0.0).as("rrf"), col("n_lists"))
  }

  /** Recall@k of an approximate ANN result against exact ground truth
    * — the self-evaluation harness for tuning nprobe/bits/tables:
    * per-query `|approx ∩ exact| / k`. Both inputs are result-sized
    * ((queries × k) rows), so the semi-join and count are trivial at
    * any corpus scale; queries the approximate pass missed entirely
    * still report (recall 0) via the left join from the exact side.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val hits = approx.select(col("query_id"), col("neighbor_id"))
      .join(exact.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall"))
  }

  // ------------------------------------------------------------------
  // Scalar quantization (FAISS SQ8) and truncate-then-rerank (MRL)
  // ------------------------------------------------------------------

  /** Per-dimension (min, scale) training for 8-bit scalar
    * quantization: ONE elementwise aggregate over the corpus
    * (explode to (pos, v), min/max per pos), collected driver-side —
    * dimension-count-sized, like rollup rules. Returns (mins, scales)
    * as arrays indexed by 0-based dimension.
    */
  def sq8Train(
      vectors: DataFrame,
      dim: Int,
      embCol: String = "embedding"): (Array[Double], Array[Double]) = {
    val stats = vectors
      .select(posexplode(col(embCol)).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))
      .collect()
    val mins = new Array[Double](dim)
    val scales = new Array[Double](dim)
    stats.foreach { r =>
      val p = r.getInt(0)
      mins(p) = r.getDouble(1)
      // degenerate (constant) dimensions quantize to code 0 via scale 1
      scales(p) = math.max(r.getDouble(2) - r.getDouble(1), Sq8Eps)
    }
    (mins, scales)
  }

  /** Degenerate-dimension floor for SQ8 scales (`max − min` of a
    * constant dimension is 0) — one constant shared by the driver
    * ([[sq8Train]]) and in-plan ([[sq8Search]]) stats.
    */
  private val Sq8Eps = 1e-12

  /** THE SQ8 quantize expression — `floor((v−min)/scale·255 + 0.5)`
    * clamped to [0, 255], `floor(x+0.5)` (not `round`) so the
    * half-way tie rule is identical in every engine. Shared by
    * [[sq8Encode]] (driver-collected LUT arrays) and [[sq8Search]]
    * (in-plan 1-row LUT) so the two spellings cannot drift.
    */
  private def sq8Quantize(emb: Column, mn: Column, sc: Column, dim: Column): Column =
    zip_with(emb, sequence(lit(1), dim),
      (v, i) => greatest(lit(0),
        least(lit(255),
          floor((v.cast("double") - element_at(mn, i)) / element_at(sc, i)
            * 255.0 + 0.5).cast("int"))))

  /** SQ8 encode: [[sq8Quantize]] with a driver-shipped LUT. Map-only. */
  def sq8Encode(
      vectors: DataFrame,
      mins: Array[Double],
      scales: Array[Double],
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val mn = array(mins.map(lit): _*)
    val sc = array(scales.map(lit): _*)
    val codes = sq8Quantize(col(embCol), mn, sc, lit(mins.length))
    vectors.select(col(idCol).cast("long").as("vid"), codes.as("codes"))
  }

  /** SQ8 asymmetric search: dequantize each stored code vector
    * in-row (`min + code/255·scale`) and score squared L2 against the
    * RAW query (FAISS's asymmetric distance — queries are never
    * quantized). One corpus scan with the broadcast query batch;
    * per-query top-k via the fleet-sized rank window. 4 bytes → 1
    * byte per dimension is the memory play at 100 TB; the scan cost
    * is unchanged.
    *
    * The per-dim (min, scale) table stays IN-PLAN as a single-row
    * broadcast relation (pos-sorted arrays) instead of the
    * [[sq8Train]] driver collect: identical arithmetic, but one Spark
    * job instead of two and no driver synchronization point — the
    * collect form cost a full extra job of fixed overhead per query
    * at bench scale and serializes the pipeline at any scale.
    */
  def sq8Search(
      vectors: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val stats = vectors
      .select(posexplode(col(embCol)).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mn"),
        greatest(col("mx") - col("mn"), lit(Sq8Eps)).as("sc")))).as("st"))
      .select(transform(col("st"), s => s("mn")).as("__mins"),
        transform(col("st"), s => s("sc")).as("__scales"))
    val mn = col("__mins"); val sc = col("__scales")
    val enc = vectors
      .join(broadcast(stats)) // 1-row broadcast LUT
      .select(col(idCol).cast("long").as("vid"),
        sq8Quantize(col(embCol), mn, sc, lit(dim)).as("codes"),
        mn, sc)
    val deq = zip_with(col("codes"), sequence(lit(1), lit(dim)),
      (c, i) => element_at(mn, i) +
        c.cast("double") / 255.0 * element_at(sc, i))
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(embCol).as("q_emb"))
    val scored = enc
      .join(broadcast(q), col("query_id") =!= col("vid"))
      .withColumn("dist", l2sq(deq, col("q_emb")))
      .drop("__mins", "__scales")
    graft.functions.BoundedTopK.topK(scored, Seq("query_id"),
        struct(col("dist"), col("vid")), k, asc = true)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("__item.vid").as("neighbor_id"),
        round(col("__item.dist"), 4).as("dist"))
  }

  /** Matryoshka-style truncate-then-rerank (Kusupati et al. 2022):
    * coarse top-`rerank` per query by cosine over the FIRST
    * `coarseDim` components (a prefix slice — MRL embeddings front-
    * load information), then exact full-dimension cosine re-ranking
    * of the shortlist to top-`k`. One corpus scan at 1/4 the
    * arithmetic, then a shortlist-sized (queries × rerank) exact
    * pass — the standard two-stage serving shape.
    */
  def mrlSearch(
      vectors: DataFrame,
      queries: DataFrame,
      k: Int,
      coarseDim: Int,
      rerank: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(embCol).as("q_emb"))
    val v = vectors.select(col(idCol).cast("long").as("neighbor_id"),
      col(embCol).as("v_emb"))
    val coarse = v
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("csim",
        cosine(slice(col("q_emb"), 1, coarseDim),
          slice(col("v_emb"), 1, coarseDim)))
    // both stages k-bounded: the coarse stage carries the embeddings
    // as payload (≤ rerank per buffer), so the exact rerank needs no
    // join-back and the corpus is still scanned exactly once
    val shortlist = graft.functions.BoundedTopK
      .topK(coarse, Seq("query_id"),
        struct(col("csim"), col("neighbor_id"), col("q_emb"), col("v_emb")),
        rerank)
      .select(col("query_id"), col("__item.neighbor_id").as("neighbor_id"),
        col("__item.q_emb").as("q_emb"), col("__item.v_emb").as("v_emb"))
      .withColumn("sim", cosine(col("q_emb"), col("v_emb")))
    graft.functions.BoundedTopK.topK(shortlist, Seq("query_id"),
        struct(col("sim"), col("neighbor_id")), k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("__item.neighbor_id").as("neighbor_id"),
        round(col("__item.sim"), 4).as("sim"))
  }

  // ------------------------------------------------------------------
  // Binary quantization (1 sign bit per dimension) + Hamming rerank
  // ------------------------------------------------------------------

  /** One packed sign word over dimensions [from, until): bit
    * `i − from` set iff `v[i] ≥ 0` — the axis-aligned sign convention
    * shared with [[signBucket]]. Words stay ≤ 32 bits so every shift
    * is far inside checked BIGINT on both engines (the same split
    * discipline as the wide dHash fingerprint).
    */
  /** Johnson–Lindenstrauss random projection to `m` dimensions with a
    * dense ±1 sign matrix (Achlioptas 2003: Rademacher entries give
    * the JL distance-preservation guarantee with no Gaussian
    * sampling). The matrix is NOT data — it is a deterministic
    * function of (salt, output dim j, input index i) through the
    * repo's engine-portable md5 parity, so any engine (and any
    * executor, with no broadcast) regenerates it bit-identically;
    * the projection itself is `m` literal-array [[dot]] folds fused
    * into the scan — map-only, whole-stage-codegen, zero shuffle.
    */
  def rpProject(
      embCol: Column,
      dim: Int,
      m: Int,
      salt: String = "rp"): Column = {
    val rows = Array.tabulate(m) { j =>
      // i is 1-based to match the twin's generate_series(1, dim)
      Array.tabulate(dim) { i0 =>
        if (Sampling.hashBits60Local(s"$salt|$j|${i0 + 1}") % 2 == 0) 1.0 else -1.0
      }.toSeq
    }
    array((0 until m).map(j => dot(embCol, typedLit(rows(j)))): _*)
  }

  /** Random-projection search — the dimensionality-reduction ANN
    * prefilter: vectors and queries project to `m` ≪ dim via
    * [[rpProject]] and the projection is scaled by the ORIGINAL
    * vector's norm (linearity: proj(x/‖x‖) = proj(x)/‖x‖), so the
    * projected relation carries directions and squared L2 on it is
    * the angular distance the exact cosine stage ranks by — without
    * the normalization, a far-but-aligned vector outranks a
    * near-angle one and recall collapses on mixed-norm corpora. A
    * zero vector keeps its zero projection (divisor 1), so the
    * PREFILTER never raises ANSI DIVIDE_BY_ZERO; the exact-cosine
    * rerank still rejects zero vectors if one is shortlisted — the
    * same degenerate-input contract as [[bruteKnn]]. The shortlist
    * (`rerank` per query, pd asc / id asc) re-ranks with exact
    * full-precision cosine to top-k. Same two-stage contract as
    * [[bqSearch]]; coarse cost per candidate drops from `dim` to `m`
    * multiplies and the projected corpus is `m/dim` of the original
    * bytes — the standard serving trade when dim is production-sized
    * (e.g. 1536) rather than this fixture's 64.
    */
  def rpSearch(
      vectors: DataFrame,
      queries: DataFrame,
      k: Int,
      rerank: Int,
      dim: Int,
      m: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    // the norm divisor materializes as a COLUMN and the lambda only
    // references it (the bm25 `__ws` HOF discipline) — spelled inline
    // in the lambda it would re-run the 64-element norm fold per
    // projected element, ~3× the scan's multiply-adds
    def dirProj(side: DataFrame, id: Column, idName: String, embName: String): DataFrame =
      side.select(id.cast("long").as(idName), col(embCol).as(embName),
          norm(col(embCol)).as("__n"))
        .withColumn("__div", when(col("__n") === 0d, lit(1.0)).otherwise(col("__n")))
        .withColumn(s"${embName.take(1)}_p",
          transform(rpProject(col(embName), dim, m), p => p / col("__div")))
        .drop("__n", "__div")
    // projections are computed inline next to the carried embedding —
    // ONE scan per side, no join-back (the bqSearch census lesson)
    val v = dirProj(vectors, col(idCol), "neighbor_id", "v_emb")
    val q = dirProj(queries, col(idCol), "query_id", "q_emb")
    val scored = v.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("pd", l2sq(col("v_p"), col("q_p")))
    val shortlist = graft.functions.BoundedTopK
      .topK(scored, Seq("query_id"),
        struct(col("pd"), col("neighbor_id"), col("q_emb"), col("v_emb")),
        rerank, asc = true)
      .select(col("query_id"), col("__item.neighbor_id").as("neighbor_id"),
        col("__item.q_emb").as("q_emb"), col("__item.v_emb").as("v_emb"))
      .withColumn("sim", cosine(col("q_emb"), col("v_emb")))
    graft.functions.BoundedTopK.topK(shortlist, Seq("query_id"),
        struct(col("sim"), col("neighbor_id")), k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("__item.neighbor_id").as("neighbor_id"),
        round(col("__item.sim"), 4).as("sim"))
  }

  private def bqWord(emb: Column, from: Int, until: Int): Column =
    (from until until)
      .map(i => when(element_at(emb, i + 1) >= 0f, lit(1L << (i - from)))
        .otherwise(lit(0L)))
      .reduce(_ + _)

  /** Binary-quantized codes: (vid, code_lo, code_hi) — 1 bit per
    * dimension, a 32× compression of float32 embeddings. Map-only.
    */
  def bqEncode(
      vectors: DataFrame,
      dim: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    vectors.select(col(idCol).cast("long").as("vid"),
      bqWord(col(embCol), 0, dim / 2).as("code_lo"),
      bqWord(col(embCol), dim / 2, dim).as("code_hi"))

  /** Binary-quantization search, the memory-floor ANN serving shape:
    * symmetric Hamming distance over the packed sign codes (two
    * `bit_count(xor)` per candidate — 1 bit/dim resident instead of
    * 4 bytes/dim) prunes each query to a `rerank`-sized shortlist,
    * then exact full-precision cosine re-ranks the shortlist to
    * top-k. Same two-stage contract as [[mrlSearch]]; the coarse
    * stage is one corpus scan against the broadcast query batch with
    * a per-query rank window (ties break on Hamming asc, id asc, so
    * the shortlist — and therefore the result — is deterministic).
    */
  def bqSearch(
      vectors: DataFrame,
      queries: DataFrame,
      k: Int,
      rerank: Int,
      dim: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    // codes are computed inline next to the carried embedding — ONE
    // scan per side, no join-back to the source relation
    val v = vectors.select(col(idCol).cast("long").as("neighbor_id"),
      col(embCol).as("v_emb"),
      bqWord(col(embCol), 0, dim / 2).as("code_lo"),
      bqWord(col(embCol), dim / 2, dim).as("code_hi"))
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(embCol).as("q_emb"),
      bqWord(col(embCol), 0, dim / 2).as("q_lo"),
      bqWord(col(embCol), dim / 2, dim).as("q_hi"))
    val scored = v.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("hd",
        bit_count(col("code_lo").bitwiseXOR(col("q_lo"))) +
          bit_count(col("code_hi").bitwiseXOR(col("q_hi"))))
    val shortlist = graft.functions.BoundedTopK
      .topK(scored, Seq("query_id"),
        struct(col("hd"), col("neighbor_id"), col("q_emb"), col("v_emb")),
        rerank, asc = true)
      .select(col("query_id"), col("__item.neighbor_id").as("neighbor_id"),
        col("__item.q_emb").as("q_emb"), col("__item.v_emb").as("v_emb"))
      .withColumn("sim", cosine(col("q_emb"), col("v_emb")))
    graft.functions.BoundedTopK.topK(shortlist, Seq("query_id"),
        struct(col("sim"), col("neighbor_id")), k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("__item.neighbor_id").as("neighbor_id"),
        round(col("__item.sim"), 4).as("sim"))
  }
}
