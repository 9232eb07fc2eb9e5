package graft

import org.apache.spark.sql.SparkSession

/** Input-size-derived shuffle sizing — the engine's answer to "how
  * many shuffle partitions?" without a human (or an env var) in the
  * loop.
  *
  * The problem (SCALE_NOTES finding 5): a fixed
  * `spark.sql.shuffle.partitions = cpus` is right at sf0.1 but wrong
  * at ×100 — `d_bigram_kn`'s continuation-count aggregate sorted 3M+
  * rows per partition and spilled, costing 1.8× until the count was
  * manually raised (105.5 s → 57.8 s at 256 partitions via
  * `GRAFT_SCALE_SHUFFLE`). AQE's partition *coalescing* (on by
  * default) can only merge below the configured count, never split
  * above it, so the configured count must be a CEILING sized to the
  * data, not a constant.
  *
  * The rule: set `spark.sql.adaptive.coalescePartitions
  * .initialPartitionNum` — the count AQE *starts* from before
  * coalescing — to roughly one partition per MB of on-disk parquet
  * input, clamped to [cpus, 1024], and pin
  * `advisoryPartitionSizeInBytes` at 64 MB so the coalesced result
  * targets in-memory-sort-friendly partitions. Why 1 partition/MB:
  * the spill-prone shapes are text explosions (tokens, bigrams,
  * shingles) where 1 MB of zstd'd parquet text expands to tens of MB
  * of shuffle rows — the measured case (×100 dir = 222 MB on disk)
  * recovers to linear at 256 partitions, and this rule lands at 222.
  * Over-partitioning the *numeric* queries in the same session is
  * harmless by construction: AQE coalesces their post-shuffle
  * partitions back down to the advisory size, which is exactly the
  * split-AND-merge behavior a fixed `shuffle.partitions` can't give.
  *
  * `spark.sql.shuffle.partitions` itself stays at `cpus` — it is the
  * fallback for the (rare) shuffles AQE can't coalesce and the
  * explicit-`repartition(n)` paths, where the old behavior was
  * already correct.
  */
object Tuning {
  /** Target post-coalesce partition size (Spark's default, pinned
    * explicitly so the sizing contract is in one place). */
  val AdvisoryPartitionBytes: Long = 64L << 20

  /** One initial partition per this many bytes of on-disk input. */
  val BytesPerInitialPartition: Long = 1L << 20

  /** Ceiling on the pre-coalesce partition count per session thread:
    * beyond ~32 initial partitions per core the per-partition
    * scheduling + shuffle-block bookkeeping costs more than the spill
    * it prevents (measured on the 32-thread sandbox, where the best
    * hand count never exceeded 1024), while a 1000-executor cluster
    * has proportionally more reducers to keep busy and more aggregate
    * memory to spill-proof — so the cap scales with parallelism
    * instead of freezing the sandbox's number into the engine. */
  val MaxInitialPartitionsPerCpu: Int = 32

  /** The parallelism-keyed cap itself; floored at the 32-thread
    * sandbox's measured 1024 so small sessions keep the validated
    * ceiling. */
  def maxInitialPartitions(cpus: Int): Int =
    math.max(1024, MaxInitialPartitionsPerCpu * cpus)

  /** The sandbox cap (32 cpus) — kept for spec pins and docs. */
  val MaxInitialPartitions: Int = maxInitialPartitions(32)

  /** Recursive on-disk byte count of a data directory (parquet files
    * plus whatever sidecars ship with them — close enough for a
    * partition-count heuristic), by one Hadoop-FS `getContentSummary`
    * (one namenode call on HDFS, a recursive listing on a local FS or
    * an object store), so hdfs:// / s3a:// stores size correctly on a
    * real cluster (a local-FS walk would silently return 0 there and
    * floor the ceiling at cpus — the exact failure mode this class
    * exists to remove). It sizes the shuffle ceiling
    * ([[configureShuffle]]); a store the HTTP server reads reports its
    * byte total from its snapshot log instead
    * ([[graft.engine.StoreSnapshot]], no FS call). Missing dir or
    * unreachable FS → 0 (the rule then floors at cpus, the safe small
    * default). */
  def dirBytes(dir: String, spark: SparkSession): Long =
    try {
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
    } catch { case scala.util.control.NonFatal(_) => 0L }

  /** The sizing rule itself, pure for testing. */
  def initialShufflePartitions(inputBytes: Long, cpus: Int): Int = {
    val byBytes = math.min(
      maxInitialPartitions(cpus).toLong,
      inputBytes / BytesPerInitialPartition).toInt
    math.max(math.max(1, cpus), byBytes)
  }

  /** Apply the rule to a live session for the given input dirs.
    * All three confs are runtime-settable session confs, so callers
    * that discover their input size late (ScaleProbe builds scaled
    * dirs after session start) can re-apply per input. Returns the
    * chosen initial count (for logging / assertions).
    *
    * `spark.sql.files.maxPartitionBytes` is deliberately LEFT at
    * Spark's 128 MB default: a round-12 A/B (SCALE_NOTES finding 8)
    * measured shrinking scan splits to 16 MB at ×100 costing
    * d_bigram_kn +32% (91.8 vs 69.8 s at identical shuffle sizing) —
    * more, smaller scan tasks each build their own partial-aggregate
    * map, so high-cardinality aggregates lose map-side combine
    * efficiency and ship MORE shuffle bytes. Scan parallelism wants
    * fewer, larger splits here; the round-10 finding-2 concern (a
    * huge partial map per task) is a memory-headroom question, not a
    * split-size one. */
  def configureShuffle(spark: SparkSession, dirs: Seq[String], cpus: Int): Int = {
    val bytes = dirs.map(dirBytes(_, spark)).sum
    val n = initialShufflePartitions(bytes, cpus)
    applyConf(spark, n)
    n
  }

  /** Floor under AQE's parallelism-first coalescing: Spark's default
    * `minPartitionSize` (1 MB) lets AQE coalesce a post-shuffle stage
    * BELOW the session parallelism whenever the stage's bytes are
    * under parallelism × 1 MB — which parks CPU-heavy, byte-light
    * aggregates on 1–2 cores (round-17 StageProbe: the
    * quantile_over_time percentile aggregate ran 1.15 s on TWO tasks
    * of a 32-thread session; interleaved A/B at 64 KB:
    * p_query_holt 0.55×, p_query_quantile_ot 0.63×, p_query_mad
    * 0.64×, p_query_groupleft 0.80×, flat-to-noise elsewhere). Bytes
    * under-measure compute for these stages — per-group sorted lists
    * and fold state cost CPU, not shuffle volume — so the floor is
    * lowered to advisory/1024. Scale behavior: any stage carrying ≥
    * parallelism × 64 KB still coalesces exactly as before; at
    * corpus scale every real shuffle is far past that, so the knob
    * only governs result-sized tails where extra tasks are ~free.
    */
  val MinPartitionBytes: Long = AdvisoryPartitionBytes / 1024

  /** Set the AQE session confs for an already-derived count. */
  def applyConf(spark: SparkSession, n: Int): Unit = {
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", n.toString)
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      AdvisoryPartitionBytes.toString)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      MinPartitionBytes.toString)
  }

  /** Construction-scoped opt-out, THREAD-local rather than
    * session-conf-mutating: `SparkEntry.noSpread` previously scoped
    * the opt-out by set → body → restore on the shared session conf,
    * which silently disabled the spread for any UNRELATED query
    * constructed concurrently on the same session (round-16 ADVICE).
    * Entry construction is single-threaded per query, so a
    * ThreadLocal depth counter gives exactly the intended scope with
    * no cross-thread visibility.
    */
  private val noSpreadDepth: ThreadLocal[Integer] =
    ThreadLocal.withInitial(() => Integer.valueOf(0))

  /** Run `body` with [[spreadTinyInput]] disabled on THIS thread. */
  def withSpreadDisabled[T](body: => T): T = {
    noSpreadDepth.set(noSpreadDepth.get + 1)
    try body finally noSpreadDepth.set(noSpreadDepth.get - 1)
  }

  /** Adaptive tiny-input spread (optimization guide §2: partitioning
    * must be scale-adaptive, never a constant tuned for one scale).
    *
    * The measured problem (round-16 PhaseProbe, sf0.1): the bench
    * parquet files are single-row-group, so a scan yields ONE task and
    * every downstream per-row kernel (PNG/JPEG/AVI codec work, BPE
    * greedy encoding, simhash md5 voting) serializes onto one core of
    * a 32-thread session — `m_png_resize` spent 1.85 s in a 1-task
    * stage that runs in 0.81 s once spread, `m_avi_motion_banded`
    * 1.21 → 0.38 s, `d_bpe_encode` 1.71 → 0.79 s (interleaved
    * single-session A/B, min-of-2, noop sink).
    *
    * The rule: when the relation's optimizer size estimate says the
    * scan under-fills the session (estimated scan tasks below the
    * session parallelism) AND the absolute bytes are small enough that
    * one round-robin shuffle is ~free (≤ parallelism ×
    * [[AdvisoryPartitionBytes]] — 2 GB on the 32-thread sandbox),
    * insert an explicit `repartition(parallelism)`. Explicit
    * numPartitions is deliberately chosen so AQE does NOT coalesce the
    * spread back to one partition (advisory sizing would: the whole
    * point is more tasks than 64 MB sizing yields).
    *
    * At production scale the predicate is false — a 100 TB corpus
    * scans into ≫ parallelism splits and the relation is never
    * re-shuffled — so the helper is a no-op there; the cost of the
    * check is one plan-stats read, no Spark job. Callers are the
    * kernel-heavy map paths where the A/B showed a win (media payload
    * synthesis, tokenizer encode, simhash fingerprinting), NOT every
    * read site: for already-parallel shapes the extra exchange is a
    * pure barrier (`d_ppl_buckets` regressed 2.09 → 2.66 s in the
    * same A/B, so the blanket form is wrong by measurement).
    */
  def spreadTinyInput(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    if (noSpreadDepth.get > 0) return df
    val p = spark.sparkContext.defaultParallelism
    val stats = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // parse through Spark's own byte-string grammar: conventional
    // renderings like "128MB" / "64m" / "1g" crashed the previous
    // stripSuffix("b").toLong spelling (round-16 ADVICE, medium);
    // unparseable values fall back to the 128 MB default instead of
    // failing every spread-instrumented query at construction time
    val maxPB = math.max(1L,
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", (128L << 20).toString))
      catch { case scala.util.control.NonFatal(_) => 128L << 20 })
    val spreadCeiling = BigInt(p.toLong * AdvisoryPartitionBytes)
    if (stats <= 0 || stats > spreadCeiling) df
    else {
      val estTasks = ((stats + maxPB - 1) / maxPB).toLong
      if (estTasks < p) df.repartition(p) else df
    }
  }
}
