package graft

import org.apache.spark.sql.DataFrame

/** Lineage truncation with a deployment-selectable durability mode.
  *
  * Iterative and multi-pass plans (connected-components label
  * propagation, MinHash signature reuse, the tagger's shared
  * relations) must cut their logical plan periodically or pay
  * ever-growing optimizer time and, in loops, unbounded recomputation
  * on retry. Spark offers two cuts:
  *
  *  - `localCheckpoint` — blocks in the executors' block manager
  *    (memory, spilling to local disk). Cheap and dependency-free,
  *    but NOT fault-tolerant: lose one executor after truncation and
  *    the job dies, and ~relation-sized blocks pin executor storage.
  *    The right default on a single node and at test SF.
  *  - `checkpoint` — files under `SparkContext.checkpointDir`
  *    (HDFS/S3/DBFS in production). Survives executor loss; the
  *    100 TB choice for anything corpus-scale or inside a long loop,
  *    at the price of a write+read of the relation.
  *
  * Call sites state the semantics ("cut the plan here"); the
  * deployment states the durability: set `graft.checkpoint.dir` on
  * the session (e.g. `spark.conf.set("graft.checkpoint.dir",
  * "s3://bucket/graft-ckpt")`) and every truncation in the engine
  * becomes a reliable checkpoint; leave it unset and truncation stays
  * local. This closes the fault-tolerance caveat that a bare
  * `localCheckpoint` carries at cluster scale without making small
  * deployments stand up a checkpoint filesystem.
  */
object Lineage {

  /** Runtime-conf key naming the reliable checkpoint directory. */
  val ConfKey = "graft.checkpoint.dir"

  /** Runtime-conf key: set `"true"` to make a non-local deployment
    * FAIL FAST on the first truncation instead of warning when
    * [[ConfKey]] is unset — for operators who want the durability
    * contract enforced, not advised.
    */
  val RequireDurableKey = "graft.checkpoint.requireDurable"

  /** The root we last passed to `setCheckpointDir`, PER SparkContext —
    * compared against the raw conf value, NOT
    * `SparkContext.getCheckpointDir` (which returns the
    * fully-qualified per-context UUID subdir and so never equals the
    * configured root: matching against it would mint a fresh UUID dir
    * on every truncate call). Keyed by context so a restarted or
    * second context gets its own `setCheckpointDir` call instead of
    * inheriting a stale "already applied" memo from a dead one; the
    * weak-keyed map lets stopped contexts be collected.
    */
  private val appliedRoot =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.SparkContext, String]())

  /** Durability-contract check for the local-checkpoint fallback:
    * returns the warning to emit (None = nothing to say). Pure so the
    * policy is unit-testable — `local[...]` masters can't reproduce a
    * multi-executor deployment in-process.
    */
  private[graft] def durabilityWarning(
      isLocal: Boolean, requireDurable: Boolean): Option[String] =
    if (isLocal) None
    else if (requireDurable)
      throw new IllegalStateException(
        s"$ConfKey is unset on a multi-executor deployment and " +
          s"$RequireDurableKey=true: localCheckpoint blocks die with their " +
          "executor and would poison every memoized table for the " +
          "application's lifetime. Set a durable checkpoint directory.")
    else Some(
      s"$ConfKey is unset on a multi-executor deployment: lineage " +
        "truncation falls back to localCheckpoint, whose blocks are NOT " +
        "fault-tolerant — one executor loss poisons the memoized relation " +
        "for the application's lifetime. Set " +
        s"""spark.conf.set("$ConfKey", "<hdfs/s3 path>") (or """ +
        s"$RequireDurableKey=true to fail fast).")

  /** Contexts already warned — once per application, not per truncate. */
  private val warned =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean]())

  /** Cut `df`'s lineage. Reliable (`checkpoint`) when
    * [[ConfKey]] is set on the session, local otherwise. With
    * `eager = false` the cut is planned but materialization happens
    * on the first action, so plan-builder APIs stay lazy.
    *
    * A deferred reliable cut persists `df` first. The checkpoint RDD
    * itself is not persisted, so without it every branch of the first
    * action that reads the cut recomputes `df`, and the checkpoint
    * write after that action computes it once more. The local cut
    * needs no such step: `localCheckpoint` persists its blocks. The
    * persisted copy stays cached for the session, like the local
    * cut's blocks do.
    */
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        if (appliedRoot.put(sc, dir) != dir) sc.setCheckpointDir(dir)
        if (eager) df.checkpoint(eager = true)
        // a fresh Dataset over the same plan, so its physical plan
        // reads the persisted copy even if `df`'s was built already
        else df.persist().toDF(df.columns: _*).checkpoint(eager = false)
      case None =>
        val sc = spark.sparkContext
        val requireDurable = spark.conf
          .getOption(RequireDurableKey).exists(_.equalsIgnoreCase("true"))
        durabilityWarning(sc.isLocal, requireDurable).foreach { msg =>
          if (warned.put(sc, java.lang.Boolean.TRUE) == null)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
        }
        df.localCheckpoint(eager)
    }
  }

  /** [[truncate]] with DEFERRED materialization: the cut is planned
    * at construction and materializes inside the first consuming
    * action instead of as its own job. Round-17 job-count measurement
    * (PhaseProbe, sf0.1): the multi-cut operators spend most of their
    * wall time in per-job scheduling barriers (d_curate 17 jobs /
    * 1.76 s, d_simhash_recall_banded 21 / 3.06 s, ~80–150 ms floor per
    * job locally), and every eager cut is one extra job; the r17 A/B
    * against eager cuts measured 0.78–0.94× wall time. Deferral is
    * safe wherever the consumers are a DAG: both cut kinds persist
    * their relation, so branches inside one action compute it once.
    * Sites where a driver-side loop or collect depends on
    * materialize-NOW keep the explicit eager call.
    */
  def truncateDeferred(df: DataFrame): DataFrame = truncate(df, eager = false)

  /** Chained form: `df.truncateLineage()` ≡ `Lineage.truncate(df)`. */
  implicit class TruncateOps(private val df: DataFrame) extends AnyVal {
    def truncateLineage(eager: Boolean = true): DataFrame = Lineage.truncate(df, eager)
    /** Chained form of [[Lineage.truncateDeferred]]. */
    def truncateLineageDeferred(): DataFrame = Lineage.truncateDeferred(df)
  }
}
