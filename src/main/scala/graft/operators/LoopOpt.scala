package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Physical-plan hygiene for ITERATIVE fixpoint loops (pageRank/PPR,
 * label propagation, stationary fixpoint, k-core, BFS frontiers):
 * every round re-plans and re-executes a small join/aggregate cycle
 * over checkpointed state, so the loop's wall clock is dominated by
 * per-round FIXED costs, not data — measured at bench scale (sf0.1):
 * pageRank spent 16 s on 25 rounds over a 7,146-edge graph, 180
 * driver jobs, 57 s of task wall for 16 s of task CPU. Two fixes,
 * both scale-adaptive rather than tuned to the bench box:
 *
 *  - [[loopPartitions]]: derive the loop's shuffle-partition count
 *    from the MEASURED size of the checkpointed state (the stats a
 *    localCheckpoint makes exact), targeting the guide's 32 MB+ per
 *    partition (§2.2/§2.6) with the session's own
 *    `spark.sql.shuffle.partitions` as the ceiling — a 100 TB state
 *    keeps full parallelism, a KB-sized bench state stops paying 32
 *    task launches per tiny stage.
 *  - [[withLoopConf]]: run the loop body with that partition count
 *    and with broadcast-join auto-conversion OFF (both the planner's
 *    and AQE's thresholds), restoring the session conf afterwards.
 *    Inside a loop every broadcast is a per-round driver collect +
 *    torrent rebuild of state that changes every round — the
 *    co-partitioned sort-merge join over the checkpointed frames
 *    (partitioning survives `localCheckpoint`) reuses the standing
 *    layout instead, which is also the only plan that survives a
 *    data-sized state at 100 TB (broadcasting the rank table is a
 *    driver OOM there; guide §3.1/§5).
 */
object LoopOpt {

  /** Per-partition byte target for loop state (guide §2.2: partitions
    * in the tens-to-hundreds of MB beat thousands of KB-sized ones). */
  val BytesPerPartition: Long = 32L * 1024 * 1024

  /** The MEASURED storage size of an (eagerly) checkpointed frame:
    * the block-manager bytes of every LogicalRDD in its plan. The
    * optimizer's sizeInBytes is useless here — Dataset.localCheckpoint
    * carries the ORIGINATING plan's estimate through (measured: 6 TB
    * claimed for a 7,146-row materialized edge list), so loops sized
    * from it never adapt. An empty checkpoint stores no block, so it
    * has no storage info: when every LogicalRDD is checkpointed the
    * missing infos count as 0 bytes. Falls back to Long.MaxValue
    * (= keep the session's full parallelism) when something is not
    * materialized. */
  def statSize(df: DataFrame): Long = {
    val rdds = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    if (rdds.isEmpty) return Long.MaxValue
    val ids = rdds.map(_.id).toSet
    val infos = df.sparkSession.sparkContext.getRDDStorageInfo
      .filter(i => ids.contains(i.id))
    if (infos.isEmpty && !rdds.forall(_.isCheckpointed)) Long.MaxValue
    else infos.map(i => i.memSize + i.diskSize).sum
  }

  /** Partition count for a loop over `bytes` of standing state:
    * ceil(bytes / 32 MB) clamped to [1, spark.sql.shuffle.partitions]. */
  def loopPartitions(spark: SparkSession, bytes: Long): Int = {
    val ceil = spark.sessionState.conf.numShufflePartitions
    val want = math.max(1L, (bytes + BytesPerPartition - 1) / BytesPerPartition)
    math.min(ceil.toLong, want).toInt
  }

  /** Runs `body` with the loop conf set (shuffle partitions = `nP`,
    * broadcast auto-conversion off) and ALWAYS restores the caller's
    * values — loops run many actions inside, and each action plans
    * under the session conf current at its submission. */
  def withLoopConf[A](spark: SparkSession, nP: Int)(body: => A): A = {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.shuffle.partitions",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled",
      "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> conf.getOption(k))
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.shuffle.partitions", nP.toString)
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    // AQE has nothing left to do inside the loop (partitions already
    // sized from the measured state, joins co-partitioned so there is
    // no shuffle to re-plan or skew-split) — but it still submits
    // every exchange as its own stage job: measured 5 driver jobs per
    // pageRank round vs 1 without it, and the loop wall is pure
    // driver-job latency at bench scale. Off inside the loop only.
    conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
