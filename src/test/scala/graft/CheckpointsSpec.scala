package graft

import org.apache.spark.sql.functions._

/**
 * Pins the fixpoint-loop storage contract (ADVICE r15): localCheckpoint
 * blocks are persisted RDDs that `spark.catalog.clearCache()` cannot
 * free, so the iterative loops unpersist round k−1 after round k's
 * delta action — loop storage stays bounded by ~2 live state frames
 * instead of growing with the round count.
 */
class CheckpointsSpec extends SparkTestBase {
  import spark.implicits._

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  test("Checkpoints.free releases a localCheckpointed frame's blocks") {
    val before = persisted
    val df = Seq(1L, 2L, 3L).toDF("x").localCheckpoint()
    assert(df.count() === 3L)
    assert(persisted === before + 1)
    graft.operators.Checkpoints.free(df)
    assert(persisted === before)
    // a projection over a checkpointed frame frees the same RDD
    val df2 = Seq(4L, 5L).toDF("x").localCheckpoint()
    val proj = df2.select(col("x") * 2)
    assert(proj.count() === 2L)
    graft.operators.Checkpoints.free(proj)
    assert(persisted === before)
  }

  test("LoopOpt.statSize: an empty checkpoint measures 0, unmaterialized state MaxValue") {
    import graft.operators.LoopOpt.statSize
    // an empty eager checkpoint stores no block, so it has no storage info
    val empty = spark.range(0).toDF("x").localCheckpoint()
    assert(statSize(empty) === 0L)
    val full = Seq(1L, 2L, 3L).toDF("x").localCheckpoint()
    assert(statSize(full) > 0L && statSize(full) < Long.MaxValue)
    // nothing materialized: a lazy checkpoint before any action, and a
    // plan with no LogicalRDD at all
    val lazyCp = spark.range(5).toDF("x").localCheckpoint(false)
    assert(statSize(lazyCp) === Long.MaxValue)
    assert(statSize(spark.range(5).toDF("x")) === Long.MaxValue)
    Seq(empty, full, lazyCp).foreach(graft.operators.Checkpoints.free)
  }

  test("small clusters, clustersIncremental and ingestDedupBatch hold no storage afterwards") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    assert(graft.operators.Dedup.clusters(pairs).collect().length === 5)
    val labels = Seq((2L, 2L), (4L, 2L)).toDF("node", "cluster_id")
    assert(graft.operators.Dedup.clustersIncremental(labels, pairs).collect().length === 6)
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel india kilo"))
      .toDF("doc_id", "text")
    val state = s"${tmpDir("graft_leak_")}/state"
    graft.streaming.EventStreams.ingestDedupBatch(spark, docs, state, 0L)
    assert(spark.read.parquet(s"$state/clusters").count() === 2L)
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }

  test("the distributed clusters loop holds only its result checkpoint") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val labels = graft.operators.Dedup.clustersLoop(graft.operators.Dedup.symmetricEdges(pairs))
    assert(labels.collect().length === 5)
    assert(spark.sparkContext.getPersistentRDDs.size === before.size + 1)
    graft.operators.Checkpoints.free(labels)
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }

  test("pageRank loop storage stays bounded across rounds") {
    val before = persisted
    // a ring mixes slowly — guarantees multiple power rounds
    val n = 40L
    val edges = spark.range(n)
      .select(col("id").as("src"), ((col("id") + 1) % n).as("dst"))
    val pr = graft.operators.Graphs.pageRank(edges, tolMicros = 20000L, maxIters = 30)
    assert(pr.count() === n)
    // e + nodes + the final round's state may stay; prior rounds must not
    assert(persisted - before <= 4,
      s"expected <= 4 live checkpoints after the loop, got ${persisted - before}")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("stationaryFixpoint carries src ∪ dst states (transient dst kept)") {
    // ADVICE r15 fixture: (A,B),(B,A),(B,C),(C,D) — one-pass restriction
    // keeps (A,B),(B,A),(B,C) and drops (C,D); C receives mass but has
    // no outgoing restricted edge. C must still appear in the output.
    val tr = Seq(("A", "B", 10L), ("B", "A", 10L), ("B", "C", 10L), ("C", "D", 5L))
      .toDF("src", "dst", "n")
    val pi = graft.operators.Graphs
      .stationaryFixpoint(tr, tolMicros = 300000L, maxIters = 12)
      .orderBy("state").collect()
    val states = pi.map(_.getString(0)).toSeq
    assert(states === Seq("A", "B", "C"), s"got $states")
    // B splits its mass between A and C every round: C's stationary row
    // must be strictly positive, A+B+C conserve nothing for D
    val byState = pi.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byState("C") > 0L)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
