package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.hnsw.Hnsw

/** The NO-FLAG operating point at the flagship scale: 5M × dim-512, the
  * regime where the committed sweeps showed the traversal ef dial
  * collapsing (ef=800 → recall@10 0.626, BENCH_SCALE_REFINE512.json)
  * while exact-probed search holds 0.944–0.950 flat in n. Round 10 closed
  * that recall gap with two explicit levers; this proof pins that the
  * DEFAULT path now finds the right lever by itself:
  *
  *   - [[Hnsw.annQueryAdaptive]] with NO flags (k=10, default probe,
  *     default ef) must route through the decay tier
  *     ([[Hnsw.traversalDecays]] — asserted on the loaded meta) into the
  *     exact-probed plan, and
  *   - recall@10 vs the exact oracle must clear 0.94 — the number the
  *     ef-traversal default silently missed.
  *
  * Loads the index saved by `RoutedDim512Proof ... build none` (the
  * 79 GiB-disk per-JVM discipline — build once, query phases resumed).
  * Prints one JSON line, committed as `BENCH_SCALE_ADAPTIVE512.json`. Run:
  *
  *   SPARK_DRIVER_MEM=96g scripts/run_main.sh graft.AdaptiveDim512Proof /root/scale/idx512
  */
object AdaptiveDim512Proof {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/scale/idx512")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-adaptive-512-proof")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val idx0 = Hnsw.load(spark, dir)
    val index = idx0.copy(nodes = idx0.nodes.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val n = index.meta.num_nodes
    val c = index.meta.num_cells
    // materialize the cache BEFORE timing, so adaptive_sec measures the
    // query, not the one-off 10 GB parquet read + cache fill
    // (ExactProbeShapeProbe documents the measurement traps)
    index.nodes.count()
    require(Hnsw.traversalDecays(index.meta, k = 10, ef = -1),
      s"meta (dim ${index.meta.dim}, n $n, P ${index.meta.num_partitions}) " +
        "must sit in the decay regime — the whole point of the no-flag test")
    val nRecallQ = sys.env.getOrElse("SPARK_GRAFT_RECALL_QUERIES", "100").toLong
    // sample FIRST, dedup ghost copies on the tiny sampled subset only: a
    // corpus-wide groupBy here shuffles 10 GB and can EVICT the node cache
    // (unified memory borrows storage), adding disk re-reads to the timed
    // query (ExactProbeShapeProbe, measurement-trap #2)
    val sample = index.nodes
      .filter(!col("tombstone") && col("id") % (n / nRecallQ) === 0)
      .groupBy(col("id")).agg(first(col("vector")).as("vector"))
      .select(col("id").as("qid"), col("vector")).localCheckpoint()
    val nQ = sample.count()

    def timed[T](f: => T): (T, Double) = {
      val s = System.nanoTime(); val r = f; (r, (System.nanoTime() - s) / 1e9)
    }
    // warm-up (measurement trap #3, r14): one untimed pass of the no-flag
    // plan so the timed call doesn't carry first-plan-in-JVM codegen+JIT
    // (~3x measured on this VM)
    Hnsw.annQueryAdaptive(index, sample, k = 10).count()
    // THE call under test: no probe flag, no ef flag, no path flag
    val (ann, autoSec) = timed(
      Hnsw.annQueryAdaptive(index, sample, k = 10).localCheckpoint())
    // the plan the chooser took must be the brute-force probed scan — no
    // sub-graph rebuild operator anywhere in it
    val plan = ann.queryExecution.executedPlan.toString
    require(!plan.contains("shufflepartitionidpassthrough"),
      "decay tier must have selected the exact-probed plan")

    val dist = graft.functions.Distances.metric(index.meta.metric)
    // the exact oracle needs the corpus-wide ghost dedup — run it AFTER
    // the timed call (its 10 GB groupBy shuffle may evict the node cache)
    val uniq = index.nodes.filter(!col("tombstone"))
      .groupBy(col("id")).agg(first(col("vector")).as("vector"))
    val (exact, exactSec) = timed(
      graft.operators.Knn.exactTopK(uniq, sample, 10, dist).localCheckpoint())
    val recall = Hnsw.recallAtK(ann, exact, 10).agg(avg("recall")).head().getDouble(0)
    System.err.println(f"[adaptive512] no-flag adaptive over $nQ queries: " +
      f"recall@10 $recall%.4f in $autoSec%.1f s (exact oracle $exactSec%.1f s)")
    require(recall >= 0.94, f"auto path recall@10 $recall%.4f below the 0.94 gate")

    println(s"""{"n":$n,"dim":${index.meta.dim},"num_cells":$c,""" +
      s""""path":"adaptive-no-flags","chose":"${Hnsw.lastDecayPick.get()}",""" +
      s""""recall10":$recall,"recall_queries":$nQ,""" +
      s""""adaptive_sec":$autoSec,"exact_oracle_sec":$exactSec}""")
    spark.stop()
  }
}
