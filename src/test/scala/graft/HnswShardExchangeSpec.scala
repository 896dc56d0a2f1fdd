package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.hnsw.{Hnsw, HnswParams}
import graft.streaming.StreamingOps

/** The pid-exact shard exchange: parallelism (one rebuild task per home
  * shard, whatever `spark.sql.shuffle.partitions` says and however AQE
  * coalesces), determinism (edges and answers identical across settings,
  * appended shards included) and the job budget of [[Hnsw.annQuery]].
  */
class HnswShardExchangeSpec extends SparkSpec {

  private val params = HnswParams(dim = 16, m = 6, efConstruction = 32, metric = "cosine",
    numPartitions = 4)
  private lazy val base = graft.sources.Datagen.hashVectors(spark, 600L, 16)
  private lazy val batch = graft.sources.Datagen.hashVectors(spark, 800L, 16)
    .filter(col("id") >= 600L)
  // held-out queries, in memory (the serving shape: a LocalRelation)
  private lazy val queries = {
    import spark.implicits._
    graft.sources.Datagen.hashVectors(spark, 16L, 16, seed = 7L).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq.toDF("qid", "vector")
  }

  /** Listener-observed jobs and, per stage running the sub-graph rebuild
    * (the only `MapPartitions` operator in these plans), its task count and
    * how many of its tasks received shard rows.
    */
  private final class Observed extends SparkListener {
    val jobs = new AtomicInteger(0)
    val rebuildTasks = ArrayBuffer.empty[(Int, Int)]
    private val fed = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskMetrics != null && e.taskMetrics.shuffleReadMetrics.recordsRead > 0)
        fed(e.stageId) += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (e.stageInfo.rddInfos.exists(_.scope.exists(_.name == "MapPartitions")))
        rebuildTasks += ((e.stageInfo.numTasks, fed(e.stageInfo.stageId)))
    }
  }

  private def observed[T](body: => T): (T, Observed) = {
    val o = new Observed
    spark.sparkContext.addSparkListener(o)
    try {
      val v = body
      // listener events are async; a short quiesce (as the other job-count specs)
      Thread.sleep(500)
      (v, o)
    } finally spark.sparkContext.removeSparkListener(o)
  }

  private def sortedRows(rows: Array[Row]): Seq[String] = rows.map(_.mkString(",")).toSeq.sorted

  test("one rebuild task per home shard and identical edges/answers at shuffle.partitions 1, 4, 200") {
    val prev = spark.conf.getOption("spark.sql.shuffle.partitions")
    val runs = try Seq(1, 4, 200).map { sp =>
      spark.conf.set("spark.sql.shuffle.partitions", sp.toString)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val dir = Files.createTempDirectory("hnsw-exchange").toString
      val idx = Hnsw.build(base, params)
      val (_, save) = observed(Hnsw.save(idx, dir))
      assert(save.rebuildTasks === Seq((4, 4)), s"shuffle.partitions=$sp: build rebuild stages")
      idx.nodes.unpersist()
      // query the saved index (a built one would recompute its edges inside
      // the query's scan stage)
      val (ans, q) = observed(Hnsw.annQuery(Hnsw.load(spark, dir), queries, 10).collect())
      assert(q.rebuildTasks === Seq((4, 4)), s"shuffle.partitions=$sp: query rebuild stages")
      val (_, app) = observed(StreamingOps.appendBatch(batch, dir, params, batchId = 0L))
      assert(app.rebuildTasks === Seq((4, 4)), s"shuffle.partitions=$sp: append build stages")
      // the appended shards (pids 4..7) ride their home shards' tasks:
      // still 4 tasks, each rebuilding two sub-graphs
      val grown = Hnsw.load(spark, dir)
      assert(grown.nodes.select("pid").distinct().count() === 8)
      val (grownAns, gq) = observed(Hnsw.annQuery(grown, queries, 10).collect())
      assert(gq.rebuildTasks === Seq((4, 4)), s"shuffle.partitions=$sp: appended-index query")
      assert(sortedRows(Hnsw.annQueryLarge(grown, queries, 10).collect()) === sortedRows(grownAns),
        "annQueryLarge must stay bit-identical to annQuery on the appended index")
      (sortedRows(spark.read.parquet(s"$dir/edges").collect()), sortedRows(ans),
        sortedRows(grownAns))
    } finally {
      prev.foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
    val (edges, ans, grownAns) = runs.head
    assert(edges.nonEmpty && ans.size === 160 && grownAns.size === 160)
    runs.tail.foreach { r =>
      assert(r._1 === edges, "edges table differs across shuffle.partitions")
      assert(r._2 === ans, "answers differ across shuffle.partitions")
      assert(r._3 === grownAns, "appended-index answers differ across shuffle.partitions")
    }
  }

  test("annQuery job budget: in-memory batch 0 jobs at construction, <= 3 at collect; parquet batch probe + one collect") {
    val dir = Files.createTempDirectory("hnsw-jobs").toString
    val built = Hnsw.build(base, params)
    Hnsw.save(built, dir)
    built.nodes.unpersist()
    val idx = Hnsw.load(spark, dir)
    queries.collect() // runs the lazy fixture's generation job before counting

    val (res, construct) = observed(Hnsw.annQuery(idx, queries, 10))
    assert(construct.jobs.get() === 0, "an in-memory batch must be read off the plan, job-free")
    val (rows, action) = observed(res.collect())
    assert(action.jobs.get() <= 3, s"collect ran ${action.jobs.get()} jobs")
    assert(rows.length === 160)

    // a parquet batch in 4 files: the qid probe, then ONE collect — not
    // one toLocalIterator job per file partition
    val qDir = Files.createTempDirectory("hnsw-jobs-q").toString
    queries.repartition(4).write.mode("overwrite").parquet(qDir)
    val pq = spark.read.parquet(qDir)
    assert(pq.rdd.getNumPartitions === 4)
    val (_, probe) = observed(pq.select(col("qid")).limit((1 << 16) + 1).count())
    val (pres, pConstruct) = observed(Hnsw.annQuery(idx, pq, 10))
    assert(pConstruct.jobs.get() === probe.jobs.get() + 1,
      s"parquet intake ran ${pConstruct.jobs.get()} jobs, probe alone ${probe.jobs.get()}")
    assert(sortedRows(pres.collect()) === sortedRows(rows), "intake must not change answers")
  }
}
