package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{Distances, Levels, TextFunctions}
import graft.hnsw.{Hnsw, HnswParams, LocalHnsw}
import graft.operators.{Dedup, Knn, Pipeline, Sampling, TextStats}
import graft.streaming.StreamingOps

/** One workload: its set-up, its closed-loop window, and its checks.
  * `layer` holds the per-layer figures only the workload itself can
  * measure (kernel timings, sizes, counts); [[Layers]] derives the rest
  * from the spans.
  */
abstract class Workload(val r: Run) {
  protected val spark = r.spark
  protected val seed = r.o.seed
  val layer = mutable.Map.empty[String, Double]
  var loop = Loop(Nil, Nil)
  /** Queries each operation sends through `Hnsw.annQuery` (0: none). */
  def queriesPerOp: Int = 0
  def run(): Unit

  protected def span[T](name: String)(body: => T): T = r.tracer.span(name)(body)

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  protected def putEndToEnd(throughput: Double, recall: Double, bytesPerItem: Double): Unit = {
    r.put("throughput", throughput, "items/s")
    r.put("op_p50_s", Stats.median(loop.all), "s")
    r.put("recall", recall, "ratio")
    r.put("bytes_per_item", bytesPerItem, "bytes")
  }
}

/** Shared pieces of the three vector workloads. */
object Vec {
  /** The reference's defaults (M=16, efc=200) at cosine, 4 shards. */
  val Params = HnswParams(dim = Gen.Dim, metric = "cosine", numPartitions = 4)
  val K = 10
  /** Recall@10 below this fails the run: at these sizes the default ef
    * reaches 0.96-0.99, so the floor catches a broken graph or search
    * without flagging seed-to-seed variation.
    */
  val RecallFloor = 0.9

  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteDir(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
  }

  def queryFrame(r: Run, qs: Seq[(Long, Array[Float])]): DataFrame = {
    import r.spark.implicits._
    qs.toDF("qid", "vector")
  }

  /** Exact top-k ids per query: `Knn.exactTopK` over the corpus frame. */
  def groundTruth(corpus: DataFrame, queries: DataFrame): Map[Long, Set[Long]] =
    Knn.exactTopK(corpus, queries, K, Distances.cosine).select("qid", "id").collect()
      .groupBy(_.getLong(0)).map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

  /** Checks one annQuery answer: every query has exactly K ranked hits in
    * ascending distance, and no hit is `forbidden`.
    */
  def answerOk(r: Run, rows: Array[Row], qids: Iterable[Long], forbidden: Long => Boolean): Boolean = {
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    qids.forall { q =>
      val hits = byQ.getOrElse(q, Array.empty[Row]).sortBy(_.getAs[Int]("rank"))
      val dists = hits.map(_.getAs[Double]("dist"))
      r.expect(hits.length == K && hits.map(_.getAs[Int]("rank")).sameElements(1 to K),
        s"query $q: ${hits.length} ranked hits, expected $K") &&
      r.expect(dists.zip(dists.drop(1)).forall { case (a, b) => a <= b },
        s"query $q: distances not ascending") &&
      r.expect(!hits.exists(h => forbidden(h.getAs[Long]("id"))),
        s"query $q: returned a deleted id")
    }
  }

  /** Hits shared with the exact answer, summed over queries. */
  def hits(rows: Array[Row], truth: Map[Long, Set[Long]]): Long =
    rows.count(h => truth.get(h.getAs[Long]("qid")).exists(_.contains(h.getAs[Long]("id")))).toLong

  /** annQuery's default search budget (`ef = -1`): the sub-graph size over
    * 200, at least ef_search and k, at most 4096.
    */
  def defaultEf(dir: String): Int = {
    val m = Hnsw.loadMeta(dir)
    val perShard = if (m.num_nodes > 0) m.num_nodes / m.num_partitions else -1L
    val base = if (perShard > 0) math.min(4096L, math.max(m.ef_search.toLong, perShard / 200)) else m.ef_search.toLong
    math.max(base, K.toLong).toInt
  }

  /** Spark-free timings of the `LocalHnsw` kernel on one shard: the
    * insert loop over shard 0's rows of `base`, the rebuild of shard 0
    * of the index at `dir` from its rows, and searches of `queries` in it
    * at annQuery's default ef. Median of three passes each.
    */
  def kernel(w: Workload, base: Array[(Long, Array[Float])], dir: String,
             queries: Array[(Long, Array[Float])]): Unit = {
    val p = Params
    val shard = base.filter(_._1 % p.numPartitions == 0)
    val insertS = Stats.median((0 until 3).map { _ =>
      val h = new LocalHnsw(p.dim, p.m, p.maxM0Resolved, p.efConstruction, p.metric)
      val t0 = System.nanoTime()
      shard.foreach { case (id, v) => h.add(id, v, Levels.levelForLocal(id, p.mLResolved)) }
      (System.nanoTime() - t0) / 1e9
    })
    w.layer("kernel.insert_us") = insertS / shard.length * 1e6
    w.layer("kernel.inserts_per_s") = shard.length / insertS

    val spark = w.r.spark
    val meta = Hnsw.loadMeta(dir)
    val nodes = spark.read.parquet(s"$dir/vectors").filter(col("pid") === 0)
      .select("id", "vector", "level").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val edges = spark.read.parquet(s"$dir/edges").filter(col("pid") === 0)
      .select("src", "layer", "dst").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    def rebuild() = LocalHnsw.fromRows(meta.dim, meta.m, meta.max_m0, meta.ef_construction,
      meta.metric, nodes.iterator, edges.iterator)
    val rebuildS = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime(); rebuild(); (System.nanoTime() - t0) / 1e9
    })
    w.layer("kernel.rebuild_ms") = rebuildS * 1e3
    val g = rebuild()
    val ef = defaultEf(dir)
    val searchS = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      queries.foreach { case (_, q) => g.search(q, K, ef) }
      (System.nanoTime() - t0) / 1e9
    })
    w.layer("kernel.search_us") = searchS / queries.length * 1e6
  }
}

/** Online search: one loaded index, batches of 16 held-out queries. The
  * set-up builds and saves the index, so `setup_s` and the traced
  * `hnsw.build`/`hnsw.save` spans carry the batch build.
  */
final class ServeWorkload(r: Run) extends Workload(r) {
  import Vec._
  val N = 3000
  val Batch = 16
  val Batches = 20
  override def queriesPerOp: Int = Batch

  def run(): Unit = {
    val dir = r.path("serve-idx")
    var base = Array.empty[(Long, Array[Float])]
    var queries = Array.empty[(Long, Array[Float])]
    var truth = Map.empty[Long, Set[Long]]
    r.setup(3) {
      base = Gen.vectors(seed, Gen.BaseStream, 0L, N)
      queries = Gen.vectors(seed, Gen.QueryStream, 0L, Batch * Batches)
      Gen.writeVectors(spark, base, "id", r.path("in/base"))
      Gen.writeVectors(spark, queries, "qid", r.path("in/queries"))
      truth = groundTruth(spark.read.parquet(r.path("in/base")), spark.read.parquet(r.path("in/queries")))
      r.traced {
        val idx = span("hnsw.build")(Hnsw.build(spark.read.parquet(r.path("in/base")), Params))
        span("hnsw.save")(Hnsw.save(idx, dir))
      }
    }
    val idx = r.traced(span("hnsw.load")(Hnsw.load(spark, dir)))
    var found, asked = 0L
    loop = r.loop(warmup = 4, minOps = 5) { i =>
      val batch = queries.slice((i % Batches) * Batch, (i % Batches + 1) * Batch)
      val res = span("hnsw.query.construct")(Hnsw.annQuery(idx, queryFrame(r, batch.toSeq), K))
      val rows = span("hnsw.query.action")(res.collect())
      () => {
        found += hits(rows, truth)
        asked += K * batch.length
        answerOk(r, rows, batch.map(_._1), _ => false)
      }
    }
    val recall = found.toDouble / asked
    r.attempt("recall over the served batches") {
      r.expect(recall >= RecallFloor, f"recall@$K $recall%.4f below $RecallFloor")
    }
    putEndToEnd(Batch * loop.all.size / loop.all.sum, recall, dirBytes(dir).toDouble / N)
    if (r.o.trace) {
      layer("hnsw.shards") = idx.nodes.select("pid").distinct().count().toDouble
      kernel(this, base, dir, queries)
    }
  }
}

/** Writes beside reads: per micro-batch, delete a slice of old ids,
  * near-duplicate-check the incoming batch with annQuery, append it with
  * `StreamingOps.appendBatch`, re-load; then rebuild, save and query once.
  *
  * The compaction pass is `Hnsw.rebuild` (live rows only, one graph per
  * shard). `Hnsw.compact` (the sub-graph merge) is not used: on this
  * corpus its merged graph answers recall@10 0.55 at the default ef and
  * most appended vectors do not find themselves, so every run would fail
  * its checks.
  */
final class IngestWorkload(r: Run) extends Workload(r) {
  import Vec._
  val N = 2000
  val Batch = 500
  val MaxBatches = 8
  val DeletesPerBatch = 25
  val Q = 200
  val SelfSample = 8
  override def queriesPerOp: Int = Batch

  def run(): Unit = {
    val dir = r.path("ingest-idx")
    var base = Array.empty[(Long, Array[Float])]
    var queries = Array.empty[(Long, Array[Float])]
    r.setup(3) {
      base = Gen.vectors(seed, Gen.BaseStream, 0L, N)
      queries = Gen.vectors(seed, Gen.QueryStream, 0L, Q)
      Gen.writeVectors(spark, base, "id", r.path("in/base"))
      for (b <- 0 until MaxBatches)
        Gen.writeVectors(spark, Gen.vectors(seed, Gen.batchStream(b), N.toLong + b * Batch, Batch),
          "id", r.path(s"in/batch-$b"))
      deleteDir(dir)
      Hnsw.save(Hnsw.build(spark.read.parquet(r.path("in/base")), Params), dir)
    }
    var current = Hnsw.load(spark, dir)
    val deleted = mutable.LinkedHashSet.empty[Long]
    var bytes = dirBytes(dir)
    val appendBytes = mutable.ArrayBuffer.empty[Double]
    loop = r.loop(warmup = 1, minOps = 3, maxOps = MaxBatches) { b =>
      val slice = (b * DeletesPerBatch until (b + 1) * DeletesPerBatch).map(_.toLong)
      val idx = span("hnsw.delete")(Hnsw.delete(current, (deleted ++ slice).toSeq))
      deleted ++= slice
      val batch = spark.read.parquet(r.path(s"in/batch-$b"))
      val res = span("hnsw.query.construct")(Hnsw.annQuery(idx, batch.withColumnRenamed("id", "qid"), K))
      val rows = span("hnsw.query.action")(res.collect())
      span("streaming.append")(StreamingOps.appendBatch(batch, dir, Params, b.toLong))
      current = span("hnsw.load")(Hnsw.load(spark, dir))
      () => {
        val now = dirBytes(dir)
        appendBytes += (now - bytes).toDouble
        bytes = now
        val firstNew = N.toLong + b * Batch
        answerOk(r, rows, firstNew until firstNew + Batch, deleted.contains)
      }
    }
    val nBatches = deleted.size / DeletesPerBatch
    val appended = (0 until nBatches).flatMap(b => (0 until SelfSample).map(j => N.toLong + b * Batch + j * (Batch / SelfSample)))
    val live = Hnsw.delete(current, deleted.toSeq)
    val appendedVecs = (0 until nBatches).flatMap(b => Gen.vectors(seed, Gen.batchStream(b), N.toLong + b * Batch, Batch))
      .filter(v => appended.contains(v._1))
    if (r.o.trace) layer("hnsw.shards") = current.nodes.select("pid").distinct().count().toDouble
    r.attempt("appended ids self-match before compaction") {
      val rows = Hnsw.annQuery(live, queryFrame(r, appendedVecs), K).collect()
      answerOk(r, rows, appended, deleted.contains) && selfMatch(rows, appended)
    }

    val compactDir = r.path("ingest-compacted")
    val (_, compactS) = timed(r.traced(span("hnsw.rebuild") {
      Hnsw.save(Hnsw.rebuild(live, Params), compactDir)
    }))
    val compacted = Hnsw.load(spark, compactDir)
    // one bulk query after compaction: the sampled appended vectors plus
    // held-out queries (qids offset past every vector id)
    val heldOut = queries.map { case (q, v) => (q + (1L << 40), v) }
    val (rows, bulkS) = timed(r.traced(span("hnsw.query.bulk") {
      Hnsw.annQuery(compacted, queryFrame(r, appendedVecs ++ heldOut), K).collect()
    }))
    var recall = 0.0
    val liveCount = N - deleted.size + nBatches * Batch
    r.attempt("bulk query after compaction") {
      val corpus = spark.read.parquet((r.path("in/base") +: (0 until nBatches).map(b => r.path(s"in/batch-$b"))): _*)
        .filter(!col("id").isin(deleted.toSeq: _*))
      val truth = groundTruth(corpus, queryFrame(r, heldOut))
      recall = hits(rows, truth).toDouble / (K * Q)
      answerOk(r, rows, appended ++ heldOut.map(_._1), deleted.contains) &&
        selfMatch(rows, appended) &&
        r.expect(recall >= RecallFloor, f"recall@$K $recall%.4f below $RecallFloor")
    }
    putEndToEnd(loop.all.size * Batch / (loop.all.sum + compactS), recall,
      dirBytes(compactDir).toDouble / liveCount)
    layer("hnsw.rebuild_s") = compactS
    layer("hnsw.rebuild.bytes_rewritten") = dirBytes(compactDir).toDouble
    layer("streaming.append.output_bytes") = Stats.median(appendBytes.toSeq)
    layer("ingest.post_compact_batch_s") = bulkS
    if (r.o.trace) kernel(this, base, compactDir, queries)
  }

  /** Every sampled appended vector finds itself at rank 1, distance ~0. */
  private def selfMatch(rows: Array[Row], ids: Seq[Long]): Boolean = {
    val top = rows.filter(_.getAs[Int]("rank") == 1).map(h => h.getAs[Long]("qid") -> h).toMap
    ids.forall { id =>
      r.expect(top.get(id).exists(h => h.getAs[Long]("id") == id && h.getAs[Double]("dist") <= 1e-6),
        s"appended id $id does not find itself at rank 1")
    }
  }
}

/** Corpus preparation: `Pipeline.prepare` (near dedup at Jaccard 0.8 and
  * decontamination) then `Pipeline.writeCurriculum`, on docs with planted
  * exact and near duplicates.
  */
final class PrepareWorkload(r: Run) extends Workload(r) {
  val N = 2000
  val MinJaccard = 0.8
  /** Share of planted near copies LSH must catch: 2 bands of 2 rows find
    * a pair at Jaccard 0.85 with probability 0.92.
    */
  val NearRecallFloor = 0.8

  def run(): Unit = {
    var d: Gen.Docs = null
    // this set-up takes ~0.5 s once warm; five runs keep its median steady
    r.setup(5) {
      d = Gen.docs(seed, N)
      Gen.writeDocs(spark, d, r.path("in/docs"), r.path("in/bench"))
    }
    var kept = -1L
    val nearRecall = mutable.ArrayBuffer.empty[Double]
    val outBytes = mutable.ArrayBuffer.empty[Double]
    loop = r.loop(warmup = 1, minOps = 2) { i =>
      val out = r.path(s"out/$i")
      val prepared = span("operators.prepare")(Pipeline.prepare(
        spark.read.parquet(r.path("in/docs")), "doc_id", "source", "text",
        bench = Some(spark.read.parquet(r.path("in/bench"))), nearDedup = Some(MinJaccard)))
      span("operators.writeCurriculum")(Pipeline.writeCurriculum(prepared, out, "doc_id", 1 << 20))
      () => {
        val rows = spark.read.parquet(out).select("doc_id", "text").collect()
        val ids = rows.map(_.getLong(0)).toSet
        outBytes += Vec.dirBytes(out).toDouble
        Vec.deleteDir(out)
        val caught = d.nearCopies.keys.count(c => !ids.contains(c)).toDouble / d.nearCopies.size
        nearRecall += caught
        val ok = r.expect(rows.map(_.getString(1)).distinct.length == rows.length,
            "two kept docs share a text") &&
          r.expect(!d.exactCopies.exists(ids.contains), "a planted exact copy was kept") &&
          r.expect(!d.contaminated.exists(ids.contains), "a contaminated doc was kept") &&
          r.expect(kept < 0 || kept == rows.length, s"kept ${rows.length} docs, earlier $kept") &&
          r.expect(caught >= NearRecallFloor, f"near-copy recall $caught%.3f below $NearRecallFloor")
        kept = rows.length
        ok
      }
    }
    putEndToEnd(d.rows.length * loop.all.size / loop.all.sum, Stats.median(nearRecall.toSeq),
      Stats.median(outBytes.toSeq) / d.rows.length)
    if (r.o.trace) breakdown()
  }

  /** Times each stage function `Pipeline.prepare` composes, called one by
    * one with the same arguments; every stage's output is materialized
    * (noop sink) inside its span and its input comes persisted from the
    * stage before, so each span holds that stage's work alone.
    */
  private def breakdown(): Unit = r.traced {
    val id = "doc_id"
    def stage(name: String)(body: => DataFrame): DataFrame = span(s"operators.$name") {
      val df = body
      df.write.format("noop").mode("overwrite").save()
      df
    }
    def keep(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
    val docs = spark.read.parquet(r.path("in/docs"))
    val gopher = stage("gopherRulesHof")(TextStats.gopherRulesHof(docs, id, "text"))
    val gated = keep(docs.join(gopher.filter(col("keep")).select(id), id)
      .filter(TextFunctions.qualityScore(col("text")) >= 0.3))
    val exact = stage("exactDedup")(Dedup.exactDedup(gated, id, "text"))
    val deduped = keep(gated.join(exact.filter(!col("is_dup")).select(id), id))
    val sigs = keep(stage("minhashSignatures")(Dedup.minhashSignatures(deduped, id, "text", n = 3, h = 4)))
    val cand = keep(stage("lshCandidatePairs")(Dedup.lshCandidatePairs(sigs, id, h = 4, rows = 2,
      maxBandSize = 1000).select("id_a", "id_b").distinct()))
    val pairs = keep(stage("jaccardForPairs")(Dedup.jaccardForPairs(cand, deduped, id, "text",
      n = 3, minJaccard = MinJaccard)).filter(col("is_dup")).select("id_a", "id_b"))
    val clusters = stage("dupClusters")(Dedup.dupClusters(deduped, pairs, id))
    val nearDeduped = keep(deduped.join(clusters.filter(col(id) =!= col("comp")).select(id), Seq(id), "left_anti"))
    val contam = stage("contamination")(Dedup.contamination(nearDeduped,
      spark.read.parquet(r.path("in/bench")), id, "text", n = 3, minOverlap = 5))
    val clean = keep(nearDeduped.join(contam.select(id), Seq(id), "left_anti"))
    stage("tokenBudgetSelect")(Sampling.tokenBudgetSelect(clean, id, "source", "text", Long.MaxValue, 1000))
    val nCand = cand.count().toDouble
    val nPairs = pairs.count().toDouble
    layer("operators.lsh_candidates") = nCand
    layer("operators.verified_pairs") = nPairs
    layer("operators.lsh_precision") = if (nCand > 0) nPairs / nCand else 0.0
    r.release()
  }
}
