package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** Seeded input generator. Every output is a pure function of
  * (seed, stream), so one seed always yields the same files. The program
  * under test only ever sees the Parquet these functions write.
  */
object Gen {
  val Dim = 128

  /** Streams: independent random sequences drawn from one seed. */
  val BaseStream = 1L
  val QueryStream = 2L
  val DocStream = 3L
  def batchStream(b: Int): Long = 100L + b

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  /** `n` vectors uniform in [-1, 1)^dim, ids `firstId until firstId + n`. */
  def vectors(seed: Long, stream: Long, firstId: Long, n: Int,
              dim: Int = Dim): Array[(Long, Array[Float])] = {
    val r = rng(seed, stream)
    Array.tabulate(n)(i => (firstId + i, Array.fill(dim)((r.nextDouble() * 2 - 1).toFloat)))
  }

  def writeVectors(spark: SparkSession, rows: Array[(Long, Array[Float])], idCol: String,
                   path: String): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows.toSeq, 4).toDF(idCol, "vector")
      .write.mode("overwrite").parquet(path)
  }

  /** A document corpus with planted duplicates. `rows` are
    * (doc_id, source, text). Each planted copy gets an id above every
    * original, so the min-id canonical rule always keeps the original:
    *   - `exactCopies`: copies with byte-identical text;
    *   - `nearCopies`: copy id → original id, text with one middle token
    *     replaced by a word outside the vocabulary (3-shingle Jaccard
    *     ≥ 0.85 at the 40-token minimum length);
    *   - `contaminated`: originals whose 12-token slice is a row of
    *     `bench` (10 shared 3-shingles, above the 5-shingle flag floor).
    */
  final case class Docs(rows: Array[(Long, String, String)], exactCopies: Set[Long],
                        nearCopies: Map[Long, Long], contaminated: Set[Long],
                        bench: Array[(Long, String)])

  def docs(seed: Long, n: Int): Docs = {
    val r = rng(seed, DocStream)
    val stop = Array("the", "a", "of", "and", "is", "in", "to", "it")
    def word(): String = if (r.nextInt(4) == 0) stop(r.nextInt(stop.length)) else "w" + r.nextInt(50000)
    val toks = Array.fill(n)(Array.fill(40 + r.nextInt(80))(word()))
    val source = Array.fill(n)("src" + r.nextInt(8))
    // disjoint groups of originals from one seeded permutation
    val perm = (0 until n).toArray
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val nPlant = n / 8
    val exactOrig = perm.slice(0, nPlant)
    val nearOrig = perm.slice(nPlant, 2 * nPlant)
    val contamOrig = perm.slice(2 * nPlant, 2 * nPlant + nPlant / 4)
    var next = n.toLong
    def fresh(): Long = { val id = next; next += 1; id }
    val exact = exactOrig.map(o => (fresh(), source(o), toks(o).mkString(" ")))
    val near = nearOrig.map { o =>
      val t = toks(o).clone()
      t(t.length / 2) = "x" + r.nextInt(1 << 30)
      (fresh(), o.toLong, source(o), t.mkString(" "))
    }
    val bench = contamOrig.zipWithIndex.map { case (o, i) =>
      val start = r.nextInt(toks(o).length - 12)
      (i.toLong, toks(o).slice(start, start + 12).mkString(" "))
    }
    val rows = Array.tabulate(n)(i => (i.toLong, source(i), toks(i).mkString(" "))) ++
      exact ++ near.map { case (id, _, s, t) => (id, s, t) }
    Docs(rows, exact.map(_._1).toSet, near.map(x => x._1 -> x._2).toMap,
      contamOrig.map(_.toLong).toSet, bench)
  }

  def writeDocs(spark: SparkSession, d: Docs, docsPath: String, benchPath: String): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(d.rows.toSeq, 4).toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(docsPath)
    d.bench.toSeq.toDF("doc_id", "text").write.mode("overwrite").parquet(benchPath)
  }
}
