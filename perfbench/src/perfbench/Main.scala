package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

/** Times of the operations of one closed-loop window. In a traced run the
  * operations alternate untraced / traced, so both halves see the same
  * JVM state and their difference is the tracing overhead.
  */
final case class Loop(untraced: Seq[Double], traced: Seq[Double]) {
  def all: Seq[Double] = untraced ++ traced
}

/** State and bookkeeping of one benchmark run: operation accounting,
  * the timed window, tracing, and the metrics it reports.
  */
final class Run(val spark: SparkSession, val o: Opts) {
  val sc = spark.sparkContext
  val tracer = new Tracer(sc)
  val listener: Option[SpanListener] =
    if (o.trace) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None
  var attempted = 0L
  var failed = 0L
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def path(rel: String): String = s"${o.work}/$rel"

  /** One operation: attempted, and failed when it throws or returns false. */
  def attempt(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try body
      catch {
        case NonFatal(t) =>
          System.err.println(s"[perfbench] $what threw")
          t.printStackTrace()
          false
      }
    if (!ok) { failed += 1; System.err.println(s"[perfbench] $what failed its check") }
    ok
  }

  /** Fails the run's check `what` unless `ok`; prints why. */
  def expect(ok: Boolean, what: => String): Boolean = {
    if (!ok) System.err.println(s"[perfbench] check: $what")
    ok
  }

  /** Frees every cached frame and checkpoint between operations, so no
    * operation inherits storage from the one before.
    */
  def release(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Runs the set-up `reps` times and reports the median as `setup_s`. */
  def setup(reps: Int)(body: => Unit): Unit = {
    val times = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      body
      release()
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"[perfbench] setup runs: ${times.map(t => f"$t%.2f").mkString(" ")} s")
    put("setup_s", Stats.median(times), "s")
  }

  /** Closed loop: one client issues `op` again as soon as it returns.
    * The first `warmup` operations are untimed (the JIT and Spark's code
    * generation warm up on them); then operations run until the window
    * has elapsed and at least `minOps` ran. `op` does the timed work and
    * returns the untimed check of its output. `maxOps` caps the loop at
    * the inputs generated for it. In a traced run the timed operations
    * alternate untraced / traced.
    */
  def loop(warmup: Int, minOps: Int, maxOps: Int = Int.MaxValue)(op: Int => (() => Boolean)): Loop = {
    val untraced, traced = mutable.ArrayBuffer.empty[Double]
    val least = warmup + (if (o.trace) math.max(2, minOps) else minOps)
    var t0 = System.nanoTime()
    var i = 0
    var going = true
    while (going && i < maxOps && (System.nanoTime() - t0 < o.seconds * 1000000000L || i < least)) {
      if (i == warmup) t0 = System.nanoTime()
      val isTraced = o.trace && i >= warmup && (i - warmup) % 2 == 1
      tracer.on = isTraced
      tracer.op = i
      var dt = 0.0
      going = attempt(s"operation $i") {
        val s = System.nanoTime()
        val check = tracer.span("bench.op")(op(i))
        dt = (System.nanoTime() - s) / 1e9
        tracer.on = false
        check()
      }
      tracer.on = false
      if (i >= warmup) (if (isTraced) traced else untraced) += dt
      release()
      i += 1
    }
    tracer.op = -1
    System.err.println(s"[perfbench] ${o.workload}: $i operations ($warmup warm-up), timed: " +
      (untraced ++ traced).map(t => f"$t%.3f").mkString(" ") + " s")
    Loop(untraced.toSeq, traced.toSeq)
  }

  /** Runs `body` traced (in a traced run) outside the operation loop. */
  def traced[T](body: => T): T = {
    tracer.on = o.trace
    try body finally tracer.on = false
  }

  /** The result line: outcome counts and every metric with its unit. */
  def resultJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Stats.num(v)},"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$ms}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Main {
  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"))
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.1f s $what")
    val spark = session(o.work)
    mark("session")
    val run = new Run(spark, o)
    val workload: Workload = o.workload match {
      case "serve"   => new ServeWorkload(run)
      case "ingest"  => new IngestWorkload(run)
      case "prepare" => new PrepareWorkload(run)
      case w         => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val complete = run.attempt(s"workload ${o.workload}") { workload.run(); true }
    if (complete && o.trace) Layers.report(run, workload)
    mark("workload done")
    println("PERFBENCH_RESULT " + run.resultJson)
    spark.stop()
    mark("stopped")
  }
}
