package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `op` is the operation (batch) the call
  * belongs to — every span of one operation shares it; `parent` is the
  * enclosing span (-1 at the root). The layer is the name's first dotted
  * component (`hnsw.save` → `hnsw`).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. While `on`, every [[span]] records its interval
  * and runs its body under a Spark job group named after the span, so the
  * [[SpanListener]] can attribute the jobs the body starts to it. While
  * off, [[span]] only runs the body: the untraced path costs one branch.
  */
final class Tracer(sc: SparkContext) {
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var on = false
  var op = -1

  def spans: Seq[Span] = recorded.toSeq

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = recorded.size
      val parent = stack.headOption.getOrElse(-1)
      recorded += Span(id, parent, op, name, 0L, 0L)
      stack = id :: stack
      sc.setJobGroup(Tracer.group(id), name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        recorded(id) = Span(id, parent, op, name, t0, t1)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p), recorded(p).name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Self time of every span: its duration minus the time its direct
    * children cover (children of one span never overlap: calls are
    * sequential on the calling thread).
    */
  def selfSeconds: Map[Int, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    recorded.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    recorded.map(s => s.id -> (s.endNs - s.startNs - childNs(s.id)) / 1e9).toMap
  }

  /** Writes the spans as JSON lines. */
  def write(path: String): Unit = {
    val lines = recorded.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  def group(spanId: Int): String = GroupPrefix + spanId
  def spanOf(group: String): Option[Int] =
    if (group != null && group.startsWith(GroupPrefix)) Some(group.drop(GroupPrefix.length).toInt)
    else None
}

/** Spark work done by the jobs of one span. Times are seconds summed over
  * tasks; `maxOverMedianTask` is the worst stage's max/median task time.
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskS = 0.0
  var taskCpuS = 0.0
  var gcS = 0.0
  var taskWaitS = 0.0
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  var maxOverMedianTask = 0.0

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskS += o.taskS; taskCpuS += o.taskCpuS; gcS += o.gcS; taskWaitS += o.taskWaitS
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; inputRecords += o.inputRecords
    maxOverMedianTask = math.max(maxOverMedianTask, o.maxOverMedianTask)
  }

  /** The counters as (name, value, unit), each divided by `per` except the
    * skew ratio.
    */
  def named(per: Double): Seq[(String, Double, String)] = Seq(
    ("spark.jobs", jobs / per, "count"),
    ("spark.stages", stages / per, "count"),
    ("spark.tasks", tasks / per, "count"),
    ("spark.task_s", taskS / per, "s"),
    ("spark.task_cpu_s", taskCpuS / per, "s"),
    ("spark.gc_s", gcS / per, "s"),
    ("spark.task_wait_s", taskWaitS / per, "s"),
    ("spark.shuffle_read_bytes", shuffleReadBytes / per, "bytes"),
    ("spark.shuffle_write_bytes", shuffleWriteBytes / per, "bytes"),
    ("spark.spill_bytes", spillBytes / per, "bytes"),
    ("spark.input_records", inputRecords / per, "count"),
    ("spark.max_over_median_task", maxOverMedianTask, "ratio"))
}

/** Attributes every job, stage and task to the span whose job group was
  * set when the job started. Jobs outside any span are ignored.
  */
final class SpanListener extends SparkListener {
  private val spanOfStage = mutable.Map.empty[Int, Int]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val bySpan = mutable.Map.empty[Int, Counters]

  private def of(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    Tracer.spanOf(group).foreach { span =>
      of(span).jobs += 1
      e.stageIds.foreach(spanOfStage(_) = span)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    spanOfStage.get(e.stageId).foreach { span =>
      val c = of(span)
      c.tasks += 1
      val info = e.taskInfo
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
      Option(e.taskMetrics).foreach { m =>
        c.taskS += m.executorRunTime / 1e3
        c.taskCpuS += m.executorCpuTime / 1e9
        c.gcS += m.jvmGCTime / 1e3
        // scheduler delay as the Spark UI derives it
        c.taskWaitS += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime) / 1e3
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    spanOfStage.get(id).foreach { span =>
      val c = of(span)
      c.stages += 1
      taskMs.remove(id).filter(_.size >= 2).foreach { ms =>
        val sorted = ms.sorted
        val median = math.max(1L, sorted(sorted.size / 2))
        c.maxOverMedianTask = math.max(c.maxOverMedianTask, sorted.last.toDouble / median)
      }
    }
  }

  /** Counters per span id; call after the listener bus has drained. */
  def counters: Map[Int, Counters] = synchronized(bySpan.toMap)
}
