package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One span: a layer boundary crossed by the benchmark. Spans of one job
  * share `trace`; `parent` is the enclosing span's id, or -1. */
final case class Span(id: Int, trace: Int, parent: Int, layer: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out in one piece; nothing is written while jobs are timed. A
  * disabled tracer (`Tracer.off`, used for the end-to-end runs) records
  * nothing. */
final class Tracer(enabled: Boolean = true) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 0
  private var nextTrace = 0

  /** Starts a new trace id: every span opened until the next call shares it. */
  def newTrace(): Int = { nextTrace += 1; nextTrace }

  def span[T](layer: String)(body: => T): T = if (!enabled) body else {
    val parent = stack.headOption
    val open = Span(nextId, nextTrace, parent.map(_.id).getOrElse(-1), layer,
      System.nanoTime(), 0L)
    nextId += 1
    stack = open :: stack
    try body finally {
      stack = stack.tail
      spans += open.copy(endNs = System.nanoTime())
    }
  }

  /** Durations of the spans named `layer`, in seconds. */
  def seconds(layer: String): Seq[Double] = spans.filter(_.layer == layer).map(_.seconds).toSeq

  /** Duration of `s` minus the part of it covered by its direct children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .toSeq.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) { covered += b - from; end = b }
    }
    s.seconds - covered / 1e9
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    val lines = spans.sortBy(_.id).map { s =>
      org.json4s.jackson.Serialization.write(Map("id" -> s.id, "trace" -> s.trace,
        "parent" -> s.parent, "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> selfSeconds(s))) + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString)
  }
}

object Tracer {
  val off = new Tracer(enabled = false)
}

/** Task metrics of one job group, summed over its tasks. */
final case class ExecMetrics(tasks: Int, runS: Double, cpuS: Double, gcS: Double,
    shuffleWriteMb: Double, shuffleWriteS: Double, shuffleRecords: Long, fetchWaitS: Double,
    spillMb: Double, taskSkew: Double)

/**
 * Collects task metrics per job group through Spark's public listener API.
 * Stages are mapped to their group when submitted; `await` runs a marker
 * job and returns once the listener has seen it start, which (the bus being
 * ordered) means every event of the groups before it has been handled.
 */
final class TaskListener extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val taskRun = mutable.Map[String, mutable.ArrayBuffer[Long]]()
  private val sums = mutable.Map[String, Array[Double]]()
  @volatile private var ended = Set.empty[String]

  private def group(props: java.util.Properties): String =
    if (props == null) null else props.getProperty("spark.jobGroup.id")

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = group(e.properties)
    if (g != null) stageGroup.put(e.stageInfo.stageId, g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      taskRun.getOrElseUpdate(g, mutable.ArrayBuffer()) += m.executorRunTime
      val s = sums.getOrElseUpdate(g, new Array[Double](8))
      s(0) += m.executorRunTime / 1e3
      s(1) += m.executorCpuTime / 1e9
      s(2) += m.jvmGCTime / 1e3
      s(3) += m.shuffleWriteMetrics.bytesWritten / 1e6
      s(4) += m.shuffleWriteMetrics.recordsWritten
      s(5) += m.shuffleReadMetrics.fetchWaitTime / 1e3
      s(6) += m.diskBytesSpilled / 1e6
      s(7) += m.shuffleWriteMetrics.writeTime / 1e9
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = group(e.properties)
    if (g != null && g.startsWith("marker-")) ended += g
  }

  def await(sc: SparkContext, tag: String): Unit = {
    val g = s"marker-$tag"
    sc.setJobGroup(g, "listener drain marker")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (!ended.contains(g)) {
      require(System.nanoTime() < deadline, "listener bus did not drain within 30 s")
      Thread.sleep(5)
    }
  }

  def metrics(g: String): ExecMetrics = synchronized {
    val s = sums.getOrElse(g, new Array[Double](8))
    val runs = taskRun.getOrElse(g, mutable.ArrayBuffer()).sorted
    val skew =
      if (runs.isEmpty) 0.0
      else runs.last.toDouble / math.max(1L, runs(runs.length / 2)).toDouble
    ExecMetrics(runs.length, s(0), s(1), s(2), s(3), s(7), s(4).toLong, s(5), s(6), skew)
  }
}
