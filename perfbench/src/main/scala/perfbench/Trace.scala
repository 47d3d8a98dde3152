package perfbench

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Spans of one operation share
  * `op`; `parent` is the enclosing span's id (0 at the top). */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. When `on` is false every `span` call is a plain
  * call of its body, so untraced passes run exactly the same program calls
  * without the recording. Spans are written out once, at the end of the run. */
final class Tracer {
  var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var opId = 0L

  def beginOp(): Unit = opId += 1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, opId, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Total duration and self time (duration minus the part its direct
    * children cover) per span name, in seconds, plus the call count. */
  def summary: Map[String, (Double, Double, Int)] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      val tot = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum
      n -> ((tot / 1e9, self / 1e9, ss.size))
    }
  }

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Engine counters from Spark's public listener API.
  *
  * The listener bus delivers events asynchronously, so counts read right
  * after an action could miss its last events. [[sync]] makes the read
  * deterministic: it runs a one-task marker job in its own job group and
  * blocks until this listener has seen that job's end. Events of one
  * queue are delivered in posting order, so by then every event of the
  * work before the marker has been counted. Marker jobs, stages and tasks
  * are excluded from the counts. */
final class EngineCounters extends SparkListener {
  private val MarkerGroup = "perfbench-marker"
  private val markerStages = mutable.Set.empty[Int]
  private val markerJobs = mutable.Set.empty[Int]
  private val done = new LinkedBlockingQueue[Integer]()

  // all fields are written by the listener thread and read after sync()
  @volatile var jobs, stages, tasks = 0L
  @volatile var runNs, cpuNs, gcMs, waitMs = 0L
  @volatile var shuffleWrite, shuffleRead, spill, input = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith(MarkerGroup)) {
      markerJobs += e.jobId; markerStages ++= e.stageIds
    } else jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markerJobs.remove(e.jobId)) done.put(e.jobId)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (!markerStages.contains(e.stageInfo.stageId)) stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!markerStages.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks += 1
      runNs += m.executorRunTime * 1000000L
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      // launched but not yet running: scheduler delay, deserialisation and
      // result serialisation, i.e. task duration minus executor run time
      waitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
    }
  }

  private var markers = 0
  def sync(sc: SparkContext): Unit = {
    markers += 1
    sc.setJobGroup(s"$MarkerGroup-$markers", "listener drain marker")
    val id = try {
      sc.parallelize(Seq(1), 1).count()
      markers
    } finally sc.clearJobGroup()
    val got = done.poll(60, TimeUnit.SECONDS)
    require(got != null, s"listener drain marker $id never arrived")
  }

  def snapshot: Map[String, Double] = synchronized(Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "run_s" -> runNs / 1e9, "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "wait_s" -> waitMs / 1e3, "shuffle_write_mb" -> shuffleWrite / 1048576.0,
    "shuffle_read_mb" -> shuffleRead / 1048576.0, "spill_mb" -> spill / 1048576.0,
    "input_mb" -> input / 1048576.0))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
