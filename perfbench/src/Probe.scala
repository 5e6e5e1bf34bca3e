package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters of one job group, filled from Spark's listener bus. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskDurationMs = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskDurationMs += o.taskDurationMs; taskRunMs += o.taskRunMs
    taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes; inputRows += o.inputRows
    outputBytes += o.outputBytes
  }
}

/** The traced run's instrumentation: a listener that keys Spark's job,
  * stage and task events by job group, and an in-memory span log.
  *
  * The benchmark runs every phase of a request under its own job group
  * (`<request>/<phase>`), so a Spark job is charged to the phase that
  * launched it; jobs that Spark starts on helper threads (broadcasts,
  * subqueries) inherit the caller's group. Stages carry their group in
  * their submission properties; tasks are charged through their stage.
  */
final class Probe extends SparkListener {
  private val byGroup    = mutable.HashMap.empty[String, Counts]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  @volatile private var lastJobGroup: String = ""

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def at(g: String): Counts = byGroup.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    at(group(e.properties)).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = group(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    at(g).stages += 1
    lastJobGroup = g
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    c.taskDurationMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Sum of the counters of every group whose name starts with `prefix`. */
  def counts(prefix: String): Counts = synchronized {
    val out = new Counts
    byGroup.foreach { case (g, c) => if (g.startsWith(prefix)) out += c }
    out
  }

  /** Block until the listener bus has delivered every event posted so
    * far: a marker job runs under its own group, and the bus is FIFO,
    * so once its stage is seen every earlier event has been handled. */
  def drain(sc: SparkContext): Unit = {
    val marker = s"drain-${System.nanoTime()}"
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (lastJobGroup != marker && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

/** One timed interval of the run. Spans of one request share `request`;
  * `parent` names the enclosing span ("" for a root). */
final case class Span(request: String, name: String, parent: String, startNs: Long, endNs: Long)

/** Span log, held in memory and written out once at the end of a run. */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]

  def time[A](request: String, name: String, parent: String = "")(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    val t1 = System.nanoTime()
    all += Span(request, name, parent, t0, t1)
    (a, (t1 - t0) / 1e9)
  }
}

object Jvm {
  /** Total time the JVM's collectors have run, in seconds. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Resident-set high-water mark of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  def loadAverage: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def startMillis: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
