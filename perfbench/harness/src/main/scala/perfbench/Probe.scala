package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Heap watch: the largest heap left in use after any garbage collection
  * (the live set at its peak), the peak heap in use at any time, and the
  * total collection time. Installed once per JVM. */
object Heap {
  private val maxAfterGc = new AtomicLong(0L)

  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  lazy val install: Unit = {
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == "com.sun.management.gc.notification") {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          maxAfterGc.accumulateAndGet(after, math.max)
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def peakLiveMb: Double = maxAfterGc.get / 1e6

  def peakUsedMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1e6

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
}

/** Spark listener that keeps, in memory, one record per task, job and SQL
  * execution. The mix harness registers it on its own session; the
  * runner's JVM gets it through `-Dspark.extraListeners=perfbench.Probe`
  * and it writes its records as JSON to the file named by the system
  * property `perfbench.probe.out` when the application ends. With
  * `perfbench.probe.spans=false` it keeps only the heap watch and the SQL
  * executions (a few records per query), not the jobs and tasks. */
class Probe extends SparkListener {
  import Probe._

  Heap.install

  private val keepSpans =
    sys.props.getOrElse("perfbench.probe.spans", "true").toBoolean
  private val out = sys.props.get("perfbench.probe.out")

  val tasks = ArrayBuffer[Task]()
  val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
  val execs = scala.collection.mutable.LinkedHashMap[Long, Exec]()
  private val stageToJob = scala.collection.mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (keepSpans)
    synchronized {
      val p = Option(e.properties)
      val tag = p.flatMap(x => Option(x.getProperty(TagKey))).getOrElse("")
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = Job(e.jobId, tag, exec, e.time, -1L)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (keepSpans)
    synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (keepSpans) {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) synchronized {
      val job = stageToJob.getOrElse(e.stageId, -1)
      tasks += Task(job, i.launchTime, i.finishTime, m.executorRunTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit =
    e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        val path = PathRe.findFirstMatchIn(s.physicalPlanDescription)
          .map(_.group(1)).getOrElse("")
        execs(s.executionId) = Exec(s.executionId, path, s.time, -1L)
      }
      case s: SparkListenerSQLExecutionEnd => synchronized {
        execs.get(s.executionId)
          .foreach(x => execs(s.executionId) = x.copy(end = s.time))
      }
      case _ =>
    }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    out.foreach { f =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f), toJson)
    }

  /** Everything recorded, as one JSON object. */
  def toJson: String = synchronized {
    val sb = new StringBuilder("{")
    sb ++= s""""peak_live_heap_mb": ${Heap.peakLiveMb}, """
    sb ++= s""""peak_heap_mb": ${Heap.peakUsedMb}, "gc_s": ${Heap.gcSeconds}, """
    sb ++= tasks.map(_.json).mkString("\"tasks\": [", ",", "], ")
    sb ++= jobs.values.map(_.json).mkString("\"jobs\": [", ",", "], ")
    sb ++= execs.values.map(_.json).mkString("\"execs\": [", ",", "]}")
    sb.toString
  }
}

object Probe {
  /** Local property naming the unit of work (query) a job belongs to. */
  val TagKey = "perfbench.tag"

  private val PathRe = """Location: \w+ \[([^\]\s,]+)""".r

  final case class Task(job: Int, launch: Long, finish: Long, runMs: Long,
                        inBytes: Long, inRows: Long, shuffleWrite: Long,
                        shuffleRead: Long, spill: Long) {
    def json: String =
      s"[$job,$launch,$finish,$runMs,$inBytes,$inRows,$shuffleWrite," +
        s"$shuffleRead,$spill]"
  }
  final case class Job(id: Int, tag: String, exec: Long, start: Long,
                       end: Long) {
    def json: String = s"[$id,${Json.str(tag)},$exec,$start,$end]"
  }
  final case class Exec(id: Long, path: String, start: Long, end: Long) {
    def json: String = s"[$id,${Json.str(path)},$start,$end]"
  }
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
}
