package layerbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._

/** Raw observations from Spark's public listener bus. Every field is written
  * on the listener-bus thread and read by the client only after
  * `LayerbenchBridge.drainListeners`; the client then calls [[take]], so
  * each batch of records belongs to exactly one pass. The arithmetic over
  * these records (sums, scheduling delay) lives in the Python `stats`
  * module, where it is unit-tested. */
final class Probe extends SparkListener {
  private val stageOpen = mutable.Map.empty[(Int, Int), mutable.Map[String, Long]]
  private val stageTag = mutable.Map.empty[(Int, Int), String]
  private val jobOpen = mutable.Map.empty[Int, (Long, String)]
  private var stages = Vector.empty[Map[String, Any]]
  private var jobs = Vector.empty[Map[String, Any]]
  private var blockWrites = 0L
  private var blockBytes = 0L

  private def tagOf(p: java.util.Properties): String =
    Option(p).map(_.getProperty(Probe.TagKey)).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobOpen(e.jobId) = (e.time, tagOf(e.properties))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobOpen.remove(e.jobId).foreach { case (t0, tag) =>
      jobs :+= Map("id" -> e.jobId, "tag" -> tag, "start_ms" -> t0, "end_ms" -> e.time)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    stageTag(k) = tagOf(e.properties)
    stageOpen.getOrElseUpdate(k, mutable.Map.empty[String, Long].withDefaultValue(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageOpen.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.Map.empty[String, Long].withDefaultValue(0L))
    s("tasks") += 1
    s("max_task_ms") = math.max(s("max_task_ms"), e.taskInfo.duration)
    Option(e.taskMetrics).foreach { m =>
      s("run_ms") += m.executorRunTime
      s("cpu_ns") += m.executorCpuTime
      s("gc_ms") += m.jvmGCTime
      s("shuffle_read_b") += m.shuffleReadMetrics.totalBytesRead
      s("shuffle_write_b") += m.shuffleWriteMetrics.bytesWritten
      s("spill_b") += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val k = (si.stageId, si.attemptNumber())
    val s = stageOpen.remove(k).getOrElse(mutable.Map.empty[String, Long])
    stages :+= (s.toMap ++ Map(
      "tag" -> stageTag.remove(k).orNull,
      "submit_ms" -> si.submissionTime.getOrElse(0L),
      "complete_ms" -> si.completionTime.getOrElse(0L)))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      blockWrites += 1
      blockBytes += b.memSize + b.diskSize
    }
  }

  /** Records since the last call: completed stages and jobs, RDD block
    * writes. */
  def take(): Map[String, Any] = {
    val out = Map("stages" -> stages, "jobs" -> jobs,
      "block_writes" -> blockWrites, "block_write_b" -> blockBytes)
    stages = Vector.empty; jobs = Vector.empty; blockWrites = 0; blockBytes = 0
    out
  }
}

object Probe {
  /** Thread-local Spark property naming the pass, op and phase
    * (`build` or `exec`) that started a job. */
  val TagKey = "layerbench.tag"

  /** JVM-wide counters read at pass boundaries; the difference of two
    * readings is one pass's share. */
  def counters(): Map[String, Double] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
    val jit = ManagementFactory.getCompilationMXBean
    Map(
      "gc_s" -> gcMs / 1e3,
      "jit_s" -> (if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime / 1e3 else 0.0),
      "driver_cpu_s" -> ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime / 1e9,
      "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "files_listed" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble)
  }

  /** The aggregate `cpu` line of /proc/stat, parsed by the Python side. */
  def procStat(): String = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next() finally src.close()
  }

  @volatile private var sink = 0L

  /** A fixed single-thread integer loop; its time tracks how fast this
    * host runs one thread right now, independent of the program. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 20000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 29
      i += 1
    }
    sink = x
    (System.nanoTime() - t0) / 1e9
  }
}

/** Spans around the benchmark's own calls into each layer. Disabled, it
  * only runs the body; enabled, it keeps every span in memory until the
  * run ends. Times are epoch milliseconds so Spark's listener timestamps
  * share the axis. */
final class Tracer(val on: Boolean) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private var nextId = 0
  private var stack = List.empty[Int]
  var op = ""
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]

  def ms(ns: Long): Double = t0Ms + (ns - t0Ns) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val s = System.nanoTime()
      try body
      finally {
        val e = System.nanoTime()
        stack = stack.tail
        spans += Map("id" -> id, "parent" -> parent, "name" -> name, "op" -> op,
          "start_ms" -> ms(s), "end_ms" -> ms(e))
      }
    }
}

/** Minimal JSON rendering for the run's raw record. */
object Json {
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
