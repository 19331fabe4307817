package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One traced interval. Times are wall-clock milliseconds. */
final case class Span(id: Int, parent: Int, kind: String, gate: String,
                      start: Long, end: Long) {
  def ms: Long = end - start
}

/** Local properties that tag every Spark job with the gate and the phase
 *  that submitted it. Threads started by a gate (stream executions)
 *  inherit them. */
object Tags {
  val Gate = "perfbench.gate"
  val Phase = "perfbench.phase"
}

/** Listener-side records for one traced pass: Spark jobs, stages and
 *  tasks, RDD block updates, Catalyst phase times of the final writes and
 *  streaming progress. Everything is read from Spark's public listener
 *  interfaces; nothing inside the library is changed. */
final class Probe(spark: SparkSession) {
  final case class Job(id: Int, gate: String, phase: String, start: Long, var end: Long = -1L)
  final class Acc {
    var tasks, runMs, cpuNs, shRead, shWrite, spill, inRows, inBytes, outRows, outBytes, outTaskMs = 0L
  }
  final case class Trigger(gate: String, start: Long, ms: Long, rows: Long,
                           durations: Map[String, Long], stateRows: Long,
                           stateMem: Long, stateCommitMs: Long)

  val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.Map.empty[Int, Job]
  private val stagePhase = mutable.Map.empty[Int, (String, String)]
  val stages = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** Task totals per phase (`build`, `exec`, `check`). */
  val acc = mutable.Map.empty[String, Acc]
  val rddBlocks = mutable.Map.empty[(Int, String), Long]
  /** Catalyst phase summaries of every final noop write, in order. */
  val writes = new ConcurrentLinkedQueue[Map[String, (Long, Long)]]()
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  private val queryGate = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
  @volatile var currentGate: String = ""

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      val gate = p.flatMap(x => Option(x.getProperty(Tags.Gate))).getOrElse("")
      val phase = p.flatMap(x => Option(x.getProperty(Tags.Phase))).getOrElse("other")
      val j = Job(e.jobId, gate, phase, e.time)
      jobs += j; jobById(e.jobId) = j
      e.stageIds.foreach(s => stagePhase.getOrElseUpdate(s, (gate, phase)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobById.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages(phaseOf(e.stageInfo.stageId)) += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = acc.getOrElseUpdate(phaseOf(e.stageId), new Acc)
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inRows += m.inputMetrics.recordsRead
        a.inBytes += m.inputMetrics.bytesRead
        a.outRows += m.outputMetrics.recordsWritten
        a.outBytes += m.outputMetrics.bytesWritten
        if (m.outputMetrics.bytesWritten > 0) a.outTaskMs += m.executorRunTime
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val i = e.blockUpdatedInfo
      i.blockId match {
        case RDDBlockId(rdd, split) if i.storageLevel.isValid =>
          rddBlocks((rdd, split.toString)) = i.memSize + i.diskSize
        case _ =>
      }
    }
  }

  private def phaseOf(stage: Int): String = stagePhase.get(stage).map(_._2).getOrElse("other")

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (isNoopWrite(qe))
        writes.add(qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) })
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def isNoopWrite(qe: QueryExecution): Boolean = qe.logical match {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation => r.table.name() == "noop-table"
      case _ => false
    }
    case _ => false
  }

  private val streamListener = new StreamingQueryListener {
    // Called synchronously by the thread that starts the query, i.e. while
    // the gate that owns the query is being built.
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queryGate.put(e.runId, currentGate)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val ops = p.stateOperators.toSeq
      triggers.add(Trigger(Option(queryGate.get(p.runId)).getOrElse(""),
        java.time.Instant.parse(p.timestamp).toEpochMilli, d.getOrElse("triggerExecution", 0L),
        p.numInputRows, d, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Delivers every pending event, then detaches the listeners. */
  def uninstall(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def phaseAcc(phase: String): Acc = acc.getOrElse(phase, new Acc)
}

/** Process-level readings: CPU, JIT, GC, heap, resident memory, codegen
 *  and the host's noise indicators. */
object Process {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  /** Peak resident set of this process (`VmHWM`), in MiB. */
  def peakRssMb: Double = statusKb("VmHWM") / 1024.0

  /** Restarts the peak resident set from the current resident set. */
  def resetPeakRss(): Unit = java.nio.file.Files.writeString(Path.of("/proc/self/clear_refs"), "5")

  private def statusKb(key: String): Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status")) { s =>
      s.getLines().find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    }

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}

/** Host noise counters read from /proc: CPU ticks (all, idle and
 *  iowait, stolen by the hypervisor) and CPU / IO pressure stall time. A
 *  reading is absent when the file is. */
final case class Noise(total: Long, idle: Long, steal: Long, cpuSomeUs: Long, ioSomeUs: Long) {
  def -(o: Noise): Noise = Noise(total - o.total, idle - o.idle, steal - o.steal,
    cpuSomeUs - o.cpuSomeUs, ioSomeUs - o.ioSomeUs)

  /** The share of the ticks the CPUs wanted to run that the hypervisor
   *  gave to other guests instead: steal / (busy + steal). An idle vCPU
   *  accrues no steal, so this is the share of running time taken away
   *  from the work that was in progress. */
  def stolenShare: Double = {
    val wanted = total - idle
    if (wanted > 0) steal.toDouble / wanted else 0.0
  }

  /** `wallNs` less the share of it that was stolen, in seconds: the
   *  interval as the same work would take it on CPUs of its own. */
  def unstolenS(wallNs: Long): Double = wallNs / 1e9 * (1.0 - stolenShare)
}

object Noise {
  def read(): Noise = {
    val cpu = lines("/proc/stat").find(_.startsWith("cpu ")).map(_.trim.split("\\s+").drop(1).map(_.toLong))
      .getOrElse(Array.empty[Long])
    def field(i: Int) = cpu.lift(i).getOrElse(0L)
    Noise(cpu.take(8).sum, field(3) + field(4), field(7), psiSome("cpu"), psiSome("io"))
  }

  private def psiSome(res: String): Long = lines(s"/proc/pressure/$res")
    .find(_.startsWith("some")).flatMap(_.split("\\s+").find(_.startsWith("total=")))
    .map(_.stripPrefix("total=").toLong).getOrElse(0L)

  private def lines(path: String): Seq[String] =
    try scala.util.Using.resource(scala.io.Source.fromFile(path))(_.getLines().toList)
    catch { case _: java.io.IOException => Nil }
}
