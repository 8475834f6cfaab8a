package kgbench

import java.lang.management.ManagementFactory
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** Spark work attributed to one span or one execution: what its jobs,
  * stages and tasks did. Every field is a plain count, bytes,
  * milliseconds or nanoseconds. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var stagesRetried = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var diskSpillBytes = 0L
  var outputBytes = 0L
  /** Input records read and executor CPU nanoseconds of each completed
    * stage (for counting corpus scans and their CPU). */
  val stageScans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Output rows per join operator, keyed by the operator's metric id. */
  val joinRows = mutable.HashMap.empty[Long, Long]

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; stagesRetried += o.stagesRetried
    tasks += o.tasks; tasksFailed += o.tasksFailed; taskRunMs += o.taskRunMs
    shuffleWriteBytes += o.shuffleWriteBytes; diskSpillBytes += o.diskSpillBytes
    outputBytes += o.outputBytes
    stageScans ++= o.stageScans
    o.joinRows.foreach { case (k, v) => joinRows(k) = joinRows.getOrElse(k, 0L) + v }
  }
}

/** One SQL execution (a Dataset action, with the executions nested in
  * it), or one job that ran outside any: the call site that started it
  * (a stack trace, innermost frame first), its physical plan, its job
  * group, its times and the work of its jobs. */
final class Execution(val callSite: String, val group: String, val startMs: Long) {
  var plan: String = ""
  var endMs: Long = startMs
  val counts = new Counts
  /** The innermost frame of the program's own code (package `graft`). */
  def programFrame: String = callSite.split('\n').find(_.startsWith("graft.")).getOrElse("")
}

/**
 * The benchmark's own SparkListener. It attributes every job to the
 * job group that was set on the submitting thread (the tracer sets one
 * per span) and counts, per group, the work of that job's stages and
 * tasks. It also follows the storage held by RDD blocks (cached and
 * checkpointed data) and keeps the peak since the last reset, and it
 * records every SQL execution with its call site, plan and counts, so
 * that the work of a program it cannot open spans in (`graft.Main`) can
 * be attributed after the fact.
 *
 * Jobs with no group set are attributed to `fallbackGroup`.
 */
final class Probe extends SparkListener {
  @volatile var fallbackGroup: String = "none"
  /** The context the probe listens to now. */
  @volatile var context: SparkContext = _

  private val byGroup = mutable.HashMap.empty[String, Counts]
  private val stageTargets = mutable.HashMap.empty[Int, Seq[Counts]]
  private val execRoot = mutable.HashMap.empty[Long, Long]
  private val execs = mutable.LinkedHashMap.empty[Long, Execution]
  private val bareJob = mutable.HashMap.empty[Int, Execution]
  private var bareJobs = 0L
  private val joinRowAccs = mutable.HashSet.empty[Long]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var storedBytes = 0L
  private var peakBytes = 0L

  private def counts(g: String): Counts = byGroup.getOrElseUpdate(g, new Counts)
  /** Counts a stage's work goes to: its job's group, and its job's
    * execution. */
  private def targetsOf(stage: Int): Seq[Counts] =
    stageTargets.getOrElse(stage, Seq(counts(fallbackGroup)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val g = prop("spark.jobGroup.id").getOrElse(fallbackGroup)
    val x = prop("spark.sql.execution.id").map(_.toLong).map(id => execRoot.getOrElse(id, id))
      .flatMap(execs.get).getOrElse {
        bareJobs += 1
        val b = new Execution(e.stageInfos.headOption.map(_.details).getOrElse(""), g, e.time)
        execs(-bareJobs) = b
        bareJob(e.jobId) = b
        b
      }
    Seq(counts(g), x.counts).foreach(_.jobs += 1)
    e.stageIds.foreach(stageTargets(_) = Seq(counts(g), x.counts))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    bareJob.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (e.stageInfo.attemptNumber() > 0) targetsOf(e.stageInfo.stageId).foreach(_.stagesRetried += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    targetsOf(e.stageInfo.stageId).foreach { c =>
      c.stages += 1
      Option(e.stageInfo.taskMetrics).foreach(m =>
        c.stageScans += ((m.inputMetrics.recordsRead, m.executorCpuTime)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    targetsOf(e.stageId).foreach { c =>
      c.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) c.tasksFailed += 1
      Option(e.taskMetrics).foreach { m =>
        c.taskRunMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.diskSpillBytes += m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
      e.taskInfo.accumulables.foreach { a =>
        if (joinRowAccs.contains(a.id)) a.update match {
          case Some(v: Long) => c.joinRows(a.id) = c.joinRows.getOrElse(a.id, 0L) + v
          case _ =>
        }
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      storedBytes += now - blockBytes.getOrElse(key, 0L)
      if (now == 0L) blockBytes.remove(key) else blockBytes(key) = now
      peakBytes = math.max(peakBytes, storedBytes)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      noteJoins(s.sparkPlanInfo)
      synchronized {
        val root = s.rootExecutionId.getOrElse(s.executionId)
        execRoot(s.executionId) = root
        val x = execs.getOrElseUpdate(root,
          new Execution(s.details, s.jobGroupId.getOrElse(fallbackGroup), s.time))
        x.plan += s.physicalPlanDescription + "\n"
      }
    case u: SparkListenerSQLAdaptiveExecutionUpdate => noteJoins(u.sparkPlanInfo)
    case d: SparkListenerSQLExecutionEnd => synchronized {
      execRoot.get(d.executionId).flatMap(execs.get).foreach(x => x.endMs = math.max(x.endMs, d.time))
    }
    case _ =>
  }

  private def noteJoins(p: SparkPlanInfo): Unit = synchronized {
    if (p.nodeName.contains("Join"))
      p.metrics.filter(_.name == "number of output rows").foreach(m => joinRowAccs += m.accumulatorId)
    p.children.foreach(noteJoins)
  }

  /** Block until every event posted so far has been handled (a stopped
    * context handled them all when it stopped). */
  def drain(): Unit = Option(context).filterNot(_.isStopped).foreach(org.apache.spark.kgbenchaccess.Bus.drain)

  /** Executions started in job group `group`, in the order they started. */
  def executionsOf(group: String): Seq[Execution] = synchronized {
    execs.values.filter(_.group == group).toSeq.sortBy(_.startMs)
  }

  def countsOf(group: String): Counts = synchronized {
    val c = new Counts; byGroup.get(group).foreach(c.add); c
  }

  /** Bytes held by RDD blocks now, in MB, once queued events are handled. */
  def storedMbNow(): Double = { drain(); synchronized(storedBytes / 1e6) }

  /** Peak stored bytes since the last call, in MB; resets the peak to the current level. */
  def takePeakMb(): Double = synchronized {
    val p = peakBytes; peakBytes = storedBytes; p / 1e6
  }
}

object Probe {
  /** CPU time of this JVM so far (every thread, user and system), in
    * seconds. Time the host steals from the virtual CPUs does not count,
    * which keeps it steady on a shared host where wall time is not. */
  def cpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** CPU time of the JIT compiler threads so far (user and system), in
    * seconds, from /proc; 0 where that is not readable. The launcher
    * keeps the compiler threads alive for the whole run
    * (-XX:-UseDynamicNumberOfCompilerThreads), so none of their time is
    * lost with an exited thread. */
  def jitCpuSeconds: Double = threadCpuSeconds.getOrElse("jit", 0.0)

  /** CPU time so far of the live threads, in seconds, by kind: the JIT
    * compiler ("jit"), the garbage collector ("gc"), Spark's task threads
    * ("task") and the rest ("other"); from /proc, empty where that is not
    * readable. */
  def threadCpuSeconds: Map[String, Double] = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten
    tasks.flatMap { t =>
      try {
        val st = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath), "UTF-8")
        val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
        val kind =
          if (comm.contains("CompilerThre")) "jit"
          else if (comm.startsWith("GC ") || comm.startsWith("G1 ") || comm == "VM Thread") "gc"
          else if (comm.startsWith("Executor task")) "task"
          else "other"
        Some(kind -> (f(11).toLong + f(12).toLong) / 100.0)
      } catch { case _: Exception => None }
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** JVM-wide garbage-collection time so far, in seconds. In local mode
    * the driver is the only executor, so this is the engine's GC. */
  def gcSeconds: Double = {
    var ms = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => ms += math.max(b.getCollectionTime, 0L))
    ms / 1e3
  }
}
