package graft.obs

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** The one task-metric ledger: per-job-group, per-stage task metrics
  * accumulated by a single lazily installed SparkListener. Every
  * measurement reads it — `graft.Bench`'s compute/cpu/gc columns,
  * `graft.Measure`'s per-query rows and the per-request
  * [[graft.api.ExplainProfile]] tree.
  *
  * A caller registers a job group with [[begin]] BEFORE its jobs run,
  * then either [[take]]s the group's totals or [[release]]s it. Only
  * stages of registered groups accumulate: once installed, the per-task
  * cost for other traffic is one ConcurrentHashMap miss, and a process
  * that never calls [[begin]] never installs the listener at all.
  *
  * Per stage it keeps tasks, run time (executorRunTime + deserialize +
  * result-serialize: task wall on the executor thread), CPU ns
  * (executorCpuTime: immune to waiting for a core), GC ms, input
  * bytes/rows, shuffle read/write bytes and spill bytes. Run time up
  * with CPU flat pins host steal or IO stall, not code.
  *
  * Listener events arrive asynchronously on the bus, so readers
  * [[drain]] (bounded) before [[take]]. Jobs whose start event lands
  * after their group was released are deliberately uncounted.
  */
object TaskLedger {

  final class StageStats {
    val tasks = new LongAdder
    val runMs = new LongAdder
    val cpuNs = new LongAdder
    val gcMs = new LongAdder
    val inputBytes = new LongAdder
    val inputRows = new LongAdder
    val shuffleReadBytes = new LongAdder
    val shuffleWriteBytes = new LongAdder
    val spillBytes = new LongAdder
  }

  private final class Live {
    // insertion-ordered job -> stage ids (tiny)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Seq[Int])]
    val stages = new ConcurrentHashMap[Int, StageStats]()
  }

  /** A released group: its jobs in start order (each with its stage
    * ids) and the per-stage metrics.
    */
  final case class Group(jobs: Seq[(Int, Seq[Int])], stages: Map[Int, StageStats]) {
    private def total(f: StageStats => LongAdder): Long =
      stages.valuesIterator.map(s => f(s).sum()).sum
    def runMs: Long = total(_.runMs)
    def cpuNs: Long = total(_.cpuNs)
    def gcMs: Long = total(_.gcMs)
  }

  private val groups = new ConcurrentHashMap[String, Live]()
  private val stageToGroup = new ConcurrentHashMap[Int, Live]()
  private val begun = new AtomicLong
  // the context the listener is installed on — a later context in the
  // same JVM gets its own listener
  @volatile private var installedOn: SparkContext = _

  /** (groups, stage registrations): both drain to zero after take/release. */
  private[graft] def registrySize: (Int, Int) =
    (groups.size, stageToGroup.size)

  /** Groups ever registered: [[begin]] is the only path that installs. */
  private[graft] def begins: Long = begun.get()

  private[graft] def installed(sc: SparkContext): Boolean = installedOn eq sc

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val gid = Option(e.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull
      val g = if (gid == null) null else groups.get(gid)
      if (g != null) {
        val stageIds = e.stageInfos.map(_.stageId)
        g.jobs.add((e.jobId, stageIds)): Unit
        stageIds.foreach { sid =>
          stageToGroup.put(sid, g)
          g.stages.putIfAbsent(sid, new StageStats): Unit
        }
        // release() may have swept g.stages BETWEEN the get above and
        // these puts — its keySet walk then missed the fresh stage ids,
        // leaking them in stageToGroup forever. After all puts are
        // visible, re-check membership: whichever of this re-check /
        // release's sweep runs second sees the complete picture, and
        // remove(sid, g) is idempotent and never clobbers a later group
        // that reused a stage id.
        if (groups.get(gid) ne g)
          stageIds.foreach(sid => stageToGroup.remove(sid, g): Unit)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageToGroup.get(e.stageId)
      if (g != null) {
        val sp = g.stages.get(e.stageId)
        val m = e.taskMetrics
        if (sp != null && m != null) {
          sp.tasks.increment()
          sp.runMs.add(m.executorRunTime + m.executorDeserializeTime +
            m.resultSerializationTime)
          sp.cpuNs.add(m.executorCpuTime)
          sp.gcMs.add(m.jvmGCTime)
          sp.inputBytes.add(m.inputMetrics.bytesRead)
          sp.inputRows.add(m.inputMetrics.recordsRead)
          sp.shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
          sp.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
          sp.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }
  }

  private def install(sc: SparkContext): Unit =
    if (installedOn ne sc) synchronized {
      if (installedOn ne sc) {
        sc.addSparkListener(Listener)
        installedOn = sc
      }
    }

  /** Starts accumulating the job group (call before its jobs run). */
  def begin(sc: SparkContext, groupId: String): Unit = {
    install(sc)
    begun.incrementAndGet()
    groups.put(groupId, new Live): Unit
  }

  private def unregister(g: Live): Unit =
    g.stages.keySet.forEach(sid => stageToGroup.remove(sid, g): Unit)

  /** Drops a group's registrations without reading them (idempotent,
    * and a no-op after [[take]]).
    */
  def release(groupId: String): Unit = {
    val g = groups.remove(groupId)
    if (g != null) unregister(g)
  }

  /** Waits (bounded) until the listener bus has delivered every event
    * posted so far; false on timeout or when nothing is installed.
    */
  def drain(timeoutMs: Long): Boolean = {
    val sc = installedOn
    sc != null &&
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc, timeoutMs)
  }

  /** Releases the group and returns what it accumulated; None when
    * [[begin]] was never called for it (or it was already released).
    */
  def take(groupId: String): Option[Group] =
    Option(groups.remove(groupId)).map { g =>
      unregister(g)
      import scala.jdk.CollectionConverters._
      Group(g.jobs.asScala.toSeq, g.stages.asScala.toMap)
    }
}
