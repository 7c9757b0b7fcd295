package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the calls the benchmark makes into each
  * layer. Off by default; the traced run switches it on. All work is
  * issued from one thread, so an open-span stack gives each span its
  * parent. */
object Trace {
  final case class Span(id: Int, name: String, op: Long, parent: Int,
                        startNs: Long, endNs: Long)

  @volatile var on = false
  var op = 0L
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long)]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack = (id, name, System.nanoTime()) :: stack
      try body
      finally {
        val (_, _, t0) = stack.head
        stack = stack.tail
        done += Span(id, name, op, parent, t0, System.nanoTime())
      }
    }

  def spans: Seq[Span] = done.toSeq
}

/** Task, stage and job metrics per operation, attributed by job group:
  * `onJobStart` maps its `spark.jobGroup.id` to the job's stage ids, and
  * every task is charged to the group of the stage it ran in — a task
  * that ends after its operation returned still lands on that
  * operation. Planning phases come from each query execution's
  * `QueryPlanningTracker`; the traced run drains the listener bus after
  * each operation and charges the executions seen so far to it. */
final class Profile extends SparkListener with QueryExecutionListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, peakMem = 0L
    /** Shuffle bytes from Spark's own per-stage totals, for the check
      * that task-level attribution loses and misplaces nothing. */
    var stageShuffleWrite = 0L
  }
  final case class Exec(analysisMs: Long, optimizationMs: Long,
                        planningMs: Long, durationNs: Long, ctas: Boolean)

  private val stageGroup = mutable.HashMap.empty[Int, String]
  /** The group each stage was submitted under, read from the stage's
    * own properties: an independent record of where its tasks belong. */
  private val submittedGroup = mutable.HashMap.empty[Int, String]
  private var misattributed = 0L
  private val accs = mutable.HashMap.empty[String, Acc]
  private val execs = mutable.ArrayBuffer.empty[Exec]

  private def acc(g: String): Acc = accs.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { g =>
      acc(g).jobs += 1
      e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => submittedGroup(e.stageInfo.stageId) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach { g =>
      acc(g).stages += 1
      Option(e.stageInfo.taskMetrics).foreach(m =>
        acc(g).stageShuffleWrite += m.shuffleWriteMetrics.bytesWritten)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).filter(_ => m != null).foreach { g =>
      if (!submittedGroup.get(e.stageId).contains(g)) misattributed += 1
      val a = acc(g)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(qe, 0L)

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val ctas = qe.logical.toString.contains("__ctas_tmp_")
    synchronized {
      execs += Exec(ms("analysis"), ms("optimization"), ms("planning"), durationNs, ctas)
    }
  }

  /** Executions recorded since the last call (call after a drain). */
  def takeExecs(): Seq[Exec] = synchronized {
    val r = execs.toSeq
    execs.clear()
    r
  }

  def groups: Map[String, Acc] = synchronized(accs.toMap)

  /** Tasks charged to another group than the one their stage was
    * submitted under. */
  def misattributedTasks: Long = synchronized(misattributed)
}
