package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** One timed interval: `trace` is the operation it belongs to. */
final case class Span(trace: Int, id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder; written out once, when the run ends. */
final class Spans {
  val all: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  def add(trace: Int, parent: Int, name: String, t0: Long, t1: Long): Int = {
    val id = all.size
    all += Span(trace, id, parent, name, t0, t1)
    id
  }

  def toJson: String = all.map(s =>
    s"""{"trace":${s.trace},"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").mkString("[\n", ",\n", "\n]")
}

/** Scheduler totals of one job group (one operation, or one phase of it). */
final class GroupStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var input = 0L
  /** Task durations per stage, for the skew of the widest stage. */
  val taskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty

  def taskSkew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val widest = taskMs.values.maxBy(_.size).sorted
      val med = widest(widest.size / 2)
      if (med <= 0) 1.0 else widest.last.toDouble / med
    }
}

/**
 * Public `SparkListener` that attributes jobs, stages and tasks to the job
 * group the benchmark sets around each operation phase.
 */
final class JobListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, GroupStats]
  private var started = 0L
  private var ended = 0L

  private def g(name: String): GroupStats = groups.getOrElseUpdate(name, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    val name = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    g(name).jobs += 1
    e.stageIds.foreach(stageGroup(_) = name)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(n => g(n).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { n =>
      val s = g(n)
      s.tasks += 1
      s.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        s.input += m.inputMetrics.bytesRead
      }
    }
  }

  /** Waits until every started job has ended and the count holds still:
    * listener events arrive asynchronously, in order. */
  def drain(timeoutMs: Long = 20000): Unit = {
    val stop = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < stop) {
      val (s, e) = synchronized((started, ended))
      if (s != last) { last = s; stableSince = System.currentTimeMillis() }
      if (s == e && System.currentTimeMillis() - stableSince > 300) return
      Thread.sleep(20)
    }
  }

  def group(name: String): GroupStats = synchronized(groups.getOrElse(name, new GroupStats))
}

/** Node counts of an executed plan, looking through AQE stages and subqueries. */
object PlanStats {
  final case class Counts(exchanges: Int, broadcasts: Int, sortMergeJoins: Int)

  private def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => Iterator(q) ++ nodes(q.plan)
    case r: ReusedExchangeExec => Iterator(r)
    case other => Iterator(other) ++ other.children.iterator.flatMap(nodes) ++
      other.subqueries.iterator.flatMap(nodes)
  }

  def of(p: SparkPlan): Counts = {
    val all = nodes(p).toSeq
    Counts(
      all.count(_.isInstanceOf[ShuffleExchangeLike]),
      all.count(_.isInstanceOf[BroadcastExchangeLike]),
      all.count(_.isInstanceOf[SortMergeJoinExec]))
  }
}
