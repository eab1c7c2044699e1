package graftbench

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Running totals of what Spark executed. Every field only grows, so the
  * work of one operation is the difference of two snapshots taken after
  * the listener bus has drained.
  */
final case class Totals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0, spillBytes: Long = 0,
    planningMs: Long = 0, exchanges: Long = 0, broadcastJoins: Long = 0,
    commitMs: Long = 0, evictedBlocks: Long = 0) {
  def -(o: Totals): Totals = zip(o)(_ - _)
  def +(o: Totals): Totals = zip(o)(_ + _)
  private def zip(o: Totals)(f: (Long, Long) => Long): Totals = Totals(
    f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks),
    f(taskMs, o.taskMs), f(cpuNs, o.cpuNs), f(gcMs, o.gcMs),
    f(shuffleWriteBytes, o.shuffleWriteBytes), f(shuffleReadBytes, o.shuffleReadBytes),
    f(spillBytes, o.spillBytes), f(planningMs, o.planningMs), f(exchanges, o.exchanges),
    f(broadcastJoins, o.broadcastJoins), f(commitMs, o.commitMs),
    f(evictedBlocks, o.evictedBlocks))
}

/** Spark-side instrumentation of one benchmark process.
  *
  * The job/stage/task listener is installed in both modes: the untraced
  * run reads its job and shuffle-write totals at round boundaries only.
  * With `traced`, a QueryExecutionListener also records Catalyst phase
  * times, Exchange and broadcast-join counts of each executed plan and
  * output-commit time of writes, and the caller drains the bus around
  * every span so each span's work is read exactly. Spark's own status
  * store is not used for counts: it keeps only `spark.ui.retainedJobs`
  * jobs, and a pass can launch more.
  */
final class Probe(spark: SparkSession, val traced: Boolean) {
  private var t = Totals()
  /** Submission times (epoch ms) of jobs launched from the forest
    * evaluator; they mark where a train-and-evaluate call stops fitting.
    */
  private val evalJobTimes = mutable.ArrayBuffer.empty[Long]
  private val jobTimes = mutable.ArrayBuffer.empty[Long]
  private val seenExecutions = mutable.Set.empty[Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      t = t.copy(jobs = t.jobs + 1)
      if (traced) {
        jobTimes += e.time
        if (e.stageInfos.exists(_.details.contains("graft.ml.Trainers$.resultsFrame")))
          evalJobTimes += e.time
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Probe.this.synchronized { t = t.copy(stages = t.stages + 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      val m = e.taskMetrics
      if (m == null) t = t.copy(tasks = t.tasks + 1)
      else t = t.copy(
        tasks = t.tasks + 1,
        taskMs = t.taskMs + m.executorRunTime,
        cpuNs = t.cpuNs + m.executorCpuTime,
        gcMs = t.gcMs + m.jvmGCTime,
        shuffleWriteBytes = t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = t.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        spillBytes = t.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    // A cached RDD block reported with nothing in memory was dropped from
    // memory, or put straight on disk, for want of storage memory.
    // Unpersisting removes blocks without reporting them, so this counts
    // memory-pressure evictions only.
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.memSize == 0)
        Probe.this.synchronized { t = t.copy(evictedBlocks = t.evictedBlocks + 1) }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planningMs = qe.tracker.phases.values.map(_.durationMs).sum
      val nodes = Probe.planNodes(qe.executedPlan)
      val exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeExec]).toLong
      val bcast = nodes.count {
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true
        case _ => false
      }.toLong
      val commit = nodes.collect { case w: DataWritingCommandExec =>
        Seq("taskCommitTime", "jobCommitTime").flatMap(w.cmd.metrics.get).map(_.value).sum
      }.sum
      Probe.this.synchronized {
        if (seenExecutions.add(qe.id)) t = t.copy(
          planningMs = t.planningMs + planningMs,
          exchanges = t.exchanges + exchanges,
          broadcastJoins = t.broadcastJoins + bcast,
          commitMs = t.commitMs + commit)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  if (traced) spark.listenerManager.register(qeListener)

  /** Totals after every event queued so far has been delivered. */
  def snapshot(): Totals = {
    BenchAccess.drainListeners(spark.sparkContext)
    synchronized(t)
  }

  /** A span's reading: drained totals when traced, nothing otherwise. */
  private def spanReading(): Totals = if (traced) snapshot() else Totals()

  /** Runs `body`; in traced mode returns its wall seconds, the work it
    * launched and its start/end epoch ms. Untraced, only the wall time.
    */
  def span[A](body: => A): (A, Span) = {
    val before = spanReading()
    val (ms0, t0) = (System.currentTimeMillis(), System.nanoTime())
    val out = body
    val (t1, ms1) = (System.nanoTime(), System.currentTimeMillis())
    (out, Span((t1 - t0) / 1e9, spanReading() - before, ms0, ms1))
  }

  /** First evaluator job submitted inside [fromMs, toMs], and the number
    * of jobs submitted in that window before it.
    */
  def evaluatorSplit(fromMs: Long, toMs: Long): Option[(Long, Int)] = synchronized {
    evalJobTimes.filter(x => x >= fromMs && x <= toMs).minOption.map { first =>
      (first, jobTimes.count(x => x >= fromMs && x < first))
    }
  }

  /** CacheManager entries plus persisted RDDs currently held. */
  def cacheEntries(): Int = {
    val f = classOf[org.apache.spark.sql.execution.CacheManager].getDeclaredField("cachedData")
    f.setAccessible(true)
    val cached = f.get(spark.sharedState.cacheManager).asInstanceOf[Seq[_]].size
    cached + spark.sparkContext.getPersistentRDDs.size
  }
}

final case class Span(wallS: Double, work: Totals, startMs: Long, endMs: Long)

object Probe {
  /** Every physical node of an executed plan, looking through adaptive
    * wrappers, query stages and command results; a reused exchange is
    * kept as itself, so a shuffle is counted where it ran.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case c: CommandResultExec => planNodes(c.commandPhysicalPlan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}
