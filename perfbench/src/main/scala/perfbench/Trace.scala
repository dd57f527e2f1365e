package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SparkPlan, ReusedSubqueryExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-operation counters filled by the benchmark's listeners. */
final class OpCounters {
  val jobs = mutable.ArrayBuffer.empty[JobRecord]
  var stages, tasks = 0L
  var taskCpuNs, taskRunMs, gcMs, maxTaskMs = 0L
  var shuffleWriteB, spillB, inputB, recordsRead, outputB = 0L
  var batches, streamInputRows, stateRows = 0L
  var batchMs = 0L
}

final case class JobRecord(phase: String, startMs: Long, var endMs: Long,
                           stageNames: Seq[String], var wroteOutput: Boolean = false)

/** Spark and streaming listeners that attribute work to the operation
  * running now. Jobs carry the operation in their job group (set by the
  * driver around each operation) and the phase in a local property;
  * stages and tasks are tied to their job's operation. */
final class LayerListener extends SparkListener {
  val ops = new ConcurrentHashMap[String, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, (OpCounters, JobRecord)]()
  private val jobOp = new ConcurrentHashMap[Int, JobRecord]()
  @volatile var currentOp: String = ""

  private def counters(op: String): OpCounters = ops.computeIfAbsent(op, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (op.isEmpty) return
    val phase = props.flatMap(p => Option(p.getProperty(Trace.PhaseKey))).getOrElse("")
    val c = counters(op)
    val rec = JobRecord(phase, e.time, e.time, e.stageInfos.map(_.name))
    c.synchronized(c.jobs += rec)
    jobOp.put(e.jobId, rec)
    e.stageIds.foreach(s => stageOp.put(s, (c, rec)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOp.remove(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { case (c, _) =>
      c.synchronized {
        c.tasks += 1
        if (e.taskInfo != null) c.maxTaskMs = c.maxTaskMs.max(e.taskInfo.duration)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.remove(e.stageInfo.stageId)).foreach { case (c, job) =>
      val m = e.stageInfo.taskMetrics
      c.synchronized {
        c.stages += 1
        if (m != null) {
          c.taskCpuNs += m.executorCpuTime
          c.taskRunMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.spillB += m.diskBytesSpilled
          c.inputB += m.inputMetrics.bytesRead
          c.recordsRead += m.inputMetrics.recordsRead
          c.outputB += m.outputMetrics.bytesWritten
          if (m.outputMetrics.bytesWritten > 0) job.wroteOutput = true
        }
      }
    }

  /** Streaming progress is posted while the stream runs inside the
    * operation's construction, before the driver moves to the next
    * operation (the bus is drained between operations). */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val op = currentOp
      if (op.isEmpty) return
      val c = counters(op)
      val p = e.progress
      c.synchronized {
        c.batches += 1
        c.batchMs += Option(p.batchDuration).getOrElse(0L)
        c.streamInputRows += p.numInputRows
        c.stateRows += p.stateOperators.map(_.numRowsTotal).sum
      }
    }
  }
}

object Trace {
  val PhaseKey = "perfbench.phase"

  /** Operator counts of an executed plan, looking through adaptive
    * execution's final plan, query stages and subqueries. */
  final case class PlanShape(nodes: Int, exchanges: Int, rtreeJoins: Int, nestedLoops: Int)

  def planShape(plan: SparkPlan): PlanShape = {
    val all = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => all += r
      case r: ReusedSubqueryExec => all += r
      case other =>
        all += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    val names = all.map(_.getClass.getSimpleName)
    PlanShape(
      nodes = all.size,
      exchanges = names.count(n => n.endsWith("ExchangeExec") && !n.startsWith("Reused")),
      rtreeJoins = names.count(_.contains("RTree")),
      nestedLoops = names.count(n => n.contains("NestedLoopJoin") || n.contains("CartesianProduct")))
  }

  /** A job launched during construction whose stages are all file reads
    * (call site `parquet at …` and the like): schema inference. */
  private val ReadCalls = Seq("parquet at ", "load at ", "csv at ", "json at ", "orc at ", "text at ", "table at ")
  def isSchemaJob(j: JobRecord): Boolean =
    j.phase == "construct" && j.stageNames.nonEmpty &&
      j.stageNames.forall(n => ReadCalls.exists(n.startsWith))
}
