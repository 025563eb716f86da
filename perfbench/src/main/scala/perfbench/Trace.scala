package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Totals of one layer over one pass. Times are seconds, sizes bytes. */
final class Counters {
  var jobs = 0L
  var tablesJobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskS = 0.0
  var cpuS = 0.0
  var gcS = 0.0
  var fetchWaitS = 0.0
  var oneTaskStageS = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRows = 0L
}

/** One Spark job: its `<key>/<phase>` span ("" if none) and its start and
  * end in epoch ms, as the scheduler stamped them. */
final case class JobSpan(span: String, startMs: Long, endMs: Long)

/** Everything the listeners saw during one pass. */
final class PassTrace {
  /** By layer: "build", "plan", "exec", or "other" (no benchmark group). */
  val layers = mutable.Map.empty[String, Counters]
  def layer(l: String): Counters = layers.getOrElseUpdate(l, new Counters)
  val jobs = mutable.ArrayBuffer.empty[JobSpan]
  var exchanges = 0L
  var streamBatches = 0L
  val streamBatchMs = mutable.ArrayBuffer.empty[Double]
  var streamPlanningMs = 0.0
  var streamWalMs = 0.0
  var streamStateRows = 0L
}

/** Spark's public listener APIs, attached for each traced pass.
  * Spans go key -> phase -> job -> stage: each key call runs its phases
  * under the job group `<key>/<phase>`, every job and stage inherits the
  * group, and task metrics are summed onto the stage's group. The span
  * is read from [[Trace.SpanProperty]], which holds the same value: a
  * streaming query's thread replaces the job group with its run id but
  * inherits the property, so its micro-batch jobs count toward the build
  * that started the query. Jobs without a span land in "other". */
final class Trace(spark: SparkSession) {
  private var cur = new PassTrace
  private val stageLayer = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]

  private def spanOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Trace.SpanProperty))).getOrElse("")

  private def layerOf(span: String): String =
    if (span.isEmpty) "other" else span.substring(span.lastIndexOf('/') + 1)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = spanOf(e.properties)
      val l = layerOf(span)
      jobStart(e.jobId) = (span, e.time)
      e.stageIds.foreach(stageLayer(_) = l)
      val c = cur.layer(l)
      c.jobs += 1
      // the short call site names the first engine frame outside Spark
      if (e.stageInfos.exists(_.name.contains("Tables.scala"))) c.tablesJobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (span, t0) => cur.jobs += JobSpan(span, t0, e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val c = cur.layer(stageLayer.getOrElse(i.stageId, "other"))
      c.stages += 1
      if (i.numTasks == 1)
        for (s <- i.submissionTime; f <- i.completionTime) c.oneTaskStageS += (f - s) / 1e3
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = cur.layer(stageLayer.getOrElse(e.stageId, "other"))
      c.tasks += 1
      c.taskS += e.taskInfo.duration / 1e3
      val m = e.taskMetrics
      if (m != null) {
        c.cpuS += m.executorCpuTime / 1e9
        c.gcS += m.jvmGCTime / 1e3
        c.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      if (Trace.isNoopWrite(qe))
        synchronized { cur.exchanges += Trace.exchanges(qe.executedPlan) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      cur.streamBatches += 1
      cur.streamBatchMs += p.batchDuration.toDouble
      def dur(k: String): Double =
        Option(p.durationMs).flatMap(d => Option(d.get(k))).map(_.doubleValue).getOrElse(0.0)
      cur.streamPlanningMs += dur("queryPlanning")
      cur.streamWalMs += dur("walCommit")
      cur.streamStateRows += Option(p.stateOperators).map(_.map(_.numRowsTotal).sum).getOrElse(0L)
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Drains the listener bus, detaches the listeners and hands back the
    * finished pass. */
  def detach(): PassTrace = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    synchronized { val done = cur; cur = new PassTrace; stageLayer.clear(); jobStart.clear(); done }
  }
}

object Trace {
  val Phases = Set("build", "plan", "exec")
  /** Local property holding the running call's `<key>/<phase>`. */
  val SpanProperty = "perfbench.span"

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case c: CommandResultExec => Seq(c.commandPhysicalPlan)
    case other => other.children ++ other.subqueries
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(nodes)

  /** Exchange nodes (shuffle and broadcast) in the plan as it finally
    * ran: AQE's final plan and its query stages are walked too. */
  def exchanges(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[Exchange])

  /** The benchmark's own sink: a V2 write into the `noop` source. */
  def isNoopWrite(qe: QueryExecution): Boolean = qe.analyzed match {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation => r.table.getClass.getName.endsWith("NoopTable$")
      case _ => false
    }
    case _ => false
  }
}
