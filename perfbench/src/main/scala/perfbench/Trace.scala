package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A named interval of the benchmark's own code around one public call, with
  * the engine counters of the work it caused. Counters are inclusive: an
  * event counts for its span and every enclosing span. */
final class Span(val id: Int, val name: String, val parent: Option[Span]) {
  var startNs = 0L
  var endNs = 0L
  var endWallMs = 0L
  def seconds: Double = (endNs - startNs) / 1e9

  val count = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Latest job end (epoch ms) seen inside the span. */
  var lastJobEndMs = 0L
  /** Per stage: task durations (ms) and shuffle bytes read, for skew. */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageShuffleRead = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  /** Per streaming query: state rows in its latest progress. */
  val stateRows = mutable.Map.empty[java.util.UUID, Long]

  def chain: List[Span] = this :: parent.map(_.chain).getOrElse(Nil)

  /** max / median task time in the stage that read the most shuffle bytes
    * (1.0 when the span read no shuffle). */
  def taskSkew: Double =
    if (stageShuffleRead.isEmpty) 1.0
    else {
      val widest = stageShuffleRead.maxBy(_._2)._1
      val ms = stageTaskMs.getOrElse(widest, mutable.ArrayBuffer(1L)).map(_.toDouble)
      ms.max / math.max(1.0, Stats.median(ms.toSeq))
    }
}

/** Records spans around the benchmark's calls into the program and collects
  * engine counters inside them through a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener. Each span runs under
  * its own job group, which attributes jobs (and their stages and tasks) to
  * it; events from threads outside the span's job group (streaming
  * micro-batches) and query-execution events go to the innermost open span.
  * The listener bus is drained before a span closes. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var nextId = 0
  @volatile private var current: Option[Span] = None
  private val byGroup = mutable.Map.empty[String, Span]
  private val stageSpan = mutable.Map.empty[Int, Span]

  private def add(s: Span, key: String, v: Double): Unit =
    s.chain.foreach(x => x.count(key) += v)

  private def groupOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).flatMap(byGroup.get)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      groupOf(e.properties).orElse(current).foreach { s =>
        add(s, "jobs", 1)
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      current.foreach(_.chain.foreach(x => x.lastJobEndMs = math.max(x.lastJobEndMs, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageInfo.stageId).orElse(current).foreach(add(_, "stages", 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).orElse(current).foreach { s =>
        add(s, "tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          val read = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          add(s, "shuffle_read_bytes", read.toDouble)
          add(s, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(s, "shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
          add(s, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add(s, "fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          add(s, "gc_s", m.jvmGCTime / 1e3)
          add(s, "cpu_s", m.executorCpuTime / 1e9)
          s.chain.foreach { x =>
            x.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
            if (read > 0) x.stageShuffleRead(e.stageId) += read
          }
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      current.foreach { s =>
        val phases = qe.tracker.phases
        def ms(phase: String): Double = phases.get(phase).map(_.durationMs / 1e3).getOrElse(0.0)
        add(s, "analysis_s", ms("analysis"))
        add(s, "optimization_s", ms("optimization"))
        add(s, "planning_s", ms("planning"))
        add(s, "exchanges", Tracer.exchanges(qe.executedPlan).toDouble)
        add(s, "plan_chars", qe.optimizedPlan.treeString.length.toDouble)
      }
    }
  }

  /** Adds the phases a built (not yet executed) DataFrame's analysis took:
    * they happen when the DataFrame is made, before any listener event. */
  def built(df: org.apache.spark.sql.DataFrame): Unit = synchronized {
    current.foreach { s =>
      df.queryExecution.tracker.phases.foreach { case (phase, p) =>
        add(s, s"${phase}_s", p.durationMs / 1e3)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        current.foreach { s =>
          val p = e.progress
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
          add(s, "batches", 1)
          add(s, "add_batch_s", d.getOrElse("addBatch", 0.0))
          add(s, "commit_s", d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
          add(s, "query_planning_s", d.getOrElse("queryPlanning", 0.0))
          val rows = p.stateOperators.map(_.numRowsTotal).sum
          s.chain.foreach(_.stateRows(p.id) = rows)
        }
      }
  }

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    BusDrain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Runs `body` inside a new span nested in the open one. */
  def span[A](name: String)(body: => A): (A, Span) = {
    val s = synchronized {
      nextId += 1
      val s = new Span(nextId, name, current)
      byGroup(s"perfbench-${s.id}") = s
      current = Some(s)
      s
    }
    sc.setJobGroup(s"perfbench-${s.id}", name, interruptOnCancel = false)
    s.startNs = System.nanoTime()
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      s.endWallMs = System.currentTimeMillis()
      BusDrain(sc)
      synchronized { current = s.parent }
      s.parent match {
        case Some(p) => sc.setJobGroup(s"perfbench-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Times `body` as a span; rethrows nothing, returning the error instead. */
  def attempt(name: String)(body: => Unit): (Span, Option[Throwable]) = {
    var err: Option[Throwable] = None
    val (_, s) = span(name)(try body catch { case e: Throwable => err = Some(e) })
    (s, err)
  }
}

object Tracer {
  /** Shuffle exchanges in an executed plan, counting through adaptive
    * query stages and subqueries; a reused exchange is not counted again. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}
