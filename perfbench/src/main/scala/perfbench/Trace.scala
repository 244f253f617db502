package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ProjectExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One traced call: name, start and end (ns since the recorder started),
  * and the id of the enclosing span (-1 at the top). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Engine counters accumulated while recording; `minus` gives one op's
  * share. Task durations stay per stage for the skew figure. */
final case class EngineTotals(jobs: Long = 0, tasks: Long = 0, runMs: Long = 0, cpuNs: Long = 0,
                              gcMs: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0,
                              spill: Long = 0) {
  def minus(o: EngineTotals): EngineTotals = EngineTotals(jobs - o.jobs, tasks - o.tasks,
    runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill)
}

/** One streaming micro-batch as the query listener reported it. */
final case class MicroBatch(rows: Long, triggerS: Double, addBatchS: Double)

/** The traced run's recorder: spans around the benchmark's calls into the
  * program, plus a SparkListener, a StreamingQueryListener and a
  * QueryExecutionListener that count while `recording` is on. Everything
  * stays in memory; `writeSpans` dumps the spans at exit. */
final class Recorder(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  @volatile var recording = false
  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  private var totals = EngineTotals()
  private val jobStarts = ArrayBuffer.empty[Long] // epoch ms
  private val stageTasks = mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
  private val batches = ArrayBuffer.empty[MicroBatch]
  private var detectorRows = 0L

  def span[A](name: String)(f: => A): A = {
    val (id, parent) = synchronized {
      spans += null
      val id = spans.length - 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      (id, parent)
    }
    val s = System.nanoTime() - t0
    try f
    finally synchronized {
      stack = stack.tail
      spans(id) = Span(id, parent, name, s, System.nanoTime() - t0)
    }
  }

  private object engine extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) Recorder.this.synchronized {
      totals = totals.copy(jobs = totals.jobs + 1)
      jobStarts += e.time
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording && e.taskMetrics != null) {
      val m = e.taskMetrics
      Recorder.this.synchronized {
        totals = EngineTotals(totals.jobs, totals.tasks + 1, totals.runMs + m.executorRunTime,
          totals.cpuNs + m.executorCpuTime, totals.gcMs + m.jvmGCTime,
          totals.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          totals.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          totals.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
        stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
  }

  private object stream extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (recording) {
      val p = e.progress
      def sec(k: String) = Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      if (p.numInputRows > 0) Recorder.this.synchronized {
        batches += MicroBatch(p.numInputRows, sec("triggerExecution"), sec("addBatch"))
      }
    }
  }

  /** Rows entering the PII projection, read from each finished query's
    * executed plan: the first row-count metric below the projection that
    * evaluates the detector. */
  private object queries extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) {
        val rows = collect(qe.executedPlan) {
          case p: ProjectExec if p.projectList.exists(_.find(
            _.isInstanceOf[graft.functions.PiiProcessExpression]).isDefined) => rowsInto(p.child)
        }.flatten.sum
        Recorder.this.synchronized(detectorRows += rows)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def rowsInto(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value).orElse(p match {
      case a: AdaptiveSparkPlanExec => rowsInto(a.executedPlan)
      case q: QueryStageExec => rowsInto(q.plan)
      case other => other.children.headOption.flatMap(rowsInto)
    })

  def register(): Unit = {
    spark.sparkContext.addSparkListener(engine)
    spark.streams.addListener(stream)
    spark.listenerManager.register(queries)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(engine)
    spark.streams.removeListener(stream)
    spark.listenerManager.unregister(queries)
  }

  /** Waits until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  def engineTotals: EngineTotals = synchronized(totals)
  def jobStartsSince(k: Int): Seq[Long] = synchronized(jobStarts.drop(k).toSeq)
  def jobCount: Int = synchronized(jobStarts.length)
  def microBatches: Seq[MicroBatch] = synchronized(batches.toSeq)
  def piiRows: Long = synchronized(detectorRows)

  /** Worst stage's max / median task time, over stages with 4+ tasks. */
  def taskSkew: Double = synchronized {
    val r = stageTasks.values.filter(_.length >= 4).map { d =>
      val s = d.sorted
      s.last.toDouble / math.max(1L, s(s.length / 2))
    }
    if (r.isEmpty) 1.0 else r.max
  }

  def writeSpans(path: String): Unit = synchronized {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val lines = spans.filter(_ != null).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(f.toPath,
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
