package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run: a named interval on the wall clock (epoch
  * ms), with its parent span and the operation it belongs to. Spans come
  * from the benchmark's own calls into each layer (`layer` = bench,
  * graft.<module>) and from listener events, attached as children
  * (`layer` = catalyst, spark.job, spark.stage). */
final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
    start: Double, end: Double)

/** Task-level facts of one finished task, from `SparkListenerTaskEnd`. */
final case class TaskFact(stage: Int, launch: Long, finish: Long, runMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, inBytes: Long, inRecords: Long,
    outBytes: Long, outRecords: Long)

/** Collects spans and listener events for traced operations. Listeners
  * are registered only around a traced operation and removed after it,
  * so untraced operations in the same run pay nothing; comparing the two
  * gives the tracing overhead. All times are epoch ms. */
final class Tracer(spark: SparkSession) {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  /** Epoch ms with sub-ms resolution, on the clock listener events use. */
  def now(): Double = ms0 + (System.nanoTime() - ns0) / 1e6

  val spans = new ArrayBuffer[Span]()
  private var nextId = 0
  private val stack = mutable.Stack[Int]()
  private var opId = -1
  def active: Boolean = opId >= 0

  // listener-side buffers; written on the listener bus thread, read
  // after the bus is drained
  private val jobs = new ArrayBuffer[(Int, Long, Long)]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stages = new ArrayBuffer[(Int, String, Long, Long)]()
  private val tasks = new ArrayBuffer[TaskFact]()
  private val phases = new ArrayBuffer[(String, Double, Double)]()
  private val progress = new ArrayBuffer[Map[String, Long]]()
  private var qeCount = 0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStart(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs += ((e.jobId, jobStart.getOrElse(e.jobId, e.time), e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stages += ((i.stageId, i.name, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskFact(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.diskBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
    }
  }
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qeCount += 1
      qe.tracker.phases.foreach { case (name, p) =>
        phases += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        progress += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      }
  }

  /** Starts a traced operation: registers the listeners and opens its
    * root span. */
  def begin(op: Int, name: String): Unit = {
    synchronized {
      jobs.clear(); jobStart.clear(); stages.clear(); tasks.clear()
      phases.clear(); progress.clear(); qeCount = 0
    }
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    opId = op
    stack.clear()
    open(name, "bench")
  }

  private def open(name: String, layer: String): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, stack.headOption.getOrElse(-1), opId, name, layer, now(), Double.NaN)
    stack.push(id)
    id
  }
  private def close(id: Int): Unit = {
    spans(id) = spans(id).copy(end = now())
    stack.pop()
  }

  /** Times `body` as a child span of the current one (a no-op when the
    * operation is untraced). */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!active) body
    else {
      val id = open(name, layer)
      try body finally close(id)
    }

  /** Ends the traced operation: drains the listener bus, removes the
    * listeners, attaches the events as child spans, and returns the
    * operation's layer facts. */
  def end(cores: Int): OpLayers = {
    val root = stack.last
    while (stack.nonEmpty) close(stack.head)
    val sc = spark.sparkContext
    BenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val rs = spans(root)
    val op = opId
    opId = -1
    synchronized {
      val benchSpans = spans.filter(s => s.op == op && s.id != root).toSeq
      def parentOf(start: Double): Int =
        benchSpans.filter(s => s.start <= start && start <= s.end)
          .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(root)
      def child(name: String, layer: String, s: Double, e: Double): Unit = {
        spans += Span(nextId, parentOf(s), op, name, layer, s, e)
        nextId += 1
      }
      jobs.foreach { case (id, s, e) => child(s"job $id", "spark.job", s.toDouble, e.toDouble) }
      stages.foreach { case (id, n, s, e) => child(s"stage $id $n", "spark.stage", s.toDouble, e.toDouble) }
      phases.foreach { case (n, s, e) => child(n, "catalyst", s, e) }
      OpLayers.of(rs, benchSpans, jobs.toSeq, tasks.toSeq, phases.toSeq, qeCount,
        progress.toSeq, cores)
    }
  }
}

/** Layer facts of one traced operation. */
final case class OpLayers(wallMs: Double, values: Map[String, Double],
    stageSkews: Seq[Double], taskRunMs: Double, progress: Map[String, Double])

object OpLayers {
  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = merged(iv).map { case (s, e) => e - s }.sum

  private def merged(iv: Seq[(Double, Double)]): List[(Double, Double)] =
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: rest
      case (acc, x) => x :: acc
    }

  /** |a \ b| for interval sets. */
  def minusMs(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Double =
    unionMs(a ++ b) - unionMs(b)

  def of(root: Span, benchSpans: Seq[Span], jobs: Seq[(Int, Long, Long)], tasks: Seq[TaskFact],
      phases: Seq[(String, Double, Double)], qeCount: Int, progress: Seq[Map[String, Long]],
      cores: Int): OpLayers = {
    val wall = root.end - root.start
    def clip(s: Double, e: Double) = (math.max(s, root.start), math.min(e, root.end))
    val jobIv = jobs.map { case (_, s, e) => clip(s.toDouble, e.toDouble) }
    val taskIv = tasks.map(t => clip(t.launch.toDouble, t.finish.toDouble))
    val phaseIv = phases.map { case (_, s, e) => clip(s, e) }
    val graftIv = benchSpans.filter(_.layer.startsWith("graft")).map(s => (s.start, s.end))
    val jobsU = unionMs(jobIv)
    val catSelf = minusMs(phaseIv, jobIv)
    val graftSelf = minusMs(graftIv, jobIv ++ phaseIv)
    val benchSelf = wall - unionMs(graftIv ++ jobIv ++ phaseIv)
    val skews = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(t => (t.finish - t.launch).toDouble).sorted
      d.last / math.max(1.0, d(d.size / 2))
    }.toSeq
    val runMs = tasks.map(_.runMs).sum.toDouble
    val values = Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> tasks.map(_.stage).distinct.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.driver_gap_ms" -> (wall - unionMs(taskIv)),
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "scan.bytes_read" -> tasks.map(_.inBytes).sum.toDouble,
      "scan.records_read" -> tasks.map(_.inRecords).sum.toDouble,
      "sink.bytes_written" -> tasks.map(_.outBytes).sum.toDouble,
      "sink.records_written" -> tasks.map(_.outRecords).sum.toDouble,
      "catalyst.plan_ms" -> phases.map { case (_, s, e) => e - s }.sum,
      "spark.qe" -> qeCount.toDouble,
      "self_ms.bench" -> benchSelf,
      "self_ms.graft" -> graftSelf,
      "self_ms.catalyst" -> catSelf,
      "self_ms.spark_jobs" -> jobsU)
    val prog = progress.flatMap(_.toSeq).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2.toDouble).sum }
    OpLayers(wall, values, skews, runMs, prog)
  }
}
