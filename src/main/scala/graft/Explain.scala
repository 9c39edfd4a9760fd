package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graftglue.Glue

/** Diagnostics main, in Bench's session ([[Harness.session]]):
  * `runMain graft.Explain [--summary|--jobs] <sfDir> [query...]`, every
  * SparkEntry query when none is named.
  *
  *  - default: each query's formatted physical plan — the ".explain and
  *    iterate" loop SURVEY §5 demands after every operator lands;
  *  - `--summary`: ReadSchema, PushedFilters, codegen-span and Exchange
  *    counts per query;
  *  - `--jobs`: runs each query to the noop sink and prints every Spark
  *    job it launched (wall, call site), then one
  *    `jobs= stages= tasks= shuffleMB= wall=` line — the
  *    host-noise-independent counterpart of Bench's wall clocks (a
  *    stolen second moves every wall reading; it cannot move a job
  *    count). The counts include the index/training actions a query's
  *    thunk performs before its final plan, exactly what Bench times,
  *    and the RDD-level jobs (`localCheckpoint`) a QueryExecution
  *    listener would miss. */
object Explain {

  /** What one query run launched. `jobLines` holds one line per job:
    * id, wall seconds, call site (the result stage's name). */
  final case class JobShape(jobs: Int, stages: Int, tasks: Int,
      shuffleWriteBytes: Long, wall: Double, jobLines: Seq[String])

  /** Job listener behind `--jobs`; registered only in that mode, so a
    * timed Bench session carries none. */
  final class JobCounter(spark: SparkSession) extends SparkListener {
    private val jobs = new AtomicInteger
    private val stages = new AtomicInteger
    private val tasks = new AtomicInteger
    private val shuffleWrite = new AtomicLong
    private val starts = TrieMap[Int, (Long, String)]()
    private val lines = new ConcurrentLinkedQueue[String]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      starts.put(e.jobId, (e.time, e.stageInfos.lastOption.map(_.name).getOrElse("?"))): Unit
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      starts.remove(e.jobId).foreach { case (t0, site) =>
        lines.add(f"  job ${e.jobId}%4d ${(e.time - t0) / 1e3}%7.3f s  $site")
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.incrementAndGet(): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach(m =>
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit)
    }

    /** Runs query `name` to the noop sink and counts what it launched.
      * The listener bus is drained before the counters reset and
      * before they are read, so no event leaks across queries. */
    def shape(sfDir: String, name: String): Either[Throwable, JobShape] = {
      Glue.drainListenerBus(spark.sparkContext)
      jobs.set(0); stages.set(0); tasks.set(0); shuffleWrite.set(0)
      starts.clear(); lines.clear()
      val run = Harness.run(spark, sfDir, name, Harness.noop)
      Glue.drainListenerBus(spark.sparkContext)
      run.map(wall => JobShape(jobs.get, stages.get, tasks.get,
        shuffleWrite.get, wall, lines.asScala.toSeq))
    }
  }

  /** Runs `f` with a [[JobCounter]] registered on `spark`'s context. */
  def withJobCounter[T](spark: SparkSession)(f: JobCounter => T): T = {
    val counter = new JobCounter(spark)
    spark.sparkContext.addSparkListener(counter)
    try f(counter) finally spark.sparkContext.removeSparkListener(counter)
  }

  private def printPlan(spark: SparkSession, sfDir: String, n: String,
      summary: Boolean): Unit = {
    println(s"===== $n")
    // print-and-continue: one query failing to plan must not abort
    // the rest of the audit sweep
    try {
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      if (summary) {
        "ReadSchema: [^\n]*".r.findAllIn(plan).foreach(s => println("  " + s.take(160)))
        "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(plan).foreach(s => println("  " + s.take(160)))
        println(s"  WholeStageCodegen spans: ${"WholeStageCodegen".r.findAllIn(plan).size}")
        println(s"  Exchanges: ${"Exchange".r.findAllIn(plan).size}")
      } else println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    } catch {
      case e: Throwable => println(s"  FAILED to plan: ${e.getMessage}")
    }
  }

  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.partition(_.startsWith("--"))
    if (rest.isEmpty || flags.exists(f => f != "--summary" && f != "--jobs") ||
        flags.distinct.length > 1) {
      System.err.println("usage: graft.Explain [--summary|--jobs] <sfDir> [query...]")
      sys.exit(2)
    }
    val sfDir = rest.head
    val names = if (rest.length > 1) rest.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")} " +
        s"(valid names are SparkEntry.queries keys)")
      sys.exit(2)
    }
    val spark = Harness.session()
    if (flags.contains("--jobs")) {
      Harness.warm(spark, sfDir)
      withJobCounter(spark) { counter =>
        names.foreach { n =>
          counter.shape(sfDir, n) match {
            case Right(s) =>
              s.jobLines.foreach(println)
              println(f"$n%-36s jobs=${s.jobs}%4d stages=${s.stages}%4d " +
                f"tasks=${s.tasks}%6d shuffleMB=${s.shuffleWriteBytes / 1e6}%9.2f " +
                f"wall=${s.wall}%7.2f")
            case Left(e) => println(s"$n FAILED: ${e.getMessage}")
          }
        }
      }
    } else names.foreach(printPlan(spark, sfDir, _, flags.contains("--summary")))
    spark.stop()
  }
}
