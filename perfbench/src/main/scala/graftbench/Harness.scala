package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One timed operation. `ok` is false when it threw or its output did
  * not match the reference; `parts` holds named sub-walls (ms). */
final case class OpRec(id: Int, round: Int, name: String, module: String, traced: Boolean,
    wallMs: Double, ok: Boolean, parts: Map[String, Double], layers: Option[OpLayers],
    extra: Map[String, Double])

/** Closed-loop runner shared by the workloads: one client, operations
  * back to back. Untraced operations run with no listener registered.
  * In a traced run every other execution of each operation is traced, so
  * each has traced and untraced walls to compare. */
final class Harness(val spark: SparkSession, val cores: Int, traceRun: Boolean) {
  val tracer = new Tracer(spark)
  val ops = new ArrayBuffer[OpRec]()
  var round = 0
  /** False during warm-up: operations run untimed and unrecorded. */
  var recording = true

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Times one operation. `body` returns (ok, named sub-walls, extra
    * facts); an exception counts as a failed operation. */
  def op(name: String, module: String)(body: => (Boolean, Map[String, Double], Map[String, Double])): Unit = {
    if (!recording) {
      try body catch { case e: Throwable => System.err.println(s"[perfbench] $name failed: $e") }
      return
    }
    val id = ops.size
    val traced = traceRun && ops.count(_.name == name) % 2 == 1
    if (traced) tracer.begin(id, s"op $name")
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val (ok, parts, extra) =
      try body
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        (false, Map.empty[String, Double], Map.empty[String, Double])
      }
    val wall = (System.nanoTime() - t0) / 1e6
    val gc = (gcMs() - gc0).toDouble
    val layers = if (traced) Some(tracer.end(cores)) else None
    ops += OpRec(id, round, name, module, traced, wall, ok, parts,
      layers.map(l => l.copy(values = l.values + ("spark.gc_ms" -> gc))),
      extra)
  }

  /** Times a sub-step of the current operation; it also becomes a span. */
  def part[T](parts: mutable.Map[String, Double], key: String, layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(key, layer)(body)
    finally parts(key) = parts.getOrElse(key, 0.0) + (System.nanoTime() - t0) / 1e6
  }

  /** Drops cached and persisted data between operations, as graft.Bench
    * does, so one operation's blocks do not burden the next. */
  def clear(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}

object Harness {

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** Order-independent fingerprint of a result: row count, the sum of
    * the row hashes modulo a prime, and their XOR. Every column feeds
    * the hash, so the whole plan runs, as with the noop sink graft.Bench
    * writes to. */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val cols = df.columns.toSeq.map(c => col(s"`$c`"))
    val h =
      if (cols.isEmpty) lit(0L)
      else if (hasMap(df.schema)) xxhash64(to_json(struct(cols: _*)))
      else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(pmod(col("h"), lit(2147483647L))), lit(0L)),
        coalesce(bit_xor(col("h")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Minimal JSON writer for the result record and the span file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
