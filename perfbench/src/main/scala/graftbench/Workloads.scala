package graftbench

import java.io.File
import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SparkEntry, Tables, Verify}
import graft.river.{River, RiverConfig, StreamingRiver}

/** A result the run checks once, outside the timed loop. */
final case class Check(name: String, ok: Boolean, detail: String)

trait Workload {
  /** Loads the generated inputs and builds what the workload needs from
    * them under `dir`. */
  def prepare(dir: String): Unit
  /** The JIT warm-up, untimed operations counted in set-up; for the
    * query mix it also writes the outputs the checks compare. */
  def warm(h: Harness, outDir: String): Seq[Check]
  /** One round of timed operations. */
  def round(h: Harness): Unit
  /** Checks made after the timed loop. */
  def finish(h: Harness): Seq[Check]
  /** Workload-specific metrics, from all operations of the run. */
  def extraMetrics(h: Harness): Map[String, (Double, String)] = Map.empty
  /** Workload-specific per-layer metrics, from the traced operations. */
  def layerMetrics(h: Harness): Map[String, Double] = Map.empty
}

/** A mix of `SparkEntry` queries over generated tables; each round runs
  * every query once, in an order shuffled with the seed. Each timed execution runs the query,
  * normalizes its output as graft.Verify does and fingerprints every row;
  * the fingerprint must equal that of the output the warm pass wrote for
  * the oracle check. */
final class QueryWorkload(spark: SparkSession, seed: Long, dir: String,
    mix: Seq[(String, String)], perQuery: Map[String, String],
    perModule: Map[String, String]) extends Workload {
  private val ref = mutable.Map[String, (Long, Long, Long)]()
  private val rng = new scala.util.Random(seed)
  private val distinct = mix.map(_._1).distinct
  private val moduleOf = mix.toMap

  def prepare(d: String): Unit =
    Tables.names.foreach(t => Tables.load(spark, dir, t).count())

  def warm(h: Harness, outDir: String): Seq[Check] = {
    val oracle = SparkEntry.oracleSql
    val checks = distinct.map { q =>
      try {
        val out = Verify.normalizeOutput(SparkEntry.queries(q)(spark, dir))
        Verify.assertMirrorable(q, out.schema)
        out.write.mode("overwrite").parquet(s"$outDir/$q")
        h.clear()
        ref(q) = Harness.fingerprint(spark.read.parquet(s"$outDir/$q"))
        // a rows-only query (no oracle SQL) must at least return rows
        val ok = oracle.contains(q) || ref(q)._1 > 0
        Check(s"output $q", ok, s"${ref(q)._1} rows")
      } catch { case e: Throwable => Check(s"output $q", ok = false, e.toString) }
    }
    val sql = distinct.flatMap(q => oracle.get(q).map(q -> _)).toMap
    java.nio.file.Files.writeString(new File(s"$outDir/oracle_sql.json").toPath, Json(sql))
    // one more untimed round, so the timed ones start from warm code
    h.recording = false
    try round(h) finally h.recording = true
    checks
  }

  def round(h: Harness): Unit = {
    rng.shuffle(distinct).foreach { q =>
      val module = moduleOf(q)
      h.op(q, module) {
        val parts = mutable.Map[String, Double]()
        val df = h.part(parts, "graft_ms", s"graft.$module") {
          Verify.normalizeOutput(SparkEntry.queries(q)(spark, dir))
        }
        val fp = h.part(parts, "sink_ms", "bench")(Harness.fingerprint(df))
        h.clear()
        (ref.get(q).contains(fp), parts.toMap, Map.empty[String, Double])
      }
    }
  }

  def finish(h: Harness): Seq[Check] = Nil

  /** Per-query walls (s) and per-module median walls (ms), from the
    * untraced operations. */
  override def layerMetrics(h: Harness): Map[String, Double] = {
    val ops = h.ops.filterNot(_.traced).toSeq
    perQuery.map { case (q, m) => m -> Harness.median(ops.filter(_.name == q).map(_.wallMs)) / 1000.0 } ++
      perModule.map { case (mod, m) => m -> Harness.median(ops.filter(_.module == mod).map(_.wallMs)) }
  }
}

/** The river loop: micro-batches land in a source directory and are
  * imported with `StreamingRiver.run` (AvailableNow, one checkpoint);
  * after each import the live index is read three ways. The generator
  * keeps the expected latest document per key, so every read and the
  * final index are checked. */
final class RiverWorkload(spark: SparkSession, seed: Long, input: String,
    batchShare: Double, updateShare: Double, newShare: Double, zipfS: Double) extends Workload {
  private var batchRows = 0
  private var users = 0L

  final case class Doc(ts: Long, user: Long, etype: String, value: Double, props: String)
  private var dir: String = _
  private var docs: ArrayBuffer[Doc] = _
  private var typeCount: mutable.Map[String, Long] = _
  private var maxTs = 0L
  private var clock = 0L
  private var batchNo = 0
  private var rng: SplittableRandom = _
  private var zipfCdf: Array[Double] = _
  private var zipfKeys: Array[Int] = _
  private var stream: DataFrame = _
  private var indexFiles = Set.empty[String]
  private def index = s"$dir/index"
  private def src = s"$dir/source"
  private def cfg = RiverConfig(sourcePath = src, sinkPath = index)

  def prepare(d: String): Unit = {
    dir = d
    rng = new SplittableRandom(seed ^ 0x726976657249L)
    val seedEvents = spark.read.parquet(s"$input/events.parquet")
    River.latestPerKey(seedEvents, "event_id", "ts", "event_id")
      .write.mode("overwrite").parquet(index)
    val seedRows = spark.read.parquet(index).orderBy("event_id").collect()
    require(seedRows.indices.forall(i => seedRows(i).getLong(0) == i), "seed keys must be 0..n-1")
    docs = ArrayBuffer.from(seedRows.map(r =>
      Doc(micros(r.get(1)), r.getLong(2), r.getString(3), r.getDouble(4), r.getString(5))))
    batchRows = math.max(10, (docs.size * batchShare).toInt)
    users = seedRows.map(_.getLong(2)).max + 1
    typeCount = mutable.Map() ++ docs.groupBy(_.etype).map { case (k, v) => k -> v.size.toLong }
    maxTs = docs.map(_.ts).max
    clock = maxTs + 1000000L
    batchNo = 0
    // Zipf(s) over the seeded keys; rank r maps to a seeded random key
    val n = docs.size
    val w = (1 to n).map(r => 1.0 / math.pow(r, zipfS))
    val total = w.sum
    zipfCdf = w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    val perm = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    zipfKeys = perm
    new File(src).mkdirs()
    stream = spark.readStream.schema(Gen.eventsSchema).parquet(src)
    indexFiles = listIndex()
  }

  private def micros(t: Any): Long = t match {
    case l: java.time.LocalDateTime =>
      val i = l.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def zipfKey(): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    zipfKeys(math.min(if (i >= 0) i else -i - 1, zipfKeys.length - 1))
  }

  private def listIndex(): Set[String] =
    Option(new File(index).listFiles).map(_.filter(f => f.getName.endsWith(".parquet"))
      .map(_.getName).toSet).getOrElse(Set.empty)

  /** Writes the next batch as one parquet file in the source directory
    * and applies it to the expected state. Returns (probe key, bytes). */
  private def nextBatch(): (Long, Long) = {
    val rows = new ArrayBuffer[Row](batchRows)
    var probe = -1L
    for (_ <- 0 until batchRows) {
      val u = rng.nextDouble()
      val (key, ts) =
        if (u < updateShare) {
          val k = zipfKey(); clock += 1 + rng.nextInt(1000000)
          if (probe < 0) probe = k
          (k.toLong, clock)
        } else if (u < updateShare + newShare) {
          clock += 1 + rng.nextInt(1000000)
          docs += null
          ((docs.size - 1).toLong, clock)
        } else { // late: older than the indexed doc, so it must lose
          val k = zipfKey()
          (k.toLong, docs(k).ts - 1 - rng.nextLong(3600L * 1000000L))
        }
      val row = Gen.eventRow(rng, key, ts, users)
      rows += row
      val cur = docs(key.toInt)
      if (cur == null || ts > cur.ts) {
        if (cur != null) typeCount(cur.etype) -= 1
        val d = Doc(ts, row.getLong(2), row.getString(3), row.getDouble(4), row.getString(5))
        docs(key.toInt) = d
        typeCount(d.etype) = typeCount.getOrElse(d.etype, 0L) + 1
        maxTs = math.max(maxTs, ts)
      }
    }
    val staging = s"$dir/staging/$batchNo"
    spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), Gen.eventsSchema)
      .coalesce(1).write.parquet(staging)
    val part = new File(staging).listFiles.find(_.getName.endsWith(".parquet")).get
    val target = new File(f"$src/batch-$batchNo%05d.parquet")
    java.nio.file.Files.move(part.toPath, target.toPath)
    Main.deleteTree(new File(staging))
    batchNo += 1
    (if (probe >= 0) probe else 0L, target.length)
  }

  /** Imports the batch just written, then reads the index three ways. */
  private def importAndRead(probe: Long, bytes: Long,
      h: Option[Harness]): (Boolean, Map[String, Double], Map[String, Double]) = {
    val parts = mutable.Map[String, Double]()
    def part[T](k: String, layer: String)(b: => T): T = h match {
      case Some(x) => x.part(parts, k, layer)(b)
      case None => b
    }
    // filesystem operations of the import alone (counted in a traced run)
    val fs0 = CountingFileSystem.ops.get
    part("import_ms", "graft.river") {
      StreamingRiver.run(stream, cfg, s"$dir/checkpoint").awaitTermination()
    }
    val fsOps = CountingFileSystem.ops.get - fs0
    val wm = part("watermark_ms", "graft.river") {
      River.watermarkMicros(spark.read.parquet(index), "ts")
    }
    val got = part("lookup_ms", "bench") {
      spark.read.parquet(index).filter(col("event_id") === probe).collect()
    }
    val terms = part("terms_ms", "graft.operators") {
      graft.operators.Analytics.termsFacet(spark.read.parquet(index), "event_type", 10)
        .select("event_type", "n_docs").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val d = docs(probe.toInt)
    val lookupOk = got.length == 1 && micros(got(0).get(1)) == d.ts &&
      got(0).getLong(2) == d.user && got(0).getString(3) == d.etype &&
      got(0).getDouble(4) == d.value && got(0).getString(5) == d.props
    val ok = wm.contains(maxTs) && lookupOk && terms == typeCount.filter(_._2 > 0).toMap
    if (!ok) System.err.println(s"[perfbench] river read mismatch: watermark=${wm.contains(maxTs)} " +
      s"lookup=$lookupOk terms=${terms == typeCount.filter(_._2 > 0).toMap}")
    val after = listIndex()
    val extra = Map("batch_rows" -> batchRows.toDouble, "batch_bytes" -> bytes.toDouble,
      "import_fs_ops" -> fsOps.toDouble,
      "files_written" -> (after -- indexFiles).size.toDouble, "index_files" -> after.size.toDouble)
    indexFiles = after
    (ok, parts.toMap, extra)
  }

  def warm(h: Harness, outDir: String): Seq[Check] =
    (0 until 5).map { i =>
      val (probe, bytes) = nextBatch()
      val (ok, _, _) = importAndRead(probe, bytes, None)
      Check(s"warm-up batch $i reads", ok, "")
    }

  def round(h: Harness): Unit = {
    // the generator writes the batch before the operation's clock starts
    val (probe, bytes) = nextBatch()
    h.op("river_batch", "river")(importAndRead(probe, bytes, Some(h)))
  }

  /** The live index against the batch oracle: latest per key over the
    * seed and every batch, by row count and order-independent hash. */
  def finish(h: Harness): Seq[Check] = {
    val all = spark.read.parquet(s"$input/events.parquet")
      .unionByName(spark.read.schema(Gen.eventsSchema).parquet(src))
    val expect = Harness.fingerprint(River.latestPerKey(all, "event_id", "ts", "event_id"))
    val got = Harness.fingerprint(spark.read.parquet(index))
    Seq(Check("index == latestPerKey(seed + batches)", got == expect && got._1 == docs.size,
      s"index $got oracle $expect expected rows ${docs.size}"))
  }

  override def extraMetrics(h: Harness): Map[String, (Double, String)] = {
    val ops = h.ops.filterNot(_.traced)
    def p(key: String, q: Double) = Harness.quantile(ops.map(_.parts.getOrElse(key, 0.0)).toSeq, q)
    val reads = ops.map(o => Seq("watermark_ms", "lookup_ms", "terms_ms").map(o.parts.getOrElse(_, 0.0)).sum).toSeq
    val importS = ops.map(_.parts.getOrElse("import_ms", 0.0)).sum / 1000.0
    Map(
      "river.ingest_rows_per_s" -> (ops.size * batchRows / importS, "1/s"),
      "river.batch_ms_p50" -> (p("import_ms", 0.5), "ms"),
      "river.batch_ms_p90" -> (p("import_ms", 0.9), "ms"),
      "river.index_read_ms_p50" -> (Harness.median(reads), "ms"))
  }

  override def layerMetrics(h: Harness): Map[String, Double] = {
    val traced = h.ops.filter(_.traced).toSeq
    val ls = traced.flatMap(_.layers)
    def prog(k: String) = Harness.mean(ls.map(_.progress.getOrElse(k, 0.0)))
    val addBatch = prog("addBatch")
    val importMs = Harness.mean(traced.map(_.parts.getOrElse("import_ms", 0.0)))
    val inRows = traced.map(_.extra("batch_rows")).sum
    val inBytes = traced.map(_.extra("batch_bytes")).sum
    val untraced = h.ops.filterNot(_.traced).toSeq
    Map(
      "river.add_batch_ms" -> addBatch,
      "river.latest_offset_ms" -> prog("latestOffset"),
      "river.query_planning_ms" -> prog("queryPlanning"),
      "river.wal_commit_ms" -> prog("walCommit"),
      "river.commit_offsets_ms" -> prog("commitOffsets"),
      "river.stream_overhead_ms" -> (importMs - addBatch),
      "river.sink.rows_written_per_input_row" ->
        ls.map(_.values("sink.records_written")).sum / math.max(1.0, inRows),
      "river.sink.bytes_written_per_input_byte" ->
        ls.map(_.values("sink.bytes_written")).sum / math.max(1.0, inBytes),
      "river.sink.files_written" -> Harness.mean(traced.map(_.extra("files_written"))),
      "river.sink.fs_ops" -> Harness.mean(traced.map(_.extra("import_fs_ops"))),
      "river.sink.index_files" -> Harness.mean(traced.map(_.extra("index_files"))),
      "river.watermark_ms" -> Harness.median(untraced.map(_.parts.getOrElse("watermark_ms", 0.0))))
  }
}
