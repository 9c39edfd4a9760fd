package graftbench

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** Runs one workload of the benchmark and writes its record as JSON.
  *
  * {{{
  * Main --workload <river_ingest|es_query_mix> --seed <n>
  *      --seconds <s> --trace <0|1> --input <tables dir> --work <dir> --out <record.json>
  * }}}
  *
  * The input tables are generated from the seed beforehand (perfbench/gen.py).
  * Set-up is timed: loading them and building the workload's state, plus
  * the first, cold pass over the workload's operations, which warms the JIT
  * and leaves the outputs the checks compare. Then rounds of operations run back to back until `seconds`
  * have passed, stopping at a round boundary. With `--trace 1` every other
  * operation is traced; the per-layer figures come from the traced
  * operations and the span tree is written next to the record. */
object Main {

  /** The `es_query_mix` queries and their modules; each round runs every
    * query once. The last three are corpus-curation queries (near-duplicate
    * and contamination search), so the graft.dedup and graft.pipeline
    * layers are measured too. */
  val esMix: Seq[(String, String)] = Seq(
    "q_bool_filter" -> "operators", "q6_revenue_delta" -> "operators",
    "q_terms_facet" -> "operators", "q_composite_agg" -> "operators",
    "q_date_histogram" -> "operators", "q_percentile_facet" -> "operators",
    "q_range_facet" -> "operators", "q_search_after" -> "operators",
    "hbase_source_scan" -> "sources.hbasesim", "hbase_source_page" -> "sources.hbasesim",
    "hbase_source_watermark" -> "sources.hbasesim",
    "text_bm25" -> "text", "text_match_query" -> "text", "text_phrase_match" -> "text",
    "text_percolate" -> "text", "ann_bruteforce_topk" -> "similarity",
    "dedup_substring" -> "dedup", "dedup_minhash_lsh" -> "dedup",
    "pipe_decontaminate_fuzzy" -> "pipeline")

  /** Per-layer metrics of single queries (median wall, s). */
  val queryMetrics: Map[String, String] = Map(
    "dedup_substring" -> "dedup.substring_s", "dedup_minhash_lsh" -> "dedup.minhash_lsh_s",
    "pipe_decontaminate_fuzzy" -> "pipeline.decontaminate_fuzzy_s")

  /** Per-layer metrics of modules (median query wall, ms). */
  val moduleMetrics: Map[String, String] = Map(
    "operators" -> "operators.query_ms", "text" -> "text.query_ms",
    "similarity" -> "similarity.query_ms", "sources.hbasesim" -> "hbasesim.query_ms")

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  private def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Tracing overhead: per operation name, the median traced wall over
    * the median untraced wall; the median of these ratios. */
  private def traceRatio(h: Harness): Double =
    Harness.median(h.ops.groupBy(_.name).values.toSeq.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(Harness.median(t.map(_.wallMs).toSeq) / Harness.median(u.map(_.wallMs).toSeq))
    })

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val input = new File(opt("input")).getAbsolutePath
    val work = new File(opt("work")).getAbsolutePath
    val out = new File(opt("out")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    // graft.Bench's session: UTC, µs timestamps, the objectHashAggregate
    // fallback threshold, shuffle partitions = cores
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 20)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    // a traced run counts filesystem operations (see CountingFileSystem)
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = elapsedS(t0)

    val wl: Workload = workload match {
      case "river_ingest" =>
        // zipfS is YCSB's Zipfian constant (Cooper et al., SoCC 2010); the
        // shares are assumptions, see perfbench/README.md
        new RiverWorkload(spark, seed, input, batchShare = 0.01,
          updateShare = 0.7, newShare = 0.2, zipfS = 0.99)
      case "es_query_mix" =>
        new QueryWorkload(spark, seed, input, esMix, queryMetrics, moduleMetrics)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val h = new Harness(spark, cores, trace)

    val t1 = System.nanoTime()
    wl.prepare(s"$work/state")
    val prepS = elapsedS(t1)
    val checks0 = wl.warm(h, s"$work/check")
    val warmS = elapsedS(t1) - prepS

    val minRounds = if (trace) 2 else 1
    val t2 = System.nanoTime()
    while (h.round < minRounds || elapsedS(t2) < seconds) {
      wl.round(h)
      h.round += 1
    }
    val measuredS = elapsedS(t2)
    val checks = checks0 ++ wl.finish(h)

    val untraced = h.ops.filterNot(_.traced).toSeq
    val plain = untraced.map(_.wallMs)
    // the geometric mean over operation names of each one's median wall:
    // every query of a mix counts alike, and it moves smoothly where the
    // median of a mix of discrete latencies jumps between them
    val geomean = math.exp(Harness.mean(untraced.groupBy(_.name).values.toSeq
      .map(os => math.log(Harness.median(os.map(_.wallMs))))))
    val e2e = Map(
      "setup_s" -> (prepS + warmS),
      "op_ms_geomean" -> geomean,
      "ops_per_s" -> plain.size / (plain.sum / 1000.0))

    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else Layers.aggregate(h, cores) ++ wl.layerMetrics(h) ++
        wl.extraMetrics(h).map { case (k, (v, _)) => k -> v } ++ Map(
        "op_ms_p50" -> Harness.median(plain),
        "tail.op_ms_p90" -> Harness.quantile(plain, 0.9),
        "trace.wall_ratio" -> traceRatio(h))

    if (trace) {
      val w = Files.newBufferedWriter(new File(out.stripSuffix(".json") + ".spans.jsonl").toPath)
      try h.tracer.spans.foreach { s =>
        w.write(Json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end)))
        w.newLine()
      } finally w.close()
    }

    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "session_s" -> sessionS, "prepare_s" -> prepS, "warm_s" -> warmS,
      "measured_s" -> measuredS, "rounds" -> h.round,
      "check_dir" -> s"$work/check",
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "ops" -> h.ops.map(o => Map("name" -> o.name, "module" -> o.module, "round" -> o.round,
        "traced" -> o.traced, "wall_ms" -> o.wallMs, "ok" -> o.ok, "parts" -> o.parts)),
      "end_to_end" -> e2e,
      "workload_metrics" -> wl.extraMetrics(h).map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layers)
    Files.writeString(new File(out).toPath, Json(record))
    spark.stop()
  }
}

/** Per-layer figures of the traced operations: additive facts as means
  * per operation; utilisation and skew as ratios. */
object Layers {
  def aggregate(h: Harness, cores: Int): Map[String, Double] = {
    val ls = h.ops.flatMap(_.layers).toSeq
    val keys = ls.flatMap(_.values.keys).distinct
    val perOp = keys.map(k => k -> Harness.mean(ls.map(_.values.getOrElse(k, 0.0)))).toMap
    val skews = ls.flatMap(_.stageSkews)
    perOp.filter { case (k, _) => !k.startsWith("sink.") } ++ Map(
      "spark.core_util" -> ls.map(_.taskRunMs).sum / math.max(1.0, ls.map(_.wallMs).sum * cores),
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else Harness.median(skews)))
  }
}
