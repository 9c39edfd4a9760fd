package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session factory and query runner behind every main (`Bench`,
  * `Verify`, `ScaleUp`, `Explain`) and the specs, so a diagnostic runs
  * under exactly the config `Bench` measures. */
object Harness {

  /** `SPARK_GRAFT_CPUS` when set, else the host's core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with one shuffle partition per core, log
    * level WARN. */
  def session(cpus: Int = Harness.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS") // events copies must stay INT64 µs (hbasesim + DuckDB read them), never INT96
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 20) // TopKPairs over corpus-cardinality keys must hash, not sort (see Dedup.embeddingNearDupIvf)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** JVM + parquet-footer warm-up, so per-query times measure the query. */
  def warm(spark: SparkSession, sfDir: String): Unit =
    Tables.names.foreach(t => Tables.load(spark, sfDir, t).count())

  /** Writes to the `noop` sink, so the full plan executes (a bare
    * count() would let Catalyst prune the projections under test). */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** Runs SparkEntry query `name` into `sink` and returns its wall
    * seconds, or what it threw. Either way every cached and persisted
    * block is dropped afterwards, inside the timed span: operators
    * persist intermediates (and the clustering loop localCheckpoints,
    * which clearCache does NOT reclaim), and 300 back-to-back
    * executions must not accumulate heap pressure that bleeds into
    * later queries' times. */
  def run(spark: SparkSession, sfDir: String, name: String,
      sink: DataFrame => Unit): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    val failure =
      try { sink(SparkEntry.queries(name)(spark, sfDir)); None }
      catch { case e: Throwable => Some(e) }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    failure.toLeft((System.nanoTime() - t0) / 1e9)
  }
}
