package graft

import java.io.{File, IOException}
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructType}

import graft.river.{River, RiverConfig, StreamingRiver}
import graft.similarity.AnnIndex
import graft.util.SwapCommit

/** The river sink's one upsert and its one commit routine: schema
  * conformance on the CDC path, the layout guard, and fault injection at
  * every rename and delete of the commit (flat index, bucketed index,
  * `AnnIndex` ingest partition). */
class RiverSinkSpec extends SparkSpec {
  import FaultFileSystem.{ReturnsFalse, Throws}

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def conf = spark.sparkContext.hadoopConfiguration

  override def beforeAll(): Unit = {
    super.beforeAll()
    conf.set("fs.fault.impl", classOf[FaultFileSystem].getName)
  }

  private def rows(r: (Long, Long, Long, Double)*): DataFrame = {
    val s = spark; import s.implicits._
    r.toSeq.toDF("user_id", "ts", "event_id", "value")
  }

  private def keyMap(df: DataFrame): Map[Long, Long] =
    df.select(col("user_id").cast("long"), col("event_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** key → event_id per key bucket (one bucket for the flat layout). */
  private def byBucket(df: DataFrame, buckets: Int): Map[Int, Map[Long, Long]] =
    df.select(pmod(hash(col("user_id")), lit(buckets)), col("user_id"), col("event_id"))
      .collect().groupBy(_.getInt(0))
      .map { case (b, rs) => b -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }

  private def bucketOf(keys: Seq[Long], buckets: Int): Map[Long, Int] = {
    val s = spark; import s.implicits._
    keys.toDF("k").select(col("k"), pmod(hash(col("k")), lit(buckets)))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  private lazy val seed = rows((0L until 40L).map(k => (k, 10L, k, 1.0)): _*)

  test("CDC upsert conforms to the declared sink schema and keeps the delete flag") {
    val s = spark; import s.implicits._
    val b1 = Seq((1, 10L, 1L, "a", false), (2, 10L, 2L, "b", false), (3, 10L, 3L, "c", false))
      .toDF("user_id", "ts", "event_id", "note", "deleted")
    val b2 = Seq((1, 5L, 4L, "d", true), (2, 15L, 5L, "e", true), (4, 12L, 6L, "f", false))
      .toDF("user_id", "ts", "event_id", "note", "deleted")
    val ddl = "user_id BIGINT, ts BIGINT, event_id BIGINT"
    val declared = RiverConfig(sourcePath = "unused", sinkPath = tmp("cdc-ddl") + "/index",
      keyCol = "user_id", sinkSchemaDdl = Some(ddl))
    val plain = RiverConfig(sourcePath = "unused", sinkPath = tmp("cdc-plain") + "/index",
      keyCol = "user_id")
    for (cfg <- Seq(declared, plain); b <- Seq(b1, b2))
      StreamingRiver.upsert(b, cfg, "event_id", deleteCol = Some("deleted"))

    val schema = spark.read.parquet(declared.sinkPath).schema
    val expect = StructType.fromDDL(ddl).add("deleted", BooleanType)
    assert(schema.map(f => f.name -> f.dataType) == expect.map(f => f.name -> f.dataType))
    val live = keyMap(StreamingRiver.liveIndex(spark, declared, "deleted"))
    assert(live == keyMap(StreamingRiver.liveIndex(spark, plain, "deleted")))
    assert(live == Map(1L -> 1L, 3L -> 3L, 4L -> 6L))
  }

  test("a rename that returns false fails the commit and keeps the index") {
    val sink = "fault://" + tmp("rename-false") + "/index"
    val cfg = RiverConfig(sourcePath = "unused", sinkPath = sink, keyCol = "user_id")
    val batch = rows((1L, 20L, 100L, 2.0), (50L, 20L, 101L, 2.0))
    StreamingRiver.upsert(seed, cfg, "event_id")
    // rename(staging → index) reports failure without moving anything
    FaultFileSystem.arm(Set(new Path(sink + "__staging")), 1, ReturnsFalse)
    try intercept[IOException](StreamingRiver.upsert(batch, cfg, "event_id"))
    finally FaultFileSystem.disarm()
    // recovery: an empty batch restores the set-aside index
    StreamingRiver.upsert(batch.limit(0), cfg, "event_id")
    assert(keyMap(spark.read.parquet(sink)) == keyMap(seed))
    StreamingRiver.upsert(batch, cfg, "event_id")
    assert(keyMap(spark.read.parquet(sink)) ==
      keyMap(River.latestPerKey(seed.unionByName(batch), "user_id", "ts", "event_id")))
  }

  test("an index whose layout does not match buckets fails the upsert") {
    val batch = rows((1L, 20L, 100L, 2.0), (50L, 20L, 101L, 2.0))
    def check(built: Int, asked: Int, found: String): Unit = {
      val cfg = RiverConfig(sourcePath = "unused", sinkPath = tmp("layout") + "/index",
        keyCol = "user_id")
      StreamingRiver.upsert(seed, cfg, "event_id", built)
      val err = intercept[IllegalStateException](
        StreamingRiver.upsert(batch, cfg, "event_id", asked))
      assert(err.getMessage.contains(found) && err.getMessage.contains("kbucket="),
        err.getMessage)
      assert(err.getMessage.contains(if (asked == 1) "flat layout" else s"0..${asked - 1}"),
        err.getMessage)
      // the index is untouched
      assert(keyMap(spark.read.parquet(cfg.sinkPath)) == keyMap(seed))
    }
    check(1, 4, "flat layout")
    check(4, 1, "kbucket= (bucketed) layout")
    check(8, 4, "kbucket=")
  }

  /** Fails the k-th watched rename or delete of `commit`, for every k
    * and both failure modes. After each failure, `recover` must leave
    * every key bucket at its pre- or post-batch content (`read` vs
    * `pre`/`post`), and a healthy `commit` replay must give `post`. */
  private def crashEveryStep[T](watched: Set[Path], reset: () => Unit, commit: () => Unit,
      recover: () => Unit, read: () => T, pre: T, post: T)(ok: (T, T, T) => Boolean): Int = {
    reset()
    FaultFileSystem.arm(watched, 0, Throws)
    commit()
    val steps = FaultFileSystem.disarm()
    assert(read() == post)
    for (k <- 1 to steps; mode <- Seq(Throws, ReturnsFalse)) {
      reset()
      FaultFileSystem.arm(watched, k, mode)
      val failed =
        try { commit(); false }
        catch { case _: IOException => true }
        finally FaultFileSystem.disarm()
      assert(failed || mode == ReturnsFalse, s"step $k ($mode) did not fail the commit")
      recover()
      val got = read()
      assert(ok(got, pre, post), s"after a failure at step $k ($mode): $got")
      commit()
      assert(read() == post, s"replay after a failure at step $k ($mode)")
    }
    steps
  }

  private def crashRiver(buckets: Int, batch: DataFrame): Int = {
    val dir = tmp("crash-river")
    val pristine = s"$dir/pristine/index"
    val sink = s"$dir/work/index"
    val cfg = RiverConfig(sourcePath = "unused", sinkPath = "fault://" + sink,
      keyCol = "user_id")
    StreamingRiver.upsert(seed, cfg.copy(sinkPath = pristine), "event_id", buckets)
    val touched = batch.select(pmod(hash(col("user_id")), lit(buckets)))
      .distinct().collect().map(_.getInt(0))
    val watched: Set[Path] =
      if (buckets == 1) Set("", "__staging", "__old").map(x => new Path(sink + x))
      else touched.toSet.flatMap((b: Int) => Set(s"$sink/kbucket=$b",
        s"$sink/.kbucket_old_$b", s"${sink}__staging/kbucket=$b").map(new Path(_)))
    val pre = byBucket(River.latestPerKey(seed, "user_id", "ts", "event_id"), buckets)
    val post = byBucket(River.latestPerKey(seed.unionByName(batch),
      "user_id", "ts", "event_id"), buckets)
    assert(touched.forall(b => pre(b) != post(b)))
    crashEveryStep(watched,
      reset = () => {
        FileUtils.deleteDirectory(new File(s"$dir/work"))
        FileUtils.copyDirectory(new File(pristine), new File(sink))
      },
      commit = () => StreamingRiver.upsert(batch, cfg, "event_id", buckets),
      recover = () => StreamingRiver.upsert(batch.limit(0), cfg, "event_id", buckets),
      read = () => byBucket(spark.read.parquet(cfg.sinkPath), buckets),
      pre, post) { (got, pre, post) =>
      (0 until buckets).forall(b => got.get(b) == pre.get(b) || got.get(b) == post.get(b))
    }
  }

  test("crash at any commit step of a flat upsert: recovery reads pre or post, replay converges") {
    val batch = rows((1L, 20L, 100L, 2.0), (2L, 5L, 101L, 2.0), (50L, 20L, 102L, 2.0))
    assert(crashRiver(1, batch) == 4)
  }

  test("crash at any commit step of a bucketed upsert: every bucket reads pre or post") {
    val buckets = 4
    val bucket = bucketOf((0L until 40L) ++ (100L until 120L), buckets)
    val Seq(b0, b1) = bucket.values.toSeq.distinct.sorted.take(2)
    val in0 = bucket.filter(_._2 == b0).keys.toSeq.sorted
    val in1 = bucket.filter(_._2 == b1).keys.toSeq.sorted
    // two updates and a new key in b0, an update and a late row in b1
    val batch = rows((in0(0), 20L, 200L, 2.0), (in0(1), 20L, 201L, 2.0),
      (in0.find(_ >= 100L).get, 20L, 202L, 2.0),
      (in1(0), 20L, 203L, 2.0), (in1(1), 5L, 204L, 2.0))
    assert(crashRiver(buckets, batch) == 8)
  }

  test("crash at any commit step of an AnnIndex.appendBatch replay keeps the committed ingest") {
    val emb = Tables.embeddings(spark, sfDir)
    val root = "fault://" + tmp("crash-ann")
    AnnIndex.trainCentroids(emb.filter(col("vec_id") % 3 === 0), 0L, root)
    val batch = emb.filter(col("vec_id") % 3 === 1)
    AnnIndex.appendBatch(batch, 1L, root)
    def ingest(): Set[(Long, Int)] = AnnIndex.assignments(spark, root)
      .select(col("vec_id"), col("cent_id").cast("int")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val committed = ingest()
    assert(committed.size == batch.count())
    val cv = s"$root/assignments/cv=0"
    val dest = new Path(s"$cv/ingest=1")
    val old = new Path(s"$cv/.old-ingest-1")
    val fs = dest.getFileSystem(conf)
    val steps = crashEveryStep(Set(dest, old, new Path(s"$cv/.staging-ingest-1")),
      reset = () => (),
      commit = () => AnnIndex.appendBatch(batch, 1L, root),
      recover = () => SwapCommit.restore(fs, dest, old),
      read = () => ingest(), committed, committed)((got, pre, _) => got == pre)
    assert(steps == 4)
    assert(fs.listStatus(new Path(cv)).map(_.getPath.getName).toSet == Set("ingest=1"))
  }
}
