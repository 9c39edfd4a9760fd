package graft

/** What [[Harness]] owns: Bench's session config, cleanup after every
  * query run (failed or not), and the handshake-drained job counter
  * behind `graft.Explain --jobs`. */
class HarnessSpec extends SparkSpec {

  test("session carries each of Bench's keys") {
    val conf = Harness.session(4).conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ==
      (1 << 20).toString)
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("run unpersists after a query that persists and after one that throws") {
    val sc = spark.sparkContext
    Harness.run(spark, sfDir, "q6_revenue_delta", Harness.noop)
    assert(sc.getPersistentRDDs.isEmpty)

    // dedup_clusters localCheckpoints each label-propagation round
    var persisted = 0
    val ok = Harness.run(spark, sfDir, "dedup_clusters", { df =>
      Harness.noop(df)
      persisted = sc.getPersistentRDDs.size
    })
    assert(ok.isRight, ok)
    assert(persisted > 0)
    assert(sc.getPersistentRDDs.isEmpty)

    val failed = Harness.run(spark, sfDir, "q6_revenue_delta", { df =>
      df.persist().count()
      persisted = sc.getPersistentRDDs.size
      throw new IllegalStateException("sink failure")
    })
    assert(failed.left.exists(_.getMessage == "sink failure"))
    assert(persisted > 0)
    assert(sc.getPersistentRDDs.isEmpty)
  }

  test("Explain's job counter gives the same shape on every run") {
    val shapes = Explain.withJobCounter(spark) { counter =>
      Seq.fill(2)(counter.shape(sfDir, "q6_revenue_delta").toOption.get)
    }
    val Seq(a, b) = shapes.map(s => (s.jobs, s.stages, s.tasks))
    assert(a._1 > 0 && a._3 >= a._2 && a._2 >= a._1, a)
    assert(a == b)
    assert(shapes.forall(_.jobLines.size == a._1))
  }
}
