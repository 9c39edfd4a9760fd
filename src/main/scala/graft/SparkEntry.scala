package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.river.River
import graft.util.Det

/** Driver contract — see /root/repo/SURVEY.md §2 + the builder prompt.
  *
  * Every entry in `queries` is a thin wiring of a library operator
  * (graft.river / graft.operators / graft.text / graft.dedup /
  * graft.similarity / graft.multimodal) with fixed deterministic
  * parameters; `oracleSql` carries the DuckDB-equivalent SQL for the
  * driver's correctness gate.
  *
  * Determinism conventions (shared with the SQL side — see graft.util.Det):
  *  - event timestamps surface as epoch-micros BIGINT (`ts_us`); the oracle
  *    uses epoch_us(ts) to mirror Spark's ns→µs truncation;
  *  - double aggregates are computed on exact BIGINT/DECIMAL domains and
  *    cast to double once;
  *  - every window/top-k ordering carries a unique tie-break column.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("river_full_pipeline")(spark, "/root/testdata/sf0.001")

  // ---- shared builders -------------------------------------------------

  /** Shared q_geo_polygon vertex list (lat, lon) — ONE definition feeds
    * both the Spark predicate and the generated oracle SQL so the two
    * engines cannot drift. Concave hexagon (the (5,5) notch) over the
    * synthetic coordinate domain; every vertex exactly representable. */
  private val geoPolygon: Seq[(Double, Double)] = Seq(
    (0.0, -50.0), (40.0, -10.0), (5.0, 5.0),
    (10.0, 60.0), (-30.0, 40.0), (-45.0, -25.0))

  /** Shared sparse_vector query weights — ONE definition feeds both the
    * Spark program and the generated oracle (integer weights; the prune
    * threshold is applied as a cross-multiplied integer rule on both
    * sides). df probes on record: at 790000 ppm some of these terms are
    * pruned and some kept at BOTH verify SFs, so the prune branch is
    * exercised by the gate itself. */
  private val sparseVectorWeights: Seq[(String, Long)] = Seq(
    ("scan", 3L), ("hash", 2L), ("window", 2L),
    ("vector", 1L), ("batch", 2L), ("merge", 1L))

  /** Shared intervals-AST trees (r13) — ONE definition compiled to both
    * the Spark Column program and the generated DuckDB oracle
    * ([[text.IntervalsAst]]), so the two engines cannot drift.
    * `intervalsAstTree` is the ES docs' canonical compose —
    * all_of(ordered) inside any_of — plus an unordered multi-term match
    * exercising union gap coverage; `intervalsNestedTree` binds the
    * other way (any_of INSIDE all_of(ordered) with an outer gap cap). */
  private val intervalsAstTree: text.IntervalsAst.Node = {
    import text.IntervalsAst._
    IAnyOf(Seq(
      IAllOf(Seq(IMatch(Seq("hash")), IMatch(Seq("join"))),
        ordered = true, maxGaps = 2),
      IMatch(Seq("merge", "sort", "scan"), ordered = false, maxGaps = 3)))
  }
  private val intervalsNestedTree: text.IntervalsAst.Node = {
    import text.IntervalsAst._
    IAllOf(Seq(
      IAnyOf(Seq(IMatch(Seq("hash")), IMatch(Seq("merge")))),
      IMatch(Seq("join", "scan"), ordered = true, maxGaps = 4)),
      ordered = true, maxGaps = 6)
  }
  /** ES intervals `prefix` rule composed under all_of(ordered) — the
    * docs' "term, then a completion of the next word" pattern. */
  private val intervalsPrefixTree: text.IntervalsAst.Node = {
    import text.IntervalsAst._
    IAllOf(Seq(IMatch(Seq("hash")), IPrefix("jo")),
      ordered = true, maxGaps = 2)
  }
  /** ES intervals `filter` — merge..sort spans that do NOT contain a
    * 'batch' (the docs' not_containing example shape). */
  private val intervalsFilterTree: text.IntervalsAst.Node = {
    import text.IntervalsAst._
    IFilter(IMatch(Seq("merge", "sort"), ordered = false, maxGaps = 4),
      "not_containing", IMatch(Seq("batch")))
  }
  /** ES intervals `fuzzy` rule (r14) under all_of(ordered) — an exact
    * term followed closely by a typo-tolerant one (the
    * completion-fuzzy 'jion' probe as an intervals source). */
  private val intervalsFuzzyTree: text.IntervalsAst.Node = {
    import text.IntervalsAst._
    IAllOf(Seq(IMatch(Seq("merge")), IFuzzy("jion", 2)),
      ordered = true, maxGaps = 3)
  }
  /** ES intervals `wildcard` rule (r14) composed both ways: a
    * wildcard-led ordered pair unioned with a bare wildcard source
    * (LIKE spelling, the text_wildcard_search convention). */
  private val intervalsWildcardTree: text.IntervalsAst.Node = {
    import text.IntervalsAst._
    IAnyOf(Seq(
      IAllOf(Seq(IWildcard("s_a%"), IMatch(Seq("join"))),
        ordered = true, maxGaps = 2),
      IWildcard("vec%")))
  }
  /** Span-family queries (r14) — shared between the Spark wiring and
    * the generated oracle via [[text.Spans.toIntervals]]. */
  private val spanNearQuery: text.Spans.Span = {
    import text.Spans._
    SNear(Seq(STerm("merge"), STerm("sort")), slop = 3, inOrder = false)
  }
  private val spanOrQuery: text.Spans.Span = {
    import text.Spans._
    SOr(Seq(SNear(Seq(STerm("hash"), STerm("join")), slop = 2, inOrder = true),
      STerm("vector")))
  }
  private val spanNotQuery: text.Spans.Span = {
    import text.Spans._
    SNot(SNear(Seq(STerm("merge"), STerm("sort")), slop = 4, inOrder = false),
      STerm("batch"), pre = 1, post = 1)
  }
  // r15: the remaining span members — within/containing (the two
  // enclosure filters) and multi (prefix rewrite inside a near)
  private val spanWithinQuery: text.Spans.Span = {
    import text.Spans._
    SWithin(STerm("join"),
      SNear(Seq(STerm("hash"), STerm("scan")), slop = 6, inOrder = false))
  }
  private val spanContainingQuery: text.Spans.Span = {
    import text.Spans._
    SContaining(
      SNear(Seq(STerm("hash"), STerm("scan")), slop = 6, inOrder = false),
      STerm("join"))
  }
  private val spanMultiQuery: text.Spans.Span = {
    import text.Spans._
    SNear(Seq(SMultiPrefix("sc"), STerm("table")), slop = 4, inOrder = false)
  }

  /** Shared percolator stored-query set — ONE definition feeds the
    * exhaustive form, the r13 term-index-prefiltered form, and (via
    * the shared oracle SQL) the correctness gate for both. */
  private val percolatorQueries: Seq[(String, text.BoolDsl.Query)] = Seq(
    "pq1" -> text.BoolDsl.Bool(
      must = Seq(text.BoolDsl.MatchQ("hash")),
      filter = Seq(text.BoolDsl.RangeQ("n_chars", gte = Some(200)))),
    // explicit minimum_should_match=1: with a filter present the
    // ES default is 0 and the should clauses would not constrain
    "pq2" -> text.BoolDsl.Bool(
      should = Seq(text.BoolDsl.MatchQ("join"), text.BoolDsl.MatchQ("vector")),
      filter = Seq(text.BoolDsl.TermQ("lang", "en")),
      minimumShouldMatch = 1),
    "pq3" -> text.BoolDsl.Bool(
      must = Seq(text.BoolDsl.MatchQ("scan")),
      mustNot = Seq(text.BoolDsl.TermQ("source", "src13"))))

  /** Small shared triangle for q_geo_shape_small (r13): 0.5°-scale so
    * synthetic envelopes (0.5–4.25° half-sizes, ≥1° across) can CONTAIN
    * it — the relation the big hexagon can never exercise through the
    * hash gate (and dually, no envelope fits WITHIN a sub-envelope
    * shape — the two wirings split the four relations between them).
    * Vertices exactly representable (quarters). */
  private val geoTriangleSmall: Seq[(Double, Double)] = Seq(
    (10.0, 20.0), (10.5, 20.25), (10.25, 20.5))

  /** q_ip_range shared edges (10.64/10.128/10.192 quarter boundaries)
    * — one definition feeds the Spark facet and the generated oracle. */
  private val ipEdges: Seq[Long] =
    Seq(64L, 128L, 192L).map(h => 10L * 16777216L + h * 65536L)
  private def ipDotted(v: Long): String =
    s"${v >> 24 & 255}.${v >> 16 & 255}.${v >> 8 & 255}.${v & 255}"

  /** Maintained-index roots, memoized per (kind, sfDir): the indexed
    * dedup queries READ a maintained index — building it is ingest-time
    * work, not query-time work, so Bench's repeated thunk invocations
    * must not re-run two full index writes per timed run (ADVICE r11).
    * First use per JVM builds the index into a temp dir; a shutdown
    * hook removes every memoized root. */
  private val indexRoots =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private def indexRoot(kind: String, dir: String)(build: String => Unit): String =
    indexRoots.computeIfAbsent((kind, dir), { _ =>
      val root = java.nio.file.Files.createTempDirectory(s"graft-$kind-idx").toString
      build(root)
      root
    })
  sys.addShutdownHook {
    indexRoots.values.forEach { root =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(root))
    }
  }

  /** Maintained suggester-vocab index root for a data dir (memoized
    * like the dedup/ANN indexes — ingest-time work): the documents
    * table ingested as 3 disjoint batches through the additive
    * TermsIndex merge. */
  private def termsIndexRoot(s: SparkSession, dir: String): String =
    indexRoot("terms", dir) { r =>
      val docs = Tables.documents(s, dir)
      (0 until 3).foreach(b =>
        text.TermsIndex.updateWithBatch(
          docs.filter(col("doc_id") % 3 === b), b.toLong, r))
    }

  /** Two-phase river scan (reference facet-then-scan): tiny watermark
    * aggregates over the simulated sink (= the first half of the key
    * space — the "already-imported" snapshot, deterministic so the
    * oracle can reproduce it), then a literal-predicate scan of the raw
    * events so the filter pushes into the parquet source (file/row-group
    * pruning at scale). An empty table or empty sink degrades to a full
    * scan, mirroring the reference's setMinTimestamp(0) first-import
    * path. Returns rows past the watermark with `ts` still in the file's
    * scan-native form (raw epoch-ns BIGINT or TimestampType µs). */
  private def literalScan(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsRaw(s, dir)
    val halfRow = raw.agg(floor(max(col("event_id")) / 2).cast("long")).head()
    if (halfRow.isNullAt(0)) raw // empty table → full (empty) scan
    else {
      val sink = raw.filter(col("event_id") < halfRow.getLong(0))
      River.watermarkMicros(sink, "ts") match {
        case Some(wmUs) => River.scanPastWatermark(raw, "ts", wmUs)
        case None => raw // empty sink → first import, full scan
      }
    }
  }

  /** Deterministic id-keyed PII injection shared by the pipe_redact and
    * release-manifest wirings: the synthetic corpus carries no PII, so a
    * bare scrub would be vacuously clean at every SF — ~14% of docs get
    * an email, ~9% a phone, ~8% an SSN-shaped id, keyed on doc_id so
    * both engines build the identical text. */
  private def injectPii(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com now"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit(" call 555-867-5309 today")).otherwise(lit("")),
      when(col("doc_id") % 13 === 0, lit(" ssn 123-45-6789 on file")).otherwise(lit(""))))

  // ---- the inventory ---------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ----- river core (SURVEY §2 group 1) -----

    "river_incremental_scan" -> ((s, dir) => {
      val scan = literalScan(s, dir)
      scan.select(col("event_id"),
        Det.tsMicrosOf(scan, "ts").as("ts_us"), col("user_id"),
        col("event_type"), col("value"))
    }),

    "river_stats_facet" -> ((s, dir) =>
      River.statsFacet(Tables.events(s, dir), "ts")),

    "river_latest_per_key" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      River.latestPerKey(ev, "user_id", "ts", "event_id")
        .select(col("user_id"), col("event_id"), Det.tsMicros(col("ts")).as("ts_us"),
          col("event_type"), col("value"))
    }),

    "river_first_per_key" -> ((s, dir) => {
      // ES `create` op semantics (first write wins, later docs with the
      // same _id rejected) — the dual of the upsert view: same single
      // hash shuffle, ascending order
      val ev = Tables.events(s, dir)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
      ev.select(col("user_id"), col("event_id"), Det.tsMicros(col("ts")).as("ts_us"),
          col("event_type"), col("value"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }),

    "q_stratified_sample" -> ((s, dir) => {
      // per-stratum deterministic hash sampling: common event types get
      // a tight band, rare ones a wide band — the "rebalance the mix"
      // primitive of a training-data pipeline, reproducible everywhere
      val ev = Tables.events(s, dir)
      val band = when(col("event_type").isin("view", "click"), lit("04"))
        .otherwise(lit("20"))
      ev.filter(substring(md5(col("event_id").cast("string").cast("binary")), 1, 2) < band)
        .select(col("event_id"), col("event_type"), col("value"))
    }),

    "river_batching" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      River.assignBatches(ev, Seq(Det.tsMicros(col("ts")), col("event_id")), 100)
        .groupBy("batch_id")
        .agg(count(lit(1)).as("n"), min("event_id").as("min_id"),
          max("event_id").as("max_id"), Det.moneySum(col("value")).as("sum_value"))
    }),

    "river_normalize_fields" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val raw = concat(lit("Type#"), upper(col("event_type")), lit(".props:K"))
      // r21 (guide §1.2): raw/norm are pure functions of event_type, so
      // dedup the narrow column FIRST (map-side-combining hash agg) and
      // run the two regex normalizations on the handful of survivors —
      // the old order paid 2 regex evals per corpus row before its
      // distinct. upper() is not injective, so the final distinct on
      // the derived strings stays; the row set is identical.
      ev.select(col("event_type")).distinct()
        .select(raw.as("raw"),
          River.normalizeField(raw).as("norm_plain"),
          River.normalizeField(raw, Some(".")).as("norm_sep"))
        .distinct()
    }),

    "river_projection" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type").isin("view", "click"))
        .select(col("event_id"), col("event_type"),
          Det.tsMicros(col("ts")).as("ts_us"), col("value"))),

    "river_id_extraction" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val k = River.extractId(col("props"), "k")
      ev.select(col("event_id"), k.cast("long").as("k_id"),
        concat(col("event_type"), lit(":"), k).as("doc_id"))
    }),

    "river_nested_columns" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      // materialize qualifier, then the parsed struct, so the JSON
      // extraction and the split run once per row, not per output column
      ev.withColumn("qualifier", concat(col("event_type"), lit("-"),
          River.extractId(col("props"), "k")))
        .withColumn("__p", River.parseQualifier(col("qualifier"), "-"))
        .select(col("event_id"), col("qualifier"),
          array_join(col("__p.path"), ".").as("parent"),
          col("__p.leaf").as("leaf"), col("value"))
    }),

    // dynamic-mapping drift: fields first appearing after the mapping
    // bootstrap slice (the ES mapping-explosion audit)
    "river_mapping_drift" -> ((s, dir) =>
      river.River.mappingDrift(Tables.events(s, dir), 200L)),

    "q_nested_match" -> ((s, dir) =>
      river.Nested.nestedMatch(
        river.Nested.nestedDocs(Tables.events(s, dir)), "click", 15.0)),

    // nested sort: parents ordered by min matching-item value,
    // missing: _last (ES sort-by-nested-field semantics)
    "q_nested_sort" -> ((s, dir) =>
      river.Nested.nestedSort(
        river.Nested.nestedDocs(Tables.events(s, dir)), "click", 25)),

    "q_nested_exists" -> ((s, dir) =>
      river.Nested.nestedExists(river.Nested.nestedDocs(Tables.events(s, dir)))),

    "q_nested_terms_agg" -> ((s, dir) =>
      river.Nested.nestedTermsAgg(river.Nested.nestedDocs(Tables.events(s, dir)))),

    // reverse_nested with parent-level sub-aggs (r15): per nested
    // term, parent metrics counted ONCE per parent — exact-decimal
    // per-row array fold, no second shuffle
    "q_reverse_nested" -> ((s, dir) =>
      river.Nested.reverseNestedAgg(
        river.Nested.nestedDocs(Tables.events(s, dir)))),

    // ES nested + inner_hits (round 12): the matching items themselves,
    // exploded after the per-row array filter
    "q_nested_inner_hits" -> ((s, dir) =>
      river.Nested.nestedInnerHits(
        river.Nested.nestedDocs(Tables.events(s, dir)), "click", 15.0)),

    "river_delete_old" -> ((s, dir) => {
      val scanned = literalScan(s, dir)
      val failed = Tables.eventsRaw(s, dir).filter(col("event_id") % 97 === 0)
      River.deleteOldKeys(scanned, failed, "event_id")
    }),

    "hbase_source_scan" -> ((s, dir) =>
      s.read.format("hbasesim").option("path", s"$dir/events.parquet").load()
        .filter(col("ts_us") > 1705320000000000L && col("event_type") === "click")
        .select("event_id", "ts_us", "user_id", "event_type", "value")),

    "hbase_source_watermark" -> ((s, dir) =>
      // the reference's watermark facet (HBaseParser.setMinTimestamp:258):
      // ES answers max(_timestamp) from index metadata without touching
      // docs; here max/min/count push into the source and come from
      // parquet footer statistics — zero row reads, zero row groups opened
      s.read.format("hbasesim").option("path", s"$dir/events.parquet").load()
        .agg(max(col("ts_us")).as("max_ts_us"), min(col("ts_us")).as("min_ts_us"),
          count(lit(1)).as("n"))),

    "hbase_source_page" -> ((s, dir) =>
      // ES search_after keyset page served by the source: the cursor
      // filter AND the top-N both push into the scan (bounded heap per
      // row group ships ≤ pageSize rows; Spark merges partials)
      s.read.format("hbasesim").option("path", s"$dir/events.parquet").load()
        .select("event_id", "ts_us", "user_id", "event_type", "value")
        .filter(col("ts_us") > 1705330000000000L)
        .orderBy(col("ts_us"), col("event_id"))
        .limit(50)),

    // ----- analytics (SURVEY §2 group 2) -----

    "q1_pricing_summary" -> ((s, dir) =>
      operators.Analytics.pricingSummary(Tables.lineitem(s, dir), "1998-09-02")),

    "q3_shipping_priority" -> ((s, dir) =>
      operators.Analytics.shippingPriority(Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir), "BUILDING", "1997-06-01", 10)),

    "q5_region_revenue" -> ((s, dir) =>
      operators.Analytics.regionRevenue(Tables.region(s, dir), Tables.nation(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), "ASIA", "1997-01-01", "1998-01-01")),

    "q_order_priority" -> ((s, dir) =>
      operators.Analytics.orderPriority(Tables.orders(s, dir), Tables.lineitem(s, dir), 60)),

    "q_top_customers" -> ((s, dir) =>
      operators.Analytics.topCustomers(Tables.customer(s, dir), Tables.orders(s, dir), 20)),

    "q_supplier_window" -> ((s, dir) =>
      operators.Analytics.supplierRunning(Tables.lineitem(s, dir), 5)),

    "q_events_sessionize" -> ((s, dir) =>
      operators.Analytics.sessionize(Tables.events(s, dir), 1800000000L)),

    "q_events_time_window" -> ((s, dir) =>
      operators.Analytics.timeWindow(Tables.events(s, dir), "5 minutes")),

    "q_terms_facet" -> ((s, dir) =>
      operators.Analytics.termsFacet(Tables.events(s, dir), "event_type", 10)),

    // terms agg ordered by a sub-agg metric (avg desc), not doc_count
    "q_terms_order_subagg" -> ((s, dir) =>
      operators.Analytics.termsOrderBySubAgg(Tables.events(s, dir), "event_type", 5)),

    "q_date_histogram" -> ((s, dir) =>
      operators.Analytics.dateHistogram(Tables.events(s, dir))),

    // calendar_interval date_histogram (r15, the Kibana default):
    // REAL tz bucket edges from a java.time-generated ladder — the
    // January data's first UTC hours land in the Dec-2023 NY bucket,
    // so the tz shift is load-bearing at every SF. Oracle = DuckDB's
    // own ICU date_trunc (independent tzdb implementation).
    "q_date_histogram_calendar" -> ((s, dir) =>
      operators.Analytics.calendarDateHistogram(Tables.events(s, dir),
        "month", "America/New_York", 2023, 2027)),
    "q_date_histogram_calquarter" -> ((s, dir) =>
      operators.Analytics.calendarDateHistogram(Tables.events(s, dir),
        "quarter", "America/New_York", 2023, 2027)),
    "q_date_histogram_calweek" -> ((s, dir) =>
      operators.Analytics.calendarDateHistogram(Tables.events(s, dir),
        "week", "America/New_York", 2023, 2027)),

    // date_histogram offset + min_doc_count:0 + extended_bounds (r15):
    // 12h buckets shifted by 3h, bounds 2023-12-30..2024-02-02 — the
    // empty lead/tail buckets materialize with n=0 at every SF
    "q_date_histogram_filled" -> ((s, dir) =>
      operators.Analytics.dateHistogramFilled(Tables.events(s, dir),
        43200000000L, 10800000000L, 1703894400000000L, 1706832000000000L)),

    "q_salted_agg" -> ((s, dir) =>
      operators.Skew.saltedStats(Tables.events(s, dir),
        "user_id", "value", "event_id", 16)),

    "q6_revenue_delta" -> ((s, dir) =>
      operators.Analytics.revenueDelta(Tables.lineitem(s, dir),
        "1997-01-01", "1998-01-01", 0.05, 0.07, 24)),

    "q10_returned_items" -> ((s, dir) =>
      operators.Analytics.returnedItems(Tables.customer(s, dir), Tables.nation(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir), 20)),

    "q18_large_orders" -> ((s, dir) =>
      operators.Analytics.largeOrders(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), 150L, 20)),

    "q_part_type_stats" -> ((s, dir) =>
      operators.Analytics.partTypeStats(Tables.part(s, dir), 15)),

    // ES join-field family (round 12): has_child / has_parent as LEFT
    // SEMI joins — predicate pushed to the inner side's scan, no row
    // explosion, facet on the survivors
    "q_has_child" -> ((s, dir) =>
      operators.JoinField.hasChildFacet(Tables.orders(s, dir),
        Tables.lineitem(s, dir), 48.0, 0.05)),

    "q_has_parent" -> ((s, dir) =>
      operators.JoinField.hasParentFacet(Tables.orders(s, dir),
        Tables.lineitem(s, dir), 300000.0, "1996-01-01", "1997-01-01")),

    // parent_id query: children of one named parent (point lookup,
    // predicate pushed to the child scan)
    "q_parent_id" -> ((s, dir) =>
      operators.JoinField.parentIdQuery(Tables.lineitem(s, dir), 7L)),

    // children agg (the aggregation-side complement of has_child):
    // parent buckets with child metrics via one parent-key equi-join
    "q_children_agg" -> ((s, dir) =>
      operators.Analytics.childrenAgg(Tables.orders(s, dir),
        Tables.lineitem(s, dir))),

    // missing agg: sparse field derived deterministically from props.k
    // (k%5==0 → absent, else term c(k%7)) so absence is replayable
    "q_missing_agg" -> ((s, dir) =>
      operators.Analytics.missingAgg(Tables.events(s, dir), 5, 7)),

    // global agg: purchase-hits metrics beside the corpus gauge in one
    // conditional-agg pass
    "q_global_agg" -> ((s, dir) =>
      operators.Analytics.globalAgg(Tables.events(s, dir),
        col("event_type") === "purchase" && col("value") >= 50.0)),

    // terms partitioning: partition 2 of 4 of the user_id term space
    // (md5 nibble band), top-25 by count
    "q_terms_partition" -> ((s, dir) =>
      operators.Analytics.termsPartition(Tables.events(s, dir), 4, 2, 25)),

    // change_point: max-mean-shift step split over the day histogram
    "q_change_point" -> ((s, dir) =>
      operators.Analytics.changePoint(Tables.events(s, dir))),

    // ip_prefix: /12 subnet rollup of the derived IPv4 space
    "q_ip_prefix" -> ((s, dir) =>
      operators.Analytics.ipPrefixFacet(Tables.events(s, dir), 12)),

    // bucket_script: per-day purchase/click value ratio (conversion
    // shape), zero-denominator buckets skipped per ES gap policy
    "q_bucket_script" -> ((s, dir) =>
      operators.Analytics.bucketScript(Tables.events(s, dir))),

    // rank_feature (saturation): boost·x/(x+pivot) popularity scoring
    "q_rank_feature" -> ((s, dir) =>
      operators.Analytics.rankFeature(Tables.events(s, dir), 50.0, 2.0, 20)),

    // rank_feature `log` function on the DetLn kernel (scaling 0.25 =
    // exact power-of-two; bit-identical doubles on both engines)
    "q_rank_feature_log" -> ((s, dir) =>
      operators.Analytics.rankFeatureLog(Tables.events(s, dir), 0.25, 2.0, 20)),

    // scripted_metric (ES docs' profit script + a second state): the
    // map/combine/reduce contract compiled onto one hash agg
    "q_scripted_metric" -> ((s, dir) =>
      operators.Analytics.scriptedMetric(Tables.events(s, dir), 500.0)),

    // extended_stats_bucket: second-moment sibling stats over the day
    // histogram's bucket values
    "q_extended_stats_bucket" -> ((s, dir) =>
      operators.Analytics.extendedStatsBucket(Tables.events(s, dir))),

    // bucket_correlation: exact Pearson r between the purchase and
    // click day-series (insert_zeros gap policy)
    "q_bucket_correlation" -> ((s, dir) =>
      operators.Analytics.bucketCorrelation(Tables.events(s, dir))),

    // intervals (ordered, max_gaps=6): hash → join → scan with ≤ 6
    // interior gaps, triple-count scored
    "text_intervals" -> ((s, dir) =>
      text.TextOps.intervalsQuery(Tables.documents(s, dir),
        "hash", "join", "scan", 6, 25)),

    // ES cumulative_sum pipeline agg (r13): running totals over the
    // day histogram — bounded bucket window
    "q_cumulative_sum" -> ((s, dir) =>
      operators.Analytics.cumulativeSum(Tables.events(s, dir))),

    // ES derivative pipeline agg (r13): first difference + per-day
    // rate, null first bucket (the ES contract)
    "q_derivative" -> ((s, dir) =>
      operators.Analytics.derivative(Tables.events(s, dir))),

    // ES terms-agg shard approximation contract (r13): per-shard top
    // shardSize, merged counts + doc_count_error_upper_bound
    "q_terms_shard_error" -> ((s, dir) =>
      text.TextOps.termsShardError(Tables.documents(s, dir), 3, 10, 25)),

    // ES bucket_count_ks_test (r13): two-sided KS statistic of the day
    // histogram's doc counts vs uniform
    "q_bucket_ks_test" -> ((s, dir) =>
      operators.Analytics.bucketCountKsTest(Tables.events(s, dir))),

    // ES match_bool_prefix (r13): type-ahead bool form — full terms as
    // should matches + the in-flight token as an any-position prefix
    "text_match_bool_prefix" -> ((s, dir) =>
      text.TextOps.matchBoolPrefix(Tables.documents(s, dir),
        Seq("dup", "query"), "sc", 25)),

    // search_as_you_type: bool_prefix over root + _2gram + _3gram
    // shingle subfields, integer hit-count score
    "text_search_as_you_type" -> ((s, dir) =>
      text.TextOps.searchAsYouType(Tables.documents(s, dir),
        "part filter sm", 20)),

    // ES rescore (r13): BM25 top-30 window re-ranked by phrase
    // proximity of the query's own terms (query scan adjacency),
    // combined 1.0×first + 2.0×phrase_tf
    "q_rescore" -> ((s, dir) =>
      text.TextOps.rescoreSearch(Tables.documents(s, dir),
        Seq("dup", "query", "scan"), "query", "scan", 30, 10)),

    // intervals combinator AST (r13): all_of(ordered) inside any_of +
    // unordered multi-term match — minimal-interval algebra, oracle
    // generated from the SAME tree
    "text_intervals_ast" -> ((s, dir) =>
      text.IntervalsAst.intervalsAstQuery(Tables.documents(s, dir),
        intervalsAstTree, 25)),

    // any_of nested INSIDE all_of(ordered) with an outer gap cap —
    // the combinator-binds direction the flat form can't express
    "text_intervals_nested" -> ((s, dir) =>
      text.IntervalsAst.intervalsAstQuery(Tables.documents(s, dir),
        intervalsNestedTree, 25)),

    // intervals `prefix` rule under all_of(ordered) (r13)
    "text_intervals_prefix" -> ((s, dir) =>
      text.IntervalsAst.intervalsAstQuery(Tables.documents(s, dir),
        intervalsPrefixTree, 25)),

    // intervals `filter` combinator (r13): not_containing
    "text_intervals_filter" -> ((s, dir) =>
      text.IntervalsAst.intervalsAstQuery(Tables.documents(s, dir),
        intervalsFilterTree, 25)),

    // intervals `fuzzy` leaf rule (r14)
    "text_intervals_fuzzy" -> ((s, dir) =>
      text.IntervalsAst.intervalsAstQuery(Tables.documents(s, dir),
        intervalsFuzzyTree, 25)),

    // intervals `wildcard` leaf rule (r14)
    "text_intervals_wildcard" -> ((s, dir) =>
      text.IntervalsAst.intervalsAstQuery(Tables.documents(s, dir),
        intervalsWildcardTree, 25)),

    // span family (r14): the ES-documented span→intervals compile
    // (Spans.toIntervals) — each query rides the intervals compiler
    // and its generated oracle
    "text_span_near" -> ((s, dir) =>
      text.Spans.spanSearch(Tables.documents(s, dir), spanNearQuery, 25)),
    "text_span_or" -> ((s, dir) =>
      text.Spans.spanSearch(Tables.documents(s, dir), spanOrQuery, 25)),
    "text_span_not" -> ((s, dir) =>
      text.Spans.spanSearch(Tables.documents(s, dir), spanNotQuery, 25)),
    "text_span_within" -> ((s, dir) =>
      text.Spans.spanSearch(Tables.documents(s, dir), spanWithinQuery, 25)),
    "text_span_containing" -> ((s, dir) =>
      text.Spans.spanSearch(Tables.documents(s, dir), spanContainingQuery, 25)),
    "text_span_multi" -> ((s, dir) =>
      text.Spans.spanSearch(Tables.documents(s, dir), spanMultiQuery, 25)),

    // terms lookup: docs sharing tokens with doc 42 (set membership,
    // not TF scoring — the more_like_this contrast)
    "text_terms_lookup" -> ((s, dir) =>
      text.TextOps.termsLookup(Tables.documents(s, dir), 42L, 25)),

    // TSDB time_series agg: per (user band, day) count/sum/last-value
    // series points in one struct-max hash agg
    "q_time_series" -> ((s, dir) =>
      operators.Analytics.timeSeriesAgg(Tables.events(s, dir), 10)),

    // join-field parent agg: child buckets → parent metrics, each
    // parent once per bucket
    "q_parent_agg" -> ((s, dir) =>
      operators.Analytics.parentAgg(Tables.orders(s, dir),
        Tables.lineitem(s, dir))),

    // distance_feature: proximity-to-origin rational decay on ts
    // (origin mid-range, pivot = 1 day)
    "q_distance_feature" -> ((s, dir) =>
      operators.Analytics.distanceFeature(Tables.events(s, dir),
        1705330000000000L, 86400000000L, 2.0, 20)),

    // runtime fields: weekend day-of-week × value band derived at
    // query time (schema-on-read), faceted
    "q_runtime_fields" -> ((s, dir) =>
      operators.Analytics.runtimeFields(Tables.events(s, dir))),

    // random_sampler: deterministic md5-band p=0x200/0x1000=12.5%
    // sample, estimates rescaled by 1/p
    "q_random_sampler" -> ((s, dir) =>
      operators.Analytics.randomSamplerAgg(Tables.events(s, dir), "200")),

    // TSDB counter rate (reset-aware): per-user per-hour increase
    // rate, top-20
    "q_counter_rate" -> ((s, dir) =>
      operators.Analytics.counterRate(Tables.events(s, dir), 20)),

    "q_bool_filter" -> ((s, dir) =>
      operators.Analytics.boolFilter(Tables.events(s, dir),
        50.0, Seq("click", "purchase"), 10L)),

    "q_numeric_histogram" -> ((s, dir) =>
      operators.Analytics.numericHistogram(Tables.events(s, dir), 10.0)),

    // bounds [-50, 650] at width 25 → buckets -2..26; values span 0-560
    // so the negative and >560 buckets exercise min_doc_count=0
    "q_histogram_bounds" -> ((s, dir) =>
      operators.Analytics.histogramBounds(Tables.events(s, dir), 25.0, -50.0, 650.0)),

    "q_boxplot" -> ((s, dir) =>
      operators.Analytics.boxplot(Tables.events(s, dir))),

    "q_mad" -> ((s, dir) =>
      operators.Analytics.medianAbsDeviation(Tables.events(s, dir))),

    "q_string_stats" -> ((s, dir) =>
      operators.Analytics.stringStats(Tables.events(s, dir))),

    "q_percentile_facet" -> ((s, dir) =>
      operators.Analytics.percentileFacet(Tables.events(s, dir), Seq(0.5, 0.9, 0.99))),

    // the 100 TB twins of the exact-percentile family: same discrete
    // rank contract — bit-identical results, the SAME oracle SQL drives
    // both — but two-pass histogram-CDF rank-select instead of the
    // window forms' full-corpus sort onto 5 reducers (Percentiles
    // scaladoc has the shape)
    "q_percentile_facet_dist" -> ((s, dir) =>
      operators.Percentiles.percentileFacetDist(Tables.events(s, dir),
        Seq(0.5, 0.9, 0.99))),

    "q_boxplot_dist" -> ((s, dir) =>
      operators.Percentiles.boxplotDist(Tables.events(s, dir))),

    "q_mad_dist" -> ((s, dir) =>
      operators.Percentiles.madDist(Tables.events(s, dir))),

    "q_cardinality" -> ((s, dir) =>
      operators.Analytics.cardinality(Tables.events(s, dir), "event_type", "user_id")),

    "q_search_after" -> ((s, dir) =>
      operators.Analytics.searchAfter(Tables.eventsRaw(s, dir),
        1705330000000000L, 0L, 50)),

    "q_hash_sample" -> ((s, dir) =>
      operators.Analytics.hashSample(Tables.events(s, dir), "05")),

    // n=500: a real subset at every verify SF (1k-100k events)
    "q_sampler" -> ((s, dir) =>
      operators.Analytics.samplerAgg(Tables.events(s, dir), 500)),

    // 150 users × cap 5 = 750 candidates > n=500 → both the per-key cap
    // and the global truncation bind
    "q_diversified_sampler" -> ((s, dir) =>
      operators.Analytics.diversifiedSampler(Tables.events(s, dir), 5, 500)),

    "q_rollup_agg" -> ((s, dir) =>
      operators.Analytics.rollupAgg(Tables.events(s, dir))),

    "q_pivot_daily" -> ((s, dir) =>
      operators.Analytics.pivotDaily(Tables.events(s, dir),
        Seq("click", "error", "purchase", "signup", "view"))),

    "q_cube_agg" -> ((s, dir) =>
      operators.Analytics.cubeAgg(Tables.events(s, dir))),

    "q_composite_agg" -> ((s, dir) =>
      operators.Analytics.compositeAgg(Tables.events(s, dir), "click", 0L, 20)),

    // ES frequent_item_sets agg: size-2/3 itemsets over per-order
    // brand baskets, minimum_support 1‰ (exact integer cross-multiply)
    "q_frequent_item_sets" -> ((s, dir) =>
      operators.Analytics.frequentItemSets(
        Tables.lineitem(s, dir), Tables.part(s, dir))),

    "q_pipeline_aggs" -> ((s, dir) =>
      // first bucket's derivative → 0.0 sentinel (ES emits no value
      // there; null would trip the value-hash compare)
      operators.Analytics.pipelineAggs(Tables.events(s, dir))
        .withColumn("derivative", coalesce(col("derivative"), lit(0.0)))),

    "q_filters_facet" -> ((s, dir) =>
      operators.Analytics.filtersFacet(Tables.events(s, dir))),

    // filters agg with other_bucket: true — the residual _other_ slice
    "q_filters_other_bucket" -> ((s, dir) =>
      operators.Analytics.filtersFacetOther(Tables.events(s, dir))),

    "q_bucket_selector" -> ((s, dir) =>
      operators.Analytics.bucketSelector(Tables.events(s, dir))),

    "q_stats_bucket" -> ((s, dir) =>
      operators.Analytics.statsBucket(Tables.events(s, dir))),

    // lag=7: weekly deseasonalization over the ~31 day buckets
    "q_serial_diff" -> ((s, dir) =>
      operators.Analytics.serialDiff(Tables.events(s, dir), 7)),

    // 7-bucket window, the q_pipeline_aggs mov7 convention
    "q_moving_fn" -> ((s, dir) =>
      operators.Analytics.movingFn(Tables.events(s, dir), 7)),

    // ES moving_percentiles pipeline agg: exact rank-selected p50/p90
    // over a 7-bucket sliding window of the day histogram (round 12)
    "q_moving_percentiles" -> ((s, dir) =>
      operators.Analytics.movingPercentiles(Tables.events(s, dir), 7,
        Seq(0.5, 0.9))),

    // ES ip field + ip_range facet over the derived deterministic IPv4
    // (round 12): quarter-space buckets, zero-count ranges emitted
    "q_ip_range" -> ((s, dir) =>
      operators.Analytics.ipRangeFacet(Tables.events(s, dir), ipEdges)),

    // ES percentiles_bucket: one-shot p25/p50/p90/p99 of the whole
    // day-histogram sum set (round 12)
    "q_percentiles_bucket" -> ((s, dir) =>
      operators.Analytics.percentilesBucket(Tables.events(s, dir),
        Seq(0.25, 0.5, 0.9, 0.99))),

    "q_rate" -> ((s, dir) =>
      operators.Analytics.rateAgg(Tables.events(s, dir))),

    "q_normalize" -> ((s, dir) =>
      operators.Analytics.normalizeBuckets(Tables.events(s, dir))),

    // click vs view: the two largest strata at every SF
    "q_t_test" -> ((s, dir) =>
      operators.Analytics.tTest(Tables.events(s, dir), "click", "view")),

    "q_cumulative_cardinality" -> ((s, dir) =>
      operators.Analytics.cumulativeCardinality(Tables.events(s, dir))),

    // target 10 buckets over the ~31-day span → the ladder picks 7-day
    // intervals (~5 buckets) at every SF
    "q_auto_date_histogram" -> ((s, dir) =>
      operators.Analytics.autoDateHistogram(Tables.events(s, dir), 10)),

    // 50 (type × user_mod) buckets at every SF → k=25 truncates for real
    "q_multi_terms" -> ((s, dir) =>
      operators.Analytics.multiTerms(Tables.events(s, dir), 25)),

    // 31 day buckets at every SF → from=5/size=10 pages a real interior
    "q_bucket_sort" -> ((s, dir) =>
      operators.Analytics.bucketSort(Tables.events(s, dir), 5, 10)),

    "q_range_facet" -> ((s, dir) =>
      // the [1000, ∞) bucket is empty at every SF (value ≤ ~490) —
      // exercising ES's zero-count-bucket contract
      operators.Analytics.rangeFacet(Tables.events(s, dir),
        Seq(0.0, 50.0, 100.0, 200.0, 400.0, 1000.0))),

    "q_matrix_stats" -> ((s, dir) =>
      operators.Analytics.matrixStats(Tables.lineitem(s, dir))),

    "q_top_hits" -> ((s, dir) =>
      operators.Analytics.topHits(Tables.events(s, dir), 3)),

    // 150 users at every SF → 20 collapsed groups truncate for real;
    // 3 inner hits each → 60 rows
    "q_field_collapse" -> ((s, dir) =>
      operators.Analytics.fieldCollapse(Tables.events(s, dir), 20, 3)),

    "q_top_metrics" -> ((s, dir) =>
      operators.Analytics.topMetrics(Tables.events(s, dir))),

    // probe "bath": batch at distance 1; data + hash both at distance 2
    // with different corpus frequencies, so the freq tie-break binds
    "text_suggest" -> ((s, dir) =>
      text.TextOps.termSuggest(Tables.documents(s, dir), "bath", 2, 5)),

    // three misspelled tokens; both bigram links score > 0 on the
    // winning chain ("hash join table", bigram sum 57+), so the chain
    // ranking binds, not just the per-token distances
    "text_phrase_suggest" -> ((s, dir) =>
      text.TextOps.phraseSuggest(Tables.documents(s, dir),
        Seq("hsah", "jion", "tble"), 2, 3, 10)),

    // prefix "s" covers 5+ vocab terms (scan/sort/stream/small/slow/
    // spark…) with distinct frequencies, so the weight ranking binds
    "text_completion_suggest" -> ((s, dir) =>
      text.TextOps.completionSuggest(Tables.documents(s, dir), "s", 5)),

    // 3-of-4 distinct terms — between `terms` (any) and `must` (all);
    // measured: keeps 277/500 docs at sf0.01 (m=2 keeps 414, m=4 keeps
    // 11) — the minimum_should_match bound is the load-bearing knob
    "text_terms_set" -> ((s, dir) =>
      text.TextOps.termsSetQuery(Tables.documents(s, dir),
        Seq("dup", "merge", "vector", "window"), 3)),

    // value decays around origin 50: plateau |v−50| ≤ 0.1 (12 events at
    // sf0.01 — both plateau and slope appear in the top-20 page),
    // linear to 0.5 at distance 40, floor 0 — pivot s = 40/(1−0.5) = 80
    "q_decay_function" -> ((s, dir) =>
      operators.Analytics.decayFunctionScore(Tables.events(s, dir),
        50.0, 40.0, 0.1, 0.5, 20)),

    // gauss decay (r14): exp()-based — the second transcendental
    // exception; output is the floor-margin-proved score grid (see
    // Analytics.gaussDecayScore + the exhaustive EsAggsSpec proof)
    "q_decay_gauss" -> ((s, dir) =>
      operators.Analytics.gaussDecayScore(Tables.events(s, dir),
        50.0, 80.0, 0.5, 20)),

    // exp decay (r15): the last decay member — same floor-grid
    // discipline, M searched for the exp score set (EsAggsSpec proof)
    "q_decay_exp" -> ((s, dir) =>
      operators.Analytics.expDecayScore(Tables.events(s, dir),
        50.0, 80.0, 0.5, 20)),

    // function_score field_value_factor, log1p modifier on DetLn
    // (bit-exact per-row ln; factor 0.125 = exact power-of-two scaling)
    "q_function_score_fvf" -> ((s, dir) =>
      operators.Analytics.fieldValueFactor(Tables.orders(s, dir),
        0.125, 1.5, 15)),

    // function_score with script_score-class functions (r16): sealed
    // score AST (DetLn log1p, saturation, clamp arithmetic) under
    // score_mode=sum / boost_mode=multiply — one tree compiles both
    // engines (ScoreAst.wiredBase/wiredFuncs)
    "q_function_score_script" -> ((s, dir) =>
      operators.ScoreAst.wiredQuery(Tables.orders(s, dir))),

    // function_score with the DECAY kernels as AST nodes (r17,
    // VERDICT r16 #7): gauss + exp decay grids × saturation under
    // score_mode sum / boost_mode multiply — the composition ES users
    // write; the floor-grid margin proofs of q_decay_gauss/exp carry
    // over (same constants, same field), so the page is hash-green
    "q_function_score_decay" -> ((s, dir) =>
      operators.ScoreAst.wiredDecayQuery(Tables.events(s, dir))),

    // ----- geo surface (SURVEY §2, round 11): deterministic lat/lon
    // derived from user_id/event_id (Geo.withCoords — exact modulo +
    // one double division, IEEE-identical in DuckDB) -----

    // box covers ~35% of the lat band × ~33% of lon → ~12% of events,
    // faceted per family like the ES filter+agg shape
    "q_geo_bounding_box" -> ((s, dir) =>
      operators.Geo.boundingBox(operators.Geo.withCoords(Tables.events(s, dir)),
        -20.0, 40.0, -90.0, 30.0)),

    // plane-distance top-25 around (10, −30) within 20° radius
    "q_geo_distance" -> ((s, dir) =>
      operators.Geo.distanceTopK(operators.Geo.withCoords(Tables.events(s, dir)),
        10.0, -30.0, 400.0, 25)),

    // precision-2 geohash buckets (≤1024 cells), top 20 by doc count
    "q_geohash_grid" -> ((s, dir) =>
      operators.Geo.geohashGrid(operators.Geo.withCoords(Tables.events(s, dir)), 2, 20)),

    // distance rings at 5/10/20/40° around (10, −30) — edges squared,
    // zero-count rings emitted like ES's full range list
    "q_geo_distance_rings" -> ((s, dir) =>
      operators.Geo.distanceRings(operators.Geo.withCoords(Tables.events(s, dir)),
        10.0, -30.0, Seq(25.0, 100.0, 400.0, 1600.0))),

    // per-family geo_centroid on the exact decimal domain
    "q_geo_centroid" -> ((s, dir) =>
      operators.Geo.centroids(operators.Geo.withCoords(Tables.events(s, dir)),
        "event_type")),

    // per-family geo_bounds (tight bounding box, pure min/max)
    "q_geo_bounds" -> ((s, dir) =>
      operators.Geo.bounds(operators.Geo.withCoords(Tables.events(s, dir)),
        "event_type")),

    // ES geo_polygon filter (even-odd ray casting, concave hexagon) +
    // the per-family facet — the one geo query type missing from the
    // round-11 ring (VERDICT r11 next #4)
    "q_geo_polygon" -> ((s, dir) =>
      operators.Geo.polygonFacet(
        operators.Geo.withCoords(Tables.events(s, dir)), geoPolygon)),

    // ES geo_shape query (r13): synthetic envelopes classified
    // within / intersects / disjoint vs the shared concave polygon —
    // exact SAT edge tests + ray-cast corners, oracle generated from
    // the same vertex list
    "q_geo_shape" -> ((s, dir) =>
      operators.Geo.geoShapeFacet(
        operators.Geo.withCoords(Tables.events(s, dir)), geoPolygon)),

    // the small-polygon twin: envelopes can CONTAIN the query shape,
    // so all four ES relations flow through the hash gate
    "q_geo_shape_small" -> ((s, dir) =>
      operators.Geo.geoShapeFacet(
        operators.Geo.withCoords(Tables.events(s, dir)), geoTriangleSmall)),

    // ES geotile_grid at zoom 3 (8×8 web-mercator tiles), top 20 by
    // doc count — the libm exception with the exhaustive margin proof
    // (GeoSpec; see Geo.geotileGrid)
    "q_geotile_grid" -> ((s, dir) =>
      operators.Geo.geotileGrid(
        operators.Geo.withCoords(Tables.events(s, dir)), 3, 20)),

    // ES geohex_grid re-expressed: integer-exact two-offset-grid hexbin
    // (hex Voronoi cells), count + exact value sum per cell, top-20
    "q_geohex_grid" -> ((s, dir) =>
      operators.Geo.geohexGrid(Tables.events(s, dir))),

    // ES geo_line: per-family track of the 20 earliest points in
    // (ts, id) order, exploded — bounded TopKPairs prefilter, final
    // rank on groups×20 survivors only (round 12)
    "q_geo_line" -> ((s, dir) =>
      operators.Geo.geoLine(
        operators.Geo.withCoords(Tables.events(s, dir)), 20)),

    // the bool-query compiler (round 10) with this round's geo clauses:
    // geo_bounding_box + numeric range in FILTER context, terms in
    // must (score 2.0), value >= 200 excluded by must_not, and a
    // geo_distance SHOULD that lifts near-origin docs to 2.5 — every
    // clause measured load-bearing at sf0.001 (spec-asserted)
    "q_bool_dsl_geo" -> ((s, dir) => {
      import text.BoolDsl._
      search(operators.Geo.withCoords(Tables.events(s, dir)),
        Bool(
          must = Seq(TermsQ("event_type", Seq("click", "view"), boost = 2.0)),
          filter = Seq(
            GeoBoundingBoxQ("lat", "lon", -20.0, 40.0, -90.0, 30.0),
            RangeQ("value", gte = Some(10.0))),
          mustNot = Seq(RangeQ("value", gte = Some(200.0))),
          should = Seq(GeoDistanceQ("lat", "lon", 10.0, -30.0, 400.0, boost = 0.5))),
        20, idCol = "event_id")
    }),

    // ES 8.8 rrf retriever: BM25 top-30 fused with cosine-kNN top-30
    // of query vector 7; 1-2 docs sit in BOTH lists per SF and the
    // fusion promotes one to the top — the reordering is real
    "q_rrf_hybrid" -> ((s, dir) =>
      text.TextOps.rrfHybrid(Tables.documents(s, dir), Tables.embeddings(s, dir),
        Seq("dup", "query", "scan"), 7L, 30, 15)),

    "text_highlight" -> ((s, dir) =>
      text.TextOps.highlight(Tables.documents(s, dir), "vector", 30, 25)),

    "q_extended_stats" -> ((s, dir) =>
      operators.Analytics.extendedStats(Tables.events(s, dir))),

    // probes spread across the value distribution (range ~0-560)
    "q_percentile_ranks" -> ((s, dir) =>
      operators.Analytics.percentileRanks(Tables.events(s, dir),
        Seq(10.0, 50.0, 200.0))),

    // edges: Jan 8 / Jan 15 / Jan 25 / Mar 1 2024 (epoch µs); data ends
    // Jan 31, so the last bucket [Mar 1, ∞) is zero-count at every SF —
    // exercising ES's every-bucket-emitted contract
    "q_date_range" -> ((s, dir) =>
      operators.Analytics.dateRangeFacet(Tables.events(s, dir),
        Seq(1704672000000000L, 1705276800000000L, 1706140800000000L,
          1709251200000000L))),

    // deterministic synthetic weight: (user_id mod 10) + 1
    "q_weighted_avg" -> ((s, dir) =>
      operators.Analytics.weightedAvg(Tables.events(s, dir),
        col("user_id") % 10 + 1)),

    // same filter family as q_filters_facet → the two facets cohere
    "q_adjacency_matrix" -> ((s, dir) =>
      operators.Analytics.adjacencyMatrix(Tables.events(s, dir), Seq(
        "high" -> (col("value") >= 90),
        "click" -> (col("event_type") === "click"),
        "early" -> (col("user_id") < 500)))),

    "text_rare_terms" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // scale-free tail threshold at 7/9 of the corpus, exact integer
      // arithmetic both engines share. Measured doc-frequency profile of
      // the synthetic corpus (31 distinct terms): one genuine rarity at
      // 5% df, the bulk clustered at 75-80% — 7/9 splits that bulk, so
      // the verify row set is a real tail (15-22 terms per SF), not the
      // single-row near-vacuous check of ≤10%. count(*) on parquet is
      // footer metadata, not a scan.
      text.TextOps.rareTerms(docs, docs.count() * 7 / 9)
    }),

    "text_more_like_this" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // max_doc_freq scale-free as 4/5 of the corpus, in integer
      // arithmetic both engines evaluate exactly; count(*) on parquet
      // is answered from footer metadata, not a scan
      val maxDf = docs.count() * 4 / 5
      text.TextOps.moreLikeThis(docs, Seq(0L, 1L, 2L), maxDf, 15)
    }),

    "river_charset" -> ((s, dir) => {
      // charset surface (ref HBaseRiver.charset:74): payload bytes →
      // charset-decoded string; round-trip proves lossless decode.
      // Null-safe (<=>, coalesced length) so a null payload compares
      // identically on both engines instead of leaking a NULL row
      val ev = Tables.events(s, dir)
      val cs = "UTF-8"
      ev.select(col("event_id"),
        coalesce(length(encode(col("props"), cs)).cast("long"), lit(0L)).as("n_bytes"),
        (decode(encode(col("props"), cs), cs) <=> col("props")).as("roundtrip_ok"))
    }),

    "river_charset_latin1" -> ((s, dir) => {
      // non-UTF-8 charset surface (ref HBaseRiver.charset:74 accepts an
      // arbitrary charset name): genuinely non-ASCII Latin-1 content
      // round-trips losslessly at 1 byte/char where UTF-8 needs 2 —
      // proves the decode path is charset-parameterized, not UTF-8-pinned
      val ev = Tables.events(s, dir)
      val cs = "ISO-8859-1"
      val raw = regexp_replace(col("event_type"), "e", "é")
      val enc = encode(raw, cs)
      ev.select(col("event_id"), raw.as("raw"),
        octet_length(enc).cast("long").as("n_bytes_latin1"),
        octet_length(encode(raw, "UTF-8")).cast("long").as("n_bytes_utf8"),
        (decode(enc, cs) <=> raw).as("roundtrip_ok"))
    }),

    "q_asof_join" -> ((s, dir) =>
      // no-match → -1 sentinels: value-hash comparers disagree on NaN/null
      operators.Analytics.asofJoin(Tables.events(s, dir), "purchase", "click")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          coalesce(col("matched_id"), lit(-1L)).as("matched_id"),
          coalesce(col("matched_ts_us"), lit(-1L)).as("matched_ts_us"),
          col("value"))),

    "river_parse_tree" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      // readDataTree equivalent: the row payload parsed into a typed
      // document (ref HBaseParser.readDataTree:204) + id extraction
      val doc = expr("from_json(props, 'k BIGINT')")
      ev.select(col("event_id"), doc.getField("k").as("k"),
        concat(River.normalizeField(col("event_type")), lit(":"),
          doc.getField("k").cast("string")).as("doc_id"))
    }),

    // ----- text analysis (SURVEY §2 group 3) -----

    "text_tokencount" -> ((s, dir) =>
      text.TextOps.tokenCounts(Tables.documents(s, dir))),

    "text_quality" -> ((s, dir) =>
      text.TextOps.quality(Tables.documents(s, dir))),

    "text_langid" -> ((s, dir) =>
      text.TextOps.langId(Tables.documents(s, dir))),

    "text_fingerprint" -> ((s, dir) =>
      text.TextOps.fingerprint(Tables.documents(s, dir))),

    "text_top_terms" -> ((s, dir) =>
      text.TextOps.topTerms(Tables.documents(s, dir), 20)),

    // RAKE keyword extraction: per-doc top-3 stopword-free phrases by
    // exact fixed-point degree/freq scores
    "text_rake_keywords" -> ((s, dir) =>
      text.TextOps.rakeKeywords(Tables.documents(s, dir))),

    "text_match_query" -> ((s, dir) =>
      text.TextOps.matchQuery(Tables.documents(s, dir),
        Seq("hash", "join", "vector"), 15)),

    // ids query: get-by-id-list; the In predicate reaches the scan
    "q_ids" -> ((s, dir) =>
      text.TextOps.idsQuery(Tables.documents(s, dir),
        Seq(3L, 41L, 172L, 400L))),

    "text_tfidf" -> ((s, dir) =>
      text.TextOps.tfidfSearch(Tables.documents(s, dir),
        Seq("hash", "join", "vector"), 15)),

    // best_fields across title (first 8 tokens, boost 4) and body
    // (boost 1) under a bool filter context (lang terms + n_chars
    // range, both pushed to the scan) — the multi_match + bool
    // composition every real ES user sends. Boost 4 is measured to
    // DECIDE ranks at the verify SFs (3-4 of the top 15 score via the
    // boosted title), so best_fields is non-vacuous
    "q_multi_match" -> ((s, dir) => {
      val filtered = Tables.documents(s, dir)
        .filter(col("lang").isin("en", "de") && col("n_chars") >= 150)
      val body = split(lower(col("text")), "\\s+")
      val title = slice(body, 1, 8)
      text.TextOps.multiMatch(filtered,
        Seq(("title", title, 4.0), ("body", body, 1.0)),
        Seq("hash", "join", "vector"), 15)
    }),

    // multi_match most_fields (r14): per-field BM25 summed with
    // boosts (title window ^2, body ^1) — evidence stacks across
    // fields, unlike best_fields' max
    "q_multi_match_most_fields" -> ((s, dir) =>
      text.TextOps.multiMatchFields(Tables.documents(s, dir),
        Seq("merge", "query", "scan"), 8, "most_fields", 2.0, 1.0, 15)),

    // multi_match cross_fields (r14): per-term blended df across
    // fields (BlendedTermQuery max-df), best field per term
    "q_multi_match_cross_fields" -> ((s, dir) =>
      text.TextOps.multiMatchFields(Tables.documents(s, dir),
        Seq("merge", "query", "scan"), 8, "cross_fields", 1.0, 1.0, 15)),

    // dis_max with tie_breaker=0.3 (between best_fields and
    // most_fields): title = first 8 tokens ^2, body ^1
    "q_dis_max" -> ((s, dir) => {
      val body = split(lower(col("text")), "\\s+")
      val title = slice(body, 1, 8)
      text.TextOps.disMax(Tables.documents(s, dir),
        Seq(("title", title, 2.0), ("body", body, 1.0)),
        Seq("hash", "join", "vector"), 0.3, 15)
    }),

    // boosting query: hash/join ranked, vector-mentioning docs demoted
    // to 0.3× (demoted, not excluded — the must_not difference)
    "q_boosting" -> ((s, dir) =>
      text.TextOps.boostingQuery(Tables.documents(s, dir),
        Seq("hash", "join"), "vector", 0.3, 20)),

    // pinned query: curated ids 42, 7, 123 first in that order, then
    // organic TF ranking
    "q_pinned" -> ((s, dir) =>
      text.TextOps.pinnedQuery(Tables.documents(s, dir),
        Seq(42L, 7L, 123L), Seq("hash", "join"), 20)),

    // match_phrase_prefix: "hash j..." type-ahead phrase
    "text_match_phrase_prefix" -> ((s, dir) =>
      text.TextOps.matchPhrasePrefix(Tables.documents(s, dir),
        "hash", "j", 25)),

    // frequent_item_sets (pairs): top-20 vocab, support ≥ 5 docs
    "text_frequent_pairs" -> ((s, dir) =>
      text.TextOps.frequentItemSets(Tables.documents(s, dir), 20, 5L, 25)),

    // size-3 item sets (r14): same vocab bound, C(20,3) worst-case
    // per-doc expansion
    "text_frequent_triples" -> ((s, dir) =>
      text.TextOps.frequentTriples(Tables.documents(s, dir), 20, 5L, 25)),

    // span_first: "hash" within the first 12 tokens
    "text_span_first" -> ((s, dir) =>
      text.TextOps.spanFirst(Tables.documents(s, dir), "hash", 12, 25)),

    // _rank_eval: precision@5/@10, recall@20, MRR of the BM25 page
    // against the all-terms judgment set
    "q_rank_eval" -> ((s, dir) =>
      text.TextOps.rankEval(Tables.documents(s, dir),
        Seq("dup", "query", "scan"), 20)),

    // _rank_eval dcg metric (normalize: true -> NDCG@10) on the same
    // BM25 page; discounts are a 10-literal ladder, no runtime ln
    "q_rank_eval_dcg" -> ((s, dir) =>
      text.TextOps.rankEvalDcg(Tables.documents(s, dir),
        Seq("dup", "query", "scan"), 20)),

    // completion suggester served FROM the maintained vocab index
    // (TermsIndex — the ES index-time FST shape): corpus ingested as 3
    // disjoint batches, additive merges; query reads only the vocab
    // table. Shares text_completion_suggest's oracle — merged counts
    // == from-scratch counts (TermsIndexSpec pins it).
    "text_completion_suggest_indexed" -> ((s, dir) => {
      val root = termsIndexRoot(s, dir)
      text.TermsIndex.completionSuggestIndexed(s, root, "s", 5)
    }),

    // term suggester ("did you mean") from the same maintained vocab —
    // shares text_suggest's oracle
    "text_suggest_indexed" -> ((s, dir) => {
      val root = termsIndexRoot(s, dir)
      text.TermsIndex.termSuggestIndexed(s, root, "bath", 2, 5)
    }),

    // combined_fields (BM25F): title window (8 tokens) ^2 + body ^1
    // merged into one virtual field with shared IDF
    "text_combined_fields" -> ((s, dir) =>
      text.TextOps.combinedFieldsSearch(Tables.documents(s, dir),
        Seq("merge", "query", "scan"), 8, 2L, 1L, 15)),

    // linear retriever: 0.75·minmax(bm25) + 0.25·minmax(kNN cosine)
    // over the two top-30 pages (ES 8.16 normalized hybrid fusion)
    "q_retriever_linear" -> ((s, dir) =>
      text.TextOps.linearRetriever(Tables.documents(s, dir),
        Tables.embeddings(s, dir), Seq("dup", "query", "scan"),
        7L, 30, 15, 0.75, 0.25)),

    // query_string: the Kibana q= mini-language parsed onto the
    // BoolDsl AST — one scan, pushable keyword/range conjuncts
    "q_query_string" -> ((s, dir) =>
      text.BoolDsl.search(Tables.documents(s, dir),
        text.QueryString.parse(
          "hash AND (join OR vector) AND -source:src13 AND n_chars:>=150"),
        20)),

    // simple_query_string: the +/|/- operator spellings with default-OR
    // juxtaposition, compiled onto the same BoolDsl tree
    "q_simple_query_string" -> ((s, dir) =>
      text.BoolDsl.search(Tables.documents(s, dir),
        text.QueryString.parse(
          "scan + (vector | stream) -source:src7 n_chars:<300"),
        20)),

    // percolate with stored BOOL TREES: three registered queries with
    // filter/should/must_not context evaluated in one corpus pass
    "text_percolate_dsl" -> ((s, dir) =>
      text.BoolDsl.percolateDsl(Tables.documents(s, dir), percolatorQueries)),

    // the 10⁵-registered-queries scale form (r13): term-index
    // prefilter → candidate pairs → per-pair single-tree eval; same
    // stored set, same oracle, spec-pinned equal to the exhaustive form
    "text_percolate_dsl_indexed" -> ((s, dir) =>
      text.BoolDsl.percolateDslIndexed(Tables.documents(s, dir), percolatorQueries)),

    // the 10⁴-plus registered-query scale path (r14): same candidates,
    // per-pair evaluation by the plan-size-constant PercolatorEval
    // kernel instead of the Q-deep CASE chain (which the analyzer
    // kills between 800 and 3000 stored queries — SCALING.md §Percolator
    // at 10⁴ registered queries)
    "text_percolate_dsl_atscale" -> ((s, dir) =>
      text.BoolDsl.percolateDslIndexedAtScale(Tables.documents(s, dir), percolatorQueries)),

    // ES bool tree composing five leaf types + a nested bool: must
    // (match 'hash' AND (join OR vector, scored)), should (lang=en
    // boost), must_not (source=src13 — load-bearing: src13 is INSIDE
    // the filter terms list), filter context (n_chars range + source
    // terms — pushed to the scan, plan-verified in BoolDslSpec)
    "q_bool_dsl" -> ((s, dir) => {
      import text.BoolDsl._
      text.BoolDsl.search(Tables.documents(s, dir),
        Bool(
          must = Seq(MatchQ("hash", 1.0),
            Bool(should = Seq(MatchQ("join", 2.0), MatchQ("vector", 0.5)))),
          should = Seq(TermQ("lang", "en", 0.25)),
          mustNot = Seq(TermQ("source", "src13")),
          filter = Seq(RangeQ("n_chars", gte = Some(150), lte = Some(450)),
            TermsQ("source", (0 to 9).map("src" + _) :+ "src13"))),
        20)
    }),

    // terms span the IDF range: df 25 / 385 / 398 of 500 docs at the
    // verify SF — the rare term's IDF dominates, which is the BM25
    // behavior raw TF cannot express
    "text_bm25" -> ((s, dir) =>
      text.TextOps.bm25Search(Tables.documents(s, dir),
        Seq("dup", "query", "scan"), 15)),

    // ES _explain: the per-doc PER-TERM BM25 score decomposition of
    // the text_bm25 page (tf, df, DetLn idf, saturation×length-norm
    // factor, term weight, doc score = Σ weights bit-for-bit) —
    // page-sized output, hash-green dual-SF (r16 verdict #5)
    "q_explain" -> ((s, dir) =>
      text.TextOps.bm25Explain(Tables.documents(s, dir),
        Seq("dup", "query", "scan"), 15)),

    "text_percolate" -> ((s, dir) =>
      text.TextOps.percolate(Tables.documents(s, dir), Map(
        "q_hashjoin" -> Seq("hash", "join"),
        "q_vector" -> Seq("vector"),
        "q_slowscan" -> Seq("slow", "scan", "table")))),

    "text_significant_terms" -> ((s, dir) =>
      text.TextOps.significantTerms(Tables.documents(s, dir), 5L, 20)),

    // chi_square significance heuristic (r13): same contingency, the
    // pluggable-heuristic scorer ES offers beside the default
    "text_significant_chi2" -> ((s, dir) =>
      text.TextOps.significantTermsChi2(Tables.documents(s, dir), 5L, 20)),

    // mutual_information heuristic (r13) — the trio's third scorer
    "text_significant_mi" -> ((s, dir) =>
      text.TextOps.significantTermsMi(Tables.documents(s, dir), 5L, 20)),

    // JLH (r13) — ES's DEFAULT significance heuristic, transcendental-free
    "text_significant_jlh" -> ((s, dir) =>
      text.TextOps.significantTermsJlh(Tables.documents(s, dir), 5L, 20)),

    // significant_terms background_filter (r15): the background set is
    // the lang='en' slice, not the whole index — all four heuristics
    // over the one scoped contingency frame, ranked by JLH (ES default)
    "text_significant_bg" -> ((s, dir) =>
      text.TextOps.significantTermsBackground(Tables.documents(s, dir),
        "src3", "en", 2L, 20)),

    // fuzzy completion (r13): typed 'bach' still completes to batch
    // AND hash — the ES completion suggester's typo tolerance
    "text_completion_fuzzy" -> ((s, dir) =>
      text.TextOps.completionSuggestFuzzy(Tables.documents(s, dir),
        "bach", 2, 15)),

    "text_significant_text" -> ((s, dir) =>
      text.TextOps.significantText(Tables.documents(s, dir), "hash", 5L, 20)),

    "q_salted_join" -> ((s, dir) =>
      operators.Skew.saltedJoin(Tables.events(s, dir), Tables.customer(s, dir),
        "user_id", "c_custkey", "event_id", 8)
        .select(col("event_id"), col("user_id"), col("c_name"), col("value"))),

    "text_prefix_search" -> ((s, dir) =>
      text.TextOps.prefixSearch(Tables.documents(s, dir), "sc", 25)),

    // ES _terms_enum API (r14): ascending distinct-term walk under a
    // prefix, with doc frequencies — the field-value autocomplete
    "text_terms_enum" -> ((s, dir) =>
      text.TextOps.termsEnum(Tables.documents(s, dir), "s", 25)),

    // ES _termvectors API: one doc's term vector (tf, first position)
    // + the corpus stats the API reports (doc_freq, ttf)
    "text_termvectors" -> ((s, dir) =>
      text.TextOps.termVectors(Tables.documents(s, dir), 7L)),

    // ES sparse_vector query (ELSER shape): integer-weight sparse dot
    // product with the df-ratio prune option (see sparseVectorWeights)
    "q_sparse_vector" -> ((s, dir) =>
      text.TextOps.sparseVectorQuery(Tables.documents(s, dir),
        sparseVectorWeights, prunePpm = 790000L, k = 10)),

    // LIKE-spelled wildcard (ES `s?a*`): scan, small, spark, ...
    "text_wildcard_search" -> ((s, dir) =>
      text.TextOps.wildcardSearch(Tables.documents(s, dir), "s_a%", 25)),

    // full-match alternation (ES regexp semantics): batch | hash
    "text_regexp_search" -> ((s, dir) =>
      text.TextOps.regexpSearch(Tables.documents(s, dir), "(b|h)a(tch|sh)", 25)),

    // edit distance ≤ 2 of "row": row (0), slow (2)
    "text_fuzzy_search" -> ((s, dir) =>
      text.TextOps.fuzzySearch(Tables.documents(s, dir), "row", 2, 25)),

    "text_phrase_match" -> ((s, dir) =>
      text.TextOps.phraseMatch(Tables.documents(s, dir), "hash join", 25)),

    // slop=2 genuinely binds: 64-77 docs match vs 24-27 at exact
    // adjacency (measured), and k=25 truncates for real at every SF
    "text_phrase_slop" -> ((s, dir) =>
      text.TextOps.phraseMatchSlop(Tables.documents(s, dir), "hash", "join", 2, 25)),

    "text_langid_eval" -> ((s, dir) =>
      text.TextOps.langIdEval(Tables.documents(s, dir))),

    "text_corpus_stats" -> ((s, dir) =>
      text.TextOps.corpusStats(Tables.documents(s, dir))),

    // ES categorize_text, deterministic baseline form (round 12):
    // digit-wildcarded 3-token signature buckets, top 20
    "text_categorize" -> ((s, dir) =>
      text.TextOps.categorize(Tables.documents(s, dir), 3, 20)),

    "text_chunk" -> ((s, dir) =>
      text.TextOps.chunk(Tables.documents(s, dir), 50, 40)),

    "text_ngrams" -> ((s, dir) =>
      text.TextOps.topNgrams(Tables.documents(s, dir), 20)),

    // ES analyzer chain (r20, VERDICT r19 #6): stem → broadcast
    // synonym token-map, same chain on both sides — "merges" stems to
    // "merge" then maps to "join"; docs containing only "merge" match.
    // Load-bearing both directions at every verify SF (spec-checked).
    "text_analyzer_search" -> ((s, dir) =>
      text.TextOps.analyzerSearch(Tables.documents(s, dir),
        "merges big tables quickly sorting")),

    // ----- dedup (SURVEY §2 group 4) -----

    "dedup_exact" -> ((s, dir) =>
      dedup.Dedup.exact(Tables.documents(s, dir))),

    "dedup_fingerprint" -> ((s, dir) =>
      dedup.Dedup.byFingerprint(Tables.documents(s, dir))),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      dedup.Dedup.ngramJaccard(Tables.documents(s, dir), 3, 0.8)),

    "dedup_clusters" -> ((s, dir) =>
      dedup.Dedup.nearDupClusters(
        dedup.Dedup.ngramJaccard(Tables.documents(s, dir), 3, 0.8))),

    "dedup_containment" -> ((s, dir) => {
      // the synthetic corpus has no quote-inclusion (measured: every
      // containment≥0.9 pair is already a Jaccard≥0.8 pair), so the
      // wiring injects it deterministically — every 17th doc quotes its
      // predecessor wholesale (the pipe_redact inject-then-detect
      // pattern). Detector then finds ~29 quote pairs with J < 0.8 per
      // SF that symmetric Jaccard dedup misses.
      val base = Tables.documents(s, dir)
      val donor = base.select((col("doc_id") + 1).as("doc_id"),
        col("text").as("donor_text"))
      val docs = base.join(donor, Seq("doc_id"), "left")
        .withColumn("text",
          when(col("doc_id") % 17 === 0 && col("donor_text").isNotNull,
            concat(col("text"), lit(" "), col("donor_text")))
            .otherwise(col("text")))
        .select("doc_id", "text")
      dedup.Dedup.containment(docs, 3, 0.9)
    }),

    "dedup_minhash_lsh" -> ((s, dir) =>
      dedup.MinHash.nearDupPairs(Tables.documents(s, dir))),

    // paragraph-grain near-dup (r15): MinHash+LSH over 32-token
    // paragraph units — 50 pairs at sf0.01 on the raw corpus (all
    // inside whole-doc near-dup pairs here; real corpora have
    // independent paragraph-grain duplication, which is why the grain
    // exists). Oracle: all-pairs Jaccard replay (the v2 LSH-complete
    // bet; 16×2 banding misses a true 0.8-pair w.p. ~1e-7).
    "dedup_paragraph" -> ((s, dir) =>
      dedup.MinHash.paragraphNearDupPairs(Tables.documents(s, dir))),

    "dedup_simhash" -> ((s, dir) =>
      dedup.SimHash.nearDup(Tables.documents(s, dir))),

    "dedup_embedding" -> ((s, dir) =>
      dedup.Dedup.embeddingNearDup(Tables.embeddings(s, dir), 0.4)),

    // τ=0.45: inside the data's similarity range (max pairwise cosine
    // is ~0.51 at sf0.01, ~0.60 at sf0.1 — τ=0.6 returned the empty
    // set at every verify SF, making the rows-only check vacuous).
    // Routed through the τ-dispatcher: at τ ≤ 0.5 sign-LSH is weakly
    // selective and its ×10 ratio measured 37× (SCALING.md round 7),
    // so this wiring rides the IVF candidate generator; the LSH
    // generator remains the high-τ branch, spec-exercised end-to-end
    // in NewOpsSpec (subset of exact + recall + non-empty at this τ,
    // plus dispatcher branch-equivalence).
    "dedup_embedding_lsh" -> ((s, dir) =>
      dedup.Dedup.embeddingNearDupAuto(Tables.embeddings(s, dir), 0.45)),

    "dedup_embedding_ivf" -> ((s, dir) =>
      dedup.Dedup.embeddingNearDupIvf(Tables.embeddings(s, dir), 0.4)),

    "dedup_incremental" -> ((s, dir) => {
      // new batch = every 10th doc, snapshot = the rest — a scale-free
      // deterministic split both engines reproduce
      val docs = Tables.documents(s, dir)
      dedup.Dedup.incrementalNgramJaccard(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), 3, 0.8)
    }),

    "dedup_incremental_minhash" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      dedup.MinHash.incrementalNearDupPairs(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0))
    }),

    // ----- maintained-index incremental dedup (round 11): the same
    // delta math, but the hot-shingle df table / LSH band index are
    // READ from tables maintained batch-by-batch (DedupIndex), not
    // recomputed — the shape a continuously-running 100 TB import
    // actually has. Snapshot ingested as 3 deterministic batches. -----

    // (wiring builds the index with the FEWEST batches that exercise
    // the read path — snapshot + delta; multi-batch incrementality is
    // StreamingDedupIndexSpec's job, and benching 4 index builds per
    // run would measure construction, not the query)
    "dedup_incremental_indexed" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val old = docs.filter(col("doc_id") % 10 =!= 0)
      val neu = docs.filter(col("doc_id") % 10 === 0)
      // index build memoized per sfDir (ingest-time work; see indexRoot).
      // The delta's counts merge in before querying (df is additive —
      // hot(old ∪ new) without any recompute over old).
      val root = indexRoot("dedup", dir) { r =>
        dedup.DedupIndex.updateWithBatch(old, 0L, r)
        dedup.DedupIndex.updateWithBatch(neu, 1L, r)
      }
      dedup.DedupIndex.incrementalNgramJaccardIndexed(s, root, old, neu, 3, 0.8)
    }),

    "dedup_incremental_minhash_indexed" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val old = docs.filter(col("doc_id") % 10 =!= 0)
      val neu = docs.filter(col("doc_id") % 10 === 0)
      // new bands join the index only AFTER dedup (MinHash.bandTable
      // doc) — the delta is signed fresh, the index is old-only
      val root = indexRoot("mh", dir)(r => dedup.DedupIndex.updateWithBatch(old, 0L, r))
      dedup.DedupIndex.incrementalNearDupPairsIndexed(s, root, old, neu)
    }),

    // incremental SEMANTIC near-dup against the maintained IVF index
    // (round 12): delta probes the frozen centroids, corpus read
    // partition-prunes to the probed lists, exact cosine confirms —
    // the dedup-before-ingest shape. Corpus-only index (the delta must
    // NOT be ingested), memoized per sfDir. rows-only gate;
    // AnnIndexSpec pins subset-of-exact + recall.
    "dedup_embedding_indexed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val old = emb.filter(col("vec_id") % 10 =!= 0)
      val neu = emb.filter(col("vec_id") % 10 === 0)
      val root = indexRoot("annd", dir) { r =>
        similarity.AnnIndex.trainCentroids(old, 0L, r)
        (0L until 2L).foreach(b =>
          similarity.AnnIndex.appendBatch(old.filter(col("vec_id") % 2 === b), b, r))
      }
      similarity.AnnIndex.incrementalEmbeddingNearDup(s, root, neu, 0.4, nprobe = 4)
    }),

    "dedup_substring" -> ((s, dir) =>
      dedup.Dedup.substringDedup(Tables.documents(s, dir), 8)),

    "q_supplier_topk_agg" -> ((s, dir) =>
      operators.Analytics.supplierTopKAgg(Tables.lineitem(s, dir), 3)),

    "q_trailing_window" -> ((s, dir) =>
      operators.Analytics.trailingWindow(Tables.events(s, dir), 600000000L)),

    // ----- similarity search (SURVEY §2 group 5) -----

    "ann_bruteforce_topk" -> ((s, dir) =>
      similarity.Ann.bruteForceTopK(Tables.embeddings(s, dir), 10, 5)),

    "ann_topk_agg" -> ((s, dir) =>
      similarity.Ann.bruteForceTopKAgg(Tables.embeddings(s, dir), 10, 5)),

    // contrastive-retrieval hard negatives: most-similar candidates
    // with a DIFFERENT label, per anchor
    "pipe_hard_negatives" -> ((s, dir) =>
      similarity.Ann.hardNegatives(Tables.embeddings(s, dir), 10, 5)),

    // hard negatives SERVED FROM THE MAINTAINED IVF INDEX (r19,
    // VERDICT r18 #2 — the mmrRerank poolSource template): the
    // candidate pool comes from the versioned index probe (nprobe=8,
    // pool=50 — 10x oversample so the label-mismatch filter at the
    // survivor grain still fills k), partition-pruned to the probed
    // cent_id lists, never a full corpus scan per query batch. Shares
    // ann_ivf_indexed's memoized index. Rows-only (index-approximate
    // pool); AnnIndexSpec pins full-probe pool == brute force +
    // wired-probe recall.
    "pipe_hard_negatives_indexed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val root = indexRoot("ann", dir) { r =>
        similarity.AnnIndex.trainCentroids(emb.filter(col("vec_id") % 3 === 0), 0L, r)
        (0L until 3L).foreach(b =>
          similarity.AnnIndex.appendBatch(emb.filter(col("vec_id") % 3 === b), b, r))
      }
      similarity.Ann.hardNegativesFromPool(emb, 10, 5, pool = 50,
        poolSource = (e, nq, p) =>
          similarity.AnnIndex.ivfTopKIndexed(s, root, e, nq, p, nprobe = 8))
    }),

    "ann_l2_topk" -> ((s, dir) =>
      similarity.Ann.l2TopK(Tables.embeddings(s, dir), 10, 5)),

    // int8 scalar quantization (r15): 4× compressed codes + per-vector
    // scale, scale-corrected integer dot — hash-green by construction
    // (exact int sum, mirrored rounding), no refine needed
    "ann_int8_topk" -> ((s, dir) =>
      similarity.Ann.int8TopK(Tables.embeddings(s, dir), 10, 5)),

    // int8 candidates oversampled 4×, exact-cosine rescore of the
    // survivors (the ES int8_hnsw + num_candidates search shape);
    // both stages engine-exact → full hash oracle
    "ann_int8_refined" -> ((s, dir) =>
      similarity.Ann.int8RefinedTopK(Tables.embeddings(s, dir), 10, 5)),

    // 1-bit BBQ-shape search: 64-bit sign sketch (256x compression),
    // Hamming candidates oversampled 10x, exact-cosine rescore
    "ann_binary_topk" -> ((s, dir) =>
      similarity.Ann.binaryTopK(Tables.embeddings(s, dir), 10, 5)),

    // dense_vector similarity: dot_product (magnitude-aware ranking)
    "ann_dot_topk" -> ((s, dir) =>
      similarity.Ann.dotTopK(Tables.embeddings(s, dir), 10, 5)),

    // MMR rerank SERVED FROM THE MAINTAINED IVF INDEX (r16 verdict
    // #1): the candidate pool comes from the versioned index probe —
    // partition-pruned to the probed cent_id lists, never a full
    // corpus scan per query batch — and the greedy rounds are the
    // identical distributed recurrence. Shares ann_ivf_indexed's
    // memoized index. nprobe=8 of 16 lists (recall-first pool build;
    // the pool stage only moves WHICH candidates rerank, the λ-greedy
    // math is pool-source-invariant — equivalence spec in AnnIndexSpec).
    // rows-only gate: the pool is index-approximate by design.
    "ann_mmr_indexed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val root = indexRoot("ann", dir) { r =>
        similarity.AnnIndex.trainCentroids(emb.filter(col("vec_id") % 3 === 0), 0L, r)
        (0L until 3L).foreach(b =>
          similarity.AnnIndex.appendBatch(emb.filter(col("vec_id") % 3 === b), b, r))
      }
      similarity.Ann.mmrRerank(emb, 10, poolSource = (e, nq, p) =>
        similarity.AnnIndex.ivfTopKIndexed(s, root, e, nq, p, nprobe = 8))
    }),

    // MMR diversity rerank of the exact top-20 pool (lambda=0.7),
    // k-1 bounded distributed greedy rounds
    "ann_mmr_rerank" -> ((s, dir) =>
      similarity.Ann.mmrRerank(Tables.embeddings(s, dir), 10)),

    "ann_lsh_topk" -> ((s, dir) =>
      similarity.Ann.lshTopK(Tables.embeddings(s, dir), 10, 5)),

    "ann_ivf_topk" -> ((s, dir) =>
      similarity.Ann.ivfTopK(Tables.embeddings(s, dir), 10, 5)),

    // product-quantization ANN (memory-compressed scale path): 16
    // 4-bit codes per vector, ADC candidate scan, exact-cosine refine
    "ann_pq_topk" -> ((s, dir) =>
      similarity.Ann.pqTopK(Tables.embeddings(s, dir), 10, 5)),

    // IVF top-k reading a MAINTAINED index (AnnIndex): centroids trained
    // once on the first ingest batch then frozen, corpus cluster-bucketed
    // across 3 deterministic ingest batches, probe reads only the probed
    // cent_id partitions. rows-only gate; AnnIndexSpec pins batch-N ==
    // from-scratch and indexed == recompute equality. Index construction
    // is ingest-time work, memoized per sfDir (see indexRoot).
    "ann_ivf_indexed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val root = indexRoot("ann", dir) { r =>
        similarity.AnnIndex.trainCentroids(emb.filter(col("vec_id") % 3 === 0), 0L, r)
        (0L until 3L).foreach(b =>
          similarity.AnnIndex.appendBatch(emb.filter(col("vec_id") % 3 === b), b, r))
      }
      similarity.AnnIndex.ivfTopKIndexed(s, root, emb, 10, 5)
    }),

    // IVFADC: PQ composed inside the maintained IVF index — codebooks
    // trained with the centroids, 16-code PQ words encoded at ingest
    // into the cent_id= partitions, probes ADC-scan only the nprobe
    // probed lists (codes column alone — no embedding bytes in the
    // candidate scan), exact-cosine refine on the survivors. The flat
    // pqTopK's full-corpus ADC scan shrinks to ~nprobe/nCentroids.
    // rows-only gate; AnnIndexSpec pins recall >= the flat-PQ floor
    // and the candidate-row ratio.
    "ann_ivfpq_indexed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val root = indexRoot("annpq", dir) { r =>
        // codebooks train on the full frame — at scale a corpus sample
        // (faiss discipline); a third of the small SFs under-trains
        similarity.AnnIndex.trainCentroids(emb, 0L, r, pqM = 16)
        (0L until 3L).foreach(b =>
          similarity.AnnIndex.appendBatch(emb.filter(col("vec_id") % 3 === b), b, r))
      }
      similarity.AnnIndex.ivfpqTopKIndexed(s, root, emb, 10, 5, nprobe = 8)
    }),

    // ES 8 knn.filter: candidates restricted to lang='en' docs BEFORE
    // ranking (218/500 at sf0.01 — the page differs from unfiltered
    // kNN, so the filter is load-bearing); predicate pushed to the
    // documents scan, query vector broadcast, bounded TakeOrdered
    "ann_filtered_knn" -> ((s, dir) =>
      similarity.Ann.filteredKnn(Tables.embeddings(s, dir),
        Tables.documents(s, dir).filter(col("lang") === "en").select("doc_id"),
        7L, 10)),

    // kNN radius search: the complete cosine ≥ τ neighborhood of each
    // of the first 10 query vectors (τ=0.3 measured non-vacuous at
    // every verify SF)
    "ann_range_search" -> ((s, dir) =>
      similarity.Ann.rangeSearch(Tables.embeddings(s, dir), 10, 0.3)),

    // ----- multimodal (SURVEY §2 group 6) -----

    "mm_binary_meta" -> ((s, dir) =>
      multimodal.Multimodal.binaryMeta(Tables.documents(s, dir))),

    // payload-level exact dedup: same-bytes uploads grouped by content
    // checksum, keeper + wasted-bytes accounting. The synthetic corpus
    // has no byte-identical payloads, so the wiring injects
    // deterministic re-uploads (every 20th doc again under id+10000 —
    // the dedup_containment inject-then-detect discipline) so the
    // detector demonstrably fires; both engines build the same frame.
    "mm_payload_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val reuploads = docs.filter(col("doc_id") % 20 === 0)
        .withColumn("doc_id", col("doc_id") + 10000L)
      multimodal.Multimodal.payloadDedup(docs.unionByName(reuploads))
    }),

    // perceptual (average-hash) near-dup grouping over the same
    // area-pooled 8x8 thumbnails as mm_resize_stub
    "mm_ahash_dedup" -> ((s, dir) =>
      multimodal.Multimodal.aHashDedup(Tables.documents(s, dir))),

    "mm_feature_stub" -> ((s, dir) =>
      // exploded to one scalar row per dimension so the result is
      // hashable/sortable by any downstream comparer (an array<double>
      // column is opaque to hash-based gates)
      multimodal.Multimodal.featureExtract(Tables.documents(s, dir), 8)
        .select(col("doc_id"), col("n_bytes"),
          posexplode(col("features")).as(Seq("dim_idx", "feature")))
        .select(col("doc_id"), col("n_bytes"),
          col("dim_idx").cast("long").as("dim_idx"), col("feature"))),

    "mm_frame_sample" -> ((s, dir) =>
      multimodal.Multimodal.frameSample(Tables.documents(s, dir), 256, 4)),

    // resize stub (r15): area-pooling thumbnail of the payload grid —
    // the decode→transform→re-encode plumbing with a binary output
    // column; the hex of the resized payload makes the row comparable
    // (DuckDB md5 is varchar-only, hex replays byte-exactly)
    "mm_resize_stub" -> ((s, dir) =>
      multimodal.Multimodal.resizeStub(Tables.documents(s, dir), 32, 8, 8)
        .select(col("doc_id"), col("n_bytes"), col("out_w").cast("long").as("out_w"),
          col("out_h").cast("long").as("out_h"),
          hex(col("out_payload")).as("out_hex"))),

    "river_full_pipeline" -> ((s, dir) => {
      val scanned = literalScan(s, dir)
      val parsed = scanned.select(
        col("event_id"), Det.tsMicrosOf(scanned, "ts").as("ts_us"), col("value"),
        concat(River.normalizeField(col("event_type")), lit(":"),
          River.extractId(col("props"), "k")).as("doc_id"))
      val latest = River.latestPerKey(parsed, "doc_id", "ts_us", "event_id")
      River.assignBatches(latest, Seq(col("ts_us"), col("event_id")), 100)
        .select("doc_id", "event_id", "ts_us", "value", "batch_id")
    }),

    // ----- training-data pipeline (SURVEY §2 group 7) -----

    "pipe_decontaminate" -> ((s, dir) =>
      pipeline.Pipeline.decontaminate(Tables.documents(s, dir),
        Seq("src0", "src1"), 4)),

    // content-stable train/val/test split audit (md5 bands; per
    // (split, source) counts catch a source missing from val)
    "pipe_holdout_split" -> ((s, dir) =>
      pipeline.Pipeline.holdoutSplit(Tables.documents(s, dir))),

    // T5-style span-corruption mask plan (stratified LCG placement,
    // ~15% corruption at span length 3, all-BIGINT deterministic)
    "pipe_span_corruption" -> ((s, dir) =>
      pipeline.Pipeline.spanCorruption(Tables.documents(s, dir))),

    // CCNet-style reference-LM perplexity score: add-1 bigram model
    // over src0/src1, per-doc exact fixed-point nll sum via DetLn
    "pipe_lm_score" -> ((s, dir) =>
      pipeline.Pipeline.lmScore(Tables.documents(s, dir), Seq("src0", "src1"))),

    // DSIR-style importance resampling toward the src0/src1 target:
    // exact-integer unigram weight ratio, md5-band acceptance
    "pipe_importance_resample" -> ((s, dir) =>
      pipeline.Pipeline.importanceResample(Tables.documents(s, dir),
        Seq("src0", "src1"))),

    // tokenizer fertility audit: exact char/BPE-token sums and
    // tokens-per-char by (lang, source)
    "pipe_tokenizer_fertility" -> ((s, dir) =>
      pipeline.Pipeline.tokenizerFertility(Tables.documents(s, dir))),

    // fasttext-style hashed linear quality classifier INFERENCE with a
    // frozen fixed-point model: exact BIGINT scores, md5-bucket hash
    // classifier TRAINING stage (r19, VERDICT r18 #4): per-bucket
    // integer count stats + fixed-point Laplace keep-rate weights from
    // a 10% seed sample labeled by the library's own frozen filter (a
    // self-contained distillation loop; production passes real labels
    // through trainFromLabels). All-integer → hash-green.
    "pipe_quality_train" -> ((s, dir) =>
      pipeline.Pipeline.qualityClassifierTrain(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0))),

    "pipe_quality_classifier" -> ((s, dir) =>
      pipeline.Pipeline.qualityClassifier(Tables.documents(s, dir))),

    // classifier EVAL (r20, VERDICT r19 #4 — train→infer→MEASURE):
    // exact TP/FP/FN/TN + precision/recall/F1 of the doc_id%10=0-seed
    // distilled weights on the DISJOINT doc_id%10=5 held-out split,
    // truth from the frozen labeler. Each ratio one IEEE division of
    // two exact BIGINTs → hash-green.
    "pipe_quality_eval" -> ((s, dir) =>
      pipeline.Pipeline.qualityEval(Tables.documents(s, dir))),

    // curriculum schedule head: cleanest docs first (quality-rule
    // failure count as stage), seeded shuffle within stage
    "pipe_curriculum" -> ((s, dir) =>
      pipeline.Pipeline.curriculumOrder(Tables.documents(s, dir), 7, 100)),

    // tokenizer unigram profile: corpus frequency of every BPE piece
    // (vocab-bounded output at any corpus size)
    "pipe_vocab_freq" -> ((s, dir) =>
      pipeline.Pipeline.vocabFreq(Tables.documents(s, dir))),

    // cross-source duplication audit: per source pair, fingerprints
    // present in both (one shuffle, in-row pair expansion)
    "pipe_cross_source_dup" -> ((s, dir) =>
      pipeline.Pipeline.crossSourceDup(Tables.documents(s, dir))),

    // alpha=0.5 temperature-resampled source mixture (sqrt is the one
    // engine-exact power); per-source audit frame, all-BIGINT output
    "pipe_temperature_mix" -> ((s, dir) =>
      pipeline.Pipeline.temperatureMix(Tables.documents(s, dir), 200L)),

    // contamination attribution: which benchmark doc each contaminated
    // doc overlaps most, and how many it touches
    "pipe_contamination_report" -> ((s, dir) =>
      pipeline.Pipeline.contaminationReport(Tables.documents(s, dir),
        Seq("src0", "src1"), 4)),

    // threshold decontamination: contaminated when >= 10% of a doc's
    // distinct 4-grams appear in the benchmark sources
    "pipe_decontaminate_fuzzy" -> ((s, dir) =>
      pipeline.Pipeline.decontaminateFuzzy(Tables.documents(s, dir),
        Seq("src0", "src1"), 4, 10)),

    "pipe_redact" -> ((s, dir) =>
      pipeline.Pipeline.redact(injectPii(Tables.documents(s, dir)))),

    "pipe_release_manifest" -> ((s, dir) =>
      // the full release chain over the PII-injected corpus (so the
      // scrub stage does real work); benchmark = src0/src1, 4-gram
      // decontamination, quality gate at 0.2 (measured: keeps ~70% at
      // every SF)
      pipeline.Pipeline.releaseManifest(injectPii(Tables.documents(s, dir)),
        Seq("src0", "src1"), 4, 0.2)),

    // v2 = v1 + the MinHash-LSH near-dup stage between the fingerprint
    // dedup and the quality gate (recall-first 16×2 banding, exact
    // Jaccard ≥ 0.8 confirm, min-label clusters; non-fp-identical
    // near-dup pairs measured 24-25 per SF, so the stage fires at
    // every verify SF)
    "pipe_release_manifest_v2" -> ((s, dir) =>
      pipeline.Pipeline.releaseManifestV2(injectPii(Tables.documents(s, dir)),
        Seq("src0", "src1"), 4, 0.2)),

    // v3 = v2 + the SemDeDup-shaped semantic stage: survivors'
    // embeddings through the τ-dispatched near-dup (IVF route at
    // τ=0.45) → clusters → keeper. Semantic pairs at τ=0.45: 7/14 per
    // SF over the full corpus, so the stage fires at every verify SF
    "pipe_release_manifest_v3" -> ((s, dir) =>
      pipeline.Pipeline.releaseManifestV3(injectPii(Tables.documents(s, dir)),
        Tables.embeddings(s, dir), Seq("src0", "src1"), 4, 0.2)),

    // v4 = v3 + the shard step: the released corpus dealt into 4
    // size-balanced training shards, per-shard release manifest
    "pipe_release_manifest_v4" -> ((s, dir) =>
      pipeline.Pipeline.releaseManifestV4(injectPii(Tables.documents(s, dir)),
        Tables.embeddings(s, dir), Seq("src0", "src1"), 4, 0.2, 4)),

    // v5 = v3 + the paragraph-grain near-dup strip between the
    // document-grain keeper chain and the manifest tail (r15): dup
    // 32-token blocks lose their non-canonical copies; n_tok /
    // quality / redacted_md5 reflect the stripped text and
    // n_para_stripped audits the stage. (On this corpus the stage
    // usually no-ops post-doc-dedup — measured, see Pipeline scaladoc;
    // PipelineSpec proves the strip on a constructed fixture.)
    "pipe_release_manifest_v5" -> ((s, dir) =>
      pipeline.Pipeline.releaseManifestV5(injectPii(Tables.documents(s, dir)),
        Tables.embeddings(s, dir), Seq("src0", "src1"), 4, 0.2)),

    // per-source dataset card (r15): the release-audit statistics
    // table — every column an integer count or exact sum
    "pipe_dataset_card" -> ((s, dir) =>
      pipeline.Pipeline.datasetCard(Tables.documents(s, dir), 0.2)),

    // embedding-space topic clustering (r17, VERDICT r16 #6): Lloyd
    // k-means over the document embeddings (the IVF machinery
    // verbatim), then the per-cluster dataset card — docs, tokens,
    // dominant source/lang, top term by lift. Rows-only (Lloyd means
    // aren't SQL-expressible); ClusterTopicsSpec pins assignment ==
    // nearest-centroid recompute + stats == the frozen-centroid
    // program's stats on the same assignment.
    "pipe_cluster_topics" -> ((s, dir) =>
      pipeline.Pipeline.clusterTopics(Tables.documents(s, dir),
        Tables.embeddings(s, dir), 8)),

    // the hash-green half of the pair: the SAME per-cluster card
    // program under FROZEN seeded data-free centroids, so the whole
    // stats pipeline — cosine argmax assignment included — replays
    // exactly in DuckDB (generated from the one frozenCentroids
    // definition)
    "pipe_cluster_card" -> ((s, dir) =>
      pipeline.Pipeline.clusterCard(Tables.documents(s, dir),
        Tables.embeddings(s, dir), 4)),

    // SemDeDup under the frozen centroids: within-cluster cosine
    // pruning, deterministic keeper rule, τ=0.4 (the dedup_embedding
    // similarity band)
    "pipe_semdedup" -> ((s, dir) =>
      pipeline.Pipeline.semDedup(Tables.embeddings(s, dir), 8, 0.4)),

    // SemDeDup's PRODUCTION path (r19, VERDICT r18 #1): Lloyd-TRAINED
    // centroids at the paper's k ∝ n regime (k = ceil(sqrt(n))) — the
    // balanced-occupancy form whose within-cluster pair work stays
    // ~n^1.5; same semPrune, same exact-cosine confirm, so pruned ⊆
    // exact at any centroid quality (SemDedupSpec). Rows-only (Lloyd
    // argmax); the frozen form above stays the oracle twin.
    "pipe_semdedup_trained" -> ((s, dir) =>
      pipeline.Pipeline.semDedupTrained(Tables.embeddings(s, dir), 0.4)),

    // the dedup-cascade audit: per-stage removal counts for the
    // exact → fuzzy → semantic pipeline order
    "pipe_dedup_report" -> ((s, dir) =>
      pipeline.Pipeline.dedupCascadeReport(
        Tables.documents(s, dir), Tables.embeddings(s, dir))),

    // deterministic epoch shuffle (r15): seeded-hash training order,
    // 3 epochs × first 50 positions — reproducible on any engine
    "pipe_epoch_shuffle" -> ((s, dir) =>
      pipeline.Pipeline.epochShuffle(Tables.documents(s, dir), 3, 50)),

    // BPE merge TRAINING (r15): learn 25 merges from the corpus — the
    // vocab-induction step before any token counting. One corpus pass
    // builds the word-count vocab; each iteration is vocab-sized.
    // Iterative argmax → rows-only; exact naive-recompute spec.
    "pipe_bpe_train" -> ((s, dir) =>
      text.Bpe.trainMerges(Tables.documents(s, dir), 25)),

    "pipe_weighted_mix" -> ((s, dir) => {
      val up = Seq("src0", "src1", "src2", "src3", "src4")
      val keep = Seq("src5", "src6", "src7", "src8", "src9")
      val w = when(col("source").isin(up: _*), lit(2.5))
        .when(col("source").isin(keep: _*), lit(1.0)).otherwise(lit(0.25))
      val band = when(col("source").isin(up: _*), lit("80"))
        .when(col("source").isin(keep: _*), lit("00")).otherwise(lit("40"))
      pipeline.Pipeline.weightedMix(Tables.documents(s, dir), w, band)
        .select(col("doc_id"), col("source"), col("epoch").cast("long").as("epoch"))
    }),

    "pipe_pack_sequences" -> ((s, dir) =>
      pipeline.Pipeline.packSequences(Tables.documents(s, dir), 1000L)),

    // per-doc loss-mask span manifest over the packed concat stream
    // (bin, offset, in-bin span length, overflow into later bins)
    "pipe_loss_mask" -> ((s, dir) =>
      pipeline.Pipeline.lossMaskManifest(Tables.documents(s, dir), 1000L)),

    "pipe_strip_spans" -> ((s, dir) =>
      pipeline.Pipeline.stripRepeatedSpans(Tables.documents(s, dir), 8)),

    // token-length inventory: (source, 32-token bucket) doc counts +
    // exact BPE token sums — the context-length planning profile
    "pipe_token_histogram" -> ((s, dir) =>
      pipeline.Pipeline.tokenHistogram(Tables.documents(s, dir), 32L)),

    // deterministic size-balanced sharding: (tokens desc, id) rank
    // dealt round-robin into 4 shards, per-shard manifest
    "pipe_shard_manifest" -> ((s, dir) =>
      pipeline.Pipeline.shardManifest(Tables.documents(s, dir), 4)),

    // Gopher/C4 rule-based quality report: five integer-threshold
    // heuristics + per-doc failed-rule bitmask (narrow, codegen-only)
    "pipe_quality_rules" -> ((s, dir) =>
      pipeline.Pipeline.qualityRules(Tables.documents(s, dir))),

    // Gopher repetition gate: top word-2-gram char coverage + duplicated
    // 5-gram char coverage per doc, integer cross-multiplied thresholds
    "pipe_repetition_filter" -> ((s, dir) =>
      pipeline.Pipeline.repetitionFilter(Tables.documents(s, dir))),

    // per-domain token-budget cap (the data-mixing admit step): docs
    // admitted in id order until the source's BPE budget is crossed
    "pipe_domain_mix" -> ((s, dir) =>
      pipeline.Pipeline.domainMix(Tables.documents(s, dir), 1000L)),

    // variable_width_histogram: 6 equal-frequency clusters with exact
    // quantile edges (distributed rank-select — no global sort)
    "q_variable_width_histogram" -> ((s, dir) =>
      operators.Analytics.variableWidthHistogram(Tables.events(s, dir), 6))
  )

  // ---- DuckDB oracle ---------------------------------------------------

  private val normPlain = """regexp_replace(lower('Type#' || upper(event_type) || '.props:K'), '[^a-z0-9\-_]', '', 'g')"""
  private val normSep   = """regexp_replace(lower('Type#' || upper(event_type) || '.props:K'), '[^a-z0-9\-_\.]', '', 'g')"""

  private val sinkWm =
    """half AS (SELECT max(event_id) // 2 AS h FROM events),
      |wm AS (SELECT max(epoch_us(ts)) AS w FROM events, half WHERE event_id < h)""".stripMargin

  private val discPrice =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"

  /** DetLn-generated idf columns for the bm25-family oracles (r14):
    * idf0..idf{n−1} from df0..df{n−1}, spliced into an `st` CTE over
    * the raw stats — the SAME libm-free program the Spark side runs
    * (graft.util.DetLn), so the ln-scoring family no longer depends
    * on fdlibm-vs-glibc agreeing input by input. */
  private def bm25IdfNest(n: Int): String =
    util.DetLn.nestSql("st0", (0 until n).flatMap { i =>
      util.DetLn.sqlItems(
        s"(1 + (n_docs - df$i + 0.5e0) / (df$i + 0.5e0))", s"idf$i")
    })
  private lazy val bm25IdfNest3: String = bm25IdfNest(3)

  /** The shared BM25-page + judgment CTE prelude of the two _rank_eval
    * oracles (page `pg`, judgments `j`, corpus relevant-count `t`). */
  private lazy val rankEvalPageSql: String =
    raw"""WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
         |p AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
         |        CAST(len(list_filter(toks, x -> x = 'dup')) AS BIGINT) AS tf0,
         |        CAST(len(list_filter(toks, x -> x = 'query')) AS BIGINT) AS tf1,
         |        CAST(len(list_filter(toks, x -> x = 'scan')) AS BIGINT) AS tf2
         |      FROM d),
         |st0 AS (SELECT count(*) AS n_docs, sum(dl) AS total_toks,
         |        sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         |        sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         |        sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2 FROM p),
         |st AS (SELECT * FROM ${bm25IdfNest3}),
         |bm AS (SELECT doc_id,
         |    idf0 * (tf0 * (1.2e0 + 1)) / (tf0 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs))))
         |    + idf1 * (tf1 * (1.2e0 + 1)) / (tf1 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs))))
         |    + idf2 * (tf2 * (1.2e0 + 1)) / (tf2 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs)))) AS score
         |  FROM p CROSS JOIN st WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
         |  ORDER BY score DESC, doc_id LIMIT 20),
         |pg AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM bm),
         |j AS (SELECT doc_id, (tf0 > 0 AND tf1 > 0 AND tf2 > 0) AS rel FROM p),
         |t AS (SELECT CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_relevant FROM j)""".stripMargin

  /** Generated NDCG oracle tail — the same [[graft.text.TextOps.dcgDiscounts]]
    * constants as the Column program, rendered as shortest-round-trip
    * double literals; the DCG sum is the identical left-assoc chain. */
  private lazy val rankEvalDcgSql: String = {
    val d = graft.text.TextOps.dcgDiscounts
    val p = graft.text.TextOps.dcgIdealPrefix
    val pivots = (1 to 10).map(r =>
      s"coalesce(max(CASE WHEN rank = $r AND rel THEN ${d(r - 1)}e0 ELSE 0e0 END), 0e0) AS c$r")
      .mkString(",\n        ")
    val chain = (1 to 10).map(r => s"c$r").mkString(" + ")
    val ideal = (1 to 10).map(r =>
      s"WHEN least(n_relevant, 10) = $r THEN ${p(r - 1)}e0").mkString(" ")
    s"""$rankEvalPageSql,
       |m AS (SELECT
       |        $pivots
       |      FROM pg JOIN j USING (doc_id))
       |SELECT n_relevant,
       |       ($chain) AS dcg_at_10,
       |       CASE WHEN n_relevant = 0 THEN NULL
       |            ELSE ($chain) / (CASE $ideal END) END AS ndcg_at_10
       |FROM m CROSS JOIN t""".stripMargin
  }

  // shared by the exhaustive percolator AND its r13 term-index-
  // prefiltered twin — the stored set is one definition, the answer
  // contract identical, so one oracle verifies both plans
  private val percolateDslSql =
    raw"""WITH d AS (SELECT doc_id, lang, source, n_chars,
         |             string_split_regex(lower(text), '\s+') AS toks FROM documents)
         |SELECT doc_id, 'pq1' AS query_id FROM d
         |WHERE len(list_filter(toks, x -> x = 'hash')) > 0 AND n_chars >= 200
         |UNION ALL
         |SELECT doc_id, 'pq2' FROM d
         |WHERE lang = 'en' AND (len(list_filter(toks, x -> x = 'join')) > 0
         |                       OR len(list_filter(toks, x -> x = 'vector')) > 0)
         |UNION ALL
         |SELECT doc_id, 'pq3' FROM d
         |WHERE len(list_filter(toks, x -> x = 'scan')) > 0 AND source <> 'src13'""".stripMargin

  // shared by the exact window forms AND their _dist rank-select twins:
  // the discrete ceil(p·n) percentile contract is engine-shape-agnostic,
  // so one oracle text verifies both plans bit-for-bit
  private val percentileFacetSql =
    """WITH t AS (SELECT event_type, value, event_id,
      |  row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |  count(*) OVER (PARTITION BY event_type) AS n FROM events)
      |SELECT event_type, p, value AS pct_value, n
      |FROM t CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]) AS p) ps
      |WHERE rn = ceil(p * n)""".stripMargin

  private val boxplotSql =
    """WITH t AS (SELECT event_type, value, event_id,
      |  row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |  count(*) OVER (PARTITION BY event_type) AS n FROM events)
      |SELECT event_type, count(*) AS n, min(value) AS min_value, max(value) AS max_value,
      |  max(CASE WHEN rn = ceil(0.25 * n) THEN value END) AS q1,
      |  max(CASE WHEN rn = ceil(0.5 * n) THEN value END) AS median,
      |  max(CASE WHEN rn = ceil(0.75 * n) THEN value END) AS q3,
      |  max(CASE WHEN rn = ceil(0.75 * n) THEN value END)
      |    - max(CASE WHEN rn = ceil(0.25 * n) THEN value END) AS iqr
      |FROM t GROUP BY event_type""".stripMargin

  private val madSql =
    """WITH t AS (SELECT event_type, value, event_id,
      |  row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |  count(*) OVER (PARTITION BY event_type) AS n FROM events),
      |m AS (SELECT *, max(CASE WHEN rn = ceil(0.5 * n) THEN value END)
      |                  OVER (PARTITION BY event_type) AS med FROM t),
      |d AS (SELECT event_type, n, med, abs(value - med) AS dev,
      |  row_number() OVER (PARTITION BY event_type ORDER BY abs(value - med), event_id) AS drn
      |  FROM m)
      |SELECT event_type, count(*) AS n, max(med) AS median_value,
      |       max(CASE WHEN drn = ceil(0.5 * n) THEN dev END) AS mad
      |FROM d GROUP BY event_type""".stripMargin

  def oracleSql: Map[String, String] = Map(

    // ----- analytics -----

    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(sum($discPrice) AS DOUBLE) AS sum_disc_price,
         |  CAST(sum($discPrice * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
         |  CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
         |  CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority, CAST(sum($discPrice) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey AND o_orderdate < TIMESTAMP '1997-06-01'
         |JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
         |WHERE l_shipdate > TIMESTAMP '1997-06-01'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      s"""SELECT n_name, CAST(sum($discPrice) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
         |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY n_name""".stripMargin,

    "q_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate >= o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin,

    "q_top_customers" ->
      """SELECT o_custkey AS custkey, c_name,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |       count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_custkey, c_name
        |ORDER BY revenue DESC, custkey LIMIT 20""".stripMargin,

    "q_supplier_window" ->
      """SELECT l_suppkey, row_number() OVER w AS rn, l_orderkey, l_linenumber,
        |       CAST(l_quantity AS BIGINT) AS qty,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_qty
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
        |QUALIFY rn <= 5""".stripMargin,

    "q_events_sessionize" ->
      """WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |d AS (SELECT user_id, ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap FROM t)
        |SELECT user_id,
        |       CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |       count(*) AS n_events
        |FROM d GROUP BY user_id""".stripMargin,

    "q_events_time_window" ->
      """SELECT epoch_us(ts) // 300000000 * 300 AS window_start_s, event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_terms_facet" ->
      """SELECT event_type, count(*) AS n_docs, count(DISTINCT user_id) AS n_users,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events GROUP BY event_type
        |ORDER BY n_docs DESC, event_type LIMIT 10""".stripMargin,

    "q_terms_order_subagg" ->
      """SELECT event_type, count(*) AS n_docs,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type
        |ORDER BY avg_value DESC, event_type LIMIT 5""".stripMargin,

    "q_date_histogram" ->
      """SELECT epoch_us(ts) // 86400000000 AS day_idx, event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_date_histogram_calendar" ->
      operators.Analytics.calendarHistogramSql("month", "America/New_York", 2023, 2027),
    "q_date_histogram_calquarter" ->
      operators.Analytics.calendarHistogramSql("quarter", "America/New_York", 2023, 2027),
    "q_date_histogram_calweek" ->
      operators.Analytics.calendarHistogramSql("week", "America/New_York", 2023, 2027),

    "q_date_histogram_filled" ->
      operators.Analytics.dateHistogramFilledSql(
        43200000000L, 10800000000L, 1703894400000000L, 1706832000000000L),

    "q_salted_agg" ->
      """SELECT user_id, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY user_id""".stripMargin,

    "q6_revenue_delta" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,

    "q10_returned_items" ->
      s"""SELECT c_custkey, c_name, n_name,
         |       CAST(sum($discPrice) AS DOUBLE) AS revenue, count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |GROUP BY c_custkey, c_name, n_name
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |             FROM lineitem GROUP BY l_orderkey HAVING total_qty > 150)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate,
        |       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin,

    "q_part_type_stats" ->
      """SELECT p_type, count(*) AS n_parts,
        |       CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_retail,
        |       CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_retail,
        |       min(p_size) AS min_size, max(p_size) AS max_size
        |FROM part GROUP BY p_type ORDER BY n_parts DESC, p_type LIMIT 15""".stripMargin,

    "q_bool_filter" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM events
        |WHERE value >= 50 AND event_type IN ('click', 'purchase') AND NOT (user_id % 10 = 0)""".stripMargin,

    "q_has_child" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |              AND l.l_quantity >= 48 AND l.l_discount >= 0.05)
        |GROUP BY 1""".stripMargin,

    "q_has_parent" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
        |              AND o.o_totalprice >= 300000.0
        |              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |              AND o.o_orderdate < TIMESTAMP '1997-01-01')
        |GROUP BY 1""".stripMargin,

    "q_parent_id" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
        |FROM lineitem WHERE l_orderkey = 7
        |ORDER BY l_linenumber""".stripMargin,

    "q_children_agg" ->
      """SELECT o_orderpriority, count(*) AS n_children,
        |       count(DISTINCT o_orderkey) AS n_parents,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,

    "q_missing_agg" ->
      """SELECT coalesce(CASE WHEN k % 5 = 0 THEN NULL
        |                     ELSE 'c' || CAST(k % 7 AS VARCHAR) END,
        |                '__missing__') AS bucket,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, value
        |      FROM events)
        |GROUP BY 1""".stripMargin,

    "q_global_agg" ->
      """SELECT count(*) FILTER (WHERE event_type = 'purchase' AND value >= 50.0) AS n_hits,
        |       CAST(sum(CAST(value AS DECIMAL(12,2)))
        |            FILTER (WHERE event_type = 'purchase' AND value >= 50.0) AS DOUBLE) AS sum_hits,
        |       count(*) AS n_all,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_all
        |FROM events""".stripMargin,

    "q_terms_partition" ->
      """SELECT user_id, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE (instr('0123456789abcdef',
        |             substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) // 4 = 2
        |GROUP BY user_id ORDER BY n DESC, user_id LIMIT 25""".stripMargin,

    "q_change_point" ->
      """WITH day AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
        |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
        |  FROM events GROUP BY 1),
        |cum AS (
        |  SELECT day_idx,
        |         sum(dsum) OVER (ORDER BY day_idx) AS c_sum,
        |         sum(n) OVER (ORDER BY day_idx) AS c_n,
        |         sum(dsum) OVER () AS t_sum, sum(n) OVER () AS t_n,
        |         max(day_idx) OVER () AS last_day
        |  FROM day),
        |cand AS (
        |  SELECT day_idx, c_n,
        |         CAST(c_sum AS DOUBLE) / c_n AS mean_left,
        |         CAST(t_sum - c_sum AS DOUBLE) / (t_n - c_n) AS mean_right,
        |         t_n - c_n AS n_right
        |  FROM cum WHERE day_idx < last_day)
        |SELECT day_idx AS split_after_day,
        |       CAST(c_n AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
        |       mean_left, mean_right, abs(mean_right - mean_left) AS shift
        |FROM cand ORDER BY shift DESC, day_idx LIMIT 1""".stripMargin,

    "q_ip_prefix" ->
      s"""WITH u AS (SELECT ${operators.Analytics.ipU32Sql} AS u32, user_id FROM events),
        |p AS (SELECT u32 - (u32 % 1048576) AS prefix_u32, user_id FROM u)
        |SELECT CAST(prefix_u32 // 16777216 % 256 AS VARCHAR) || '.' ||
        |       CAST(prefix_u32 // 65536 % 256 AS VARCHAR) || '.' ||
        |       CAST(prefix_u32 // 256 % 256 AS VARCHAR) || '.' ||
        |       CAST(prefix_u32 % 256 AS VARCHAR) || '/12' AS subnet,
        |       prefix_u32, count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM p GROUP BY prefix_u32""".stripMargin,

    "q_bucket_script" ->
      """WITH day AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx,
        |         sum(CASE WHEN event_type = 'purchase'
        |                  THEN CAST(value AS DECIMAL(12,2)) END) AS purchase_sum,
        |         sum(CASE WHEN event_type = 'click'
        |                  THEN CAST(value AS DECIMAL(12,2)) END) AS click_sum
        |  FROM events GROUP BY 1)
        |SELECT day_idx, CAST(purchase_sum AS DOUBLE) AS purchase_sum,
        |       CAST(click_sum AS DOUBLE) AS click_sum,
        |       CAST(purchase_sum AS DOUBLE) / CAST(click_sum AS DOUBLE) AS ratio
        |FROM day
        |WHERE click_sum IS NOT NULL AND click_sum > 0
        |  AND purchase_sum IS NOT NULL""".stripMargin,

    "q_rank_feature" ->
      """SELECT event_id, value, 2.0e0 * value / (value + 50.0e0) AS score
        |FROM events ORDER BY score DESC, event_id LIMIT 20""".stripMargin,

    "q_rank_feature_log" ->
      operators.Analytics.rankFeatureLogSql(0.25, 2.0, 20),

    "q_scripted_metric" ->
      """SELECT event_type,
        |  CAST(sum(CASE WHEN value > 500.0e0 THEN CAST(value AS DECIMAL(12,2))
        |                ELSE -CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS profit,
        |  CAST(max(CASE WHEN value > 500.0e0 THEN CAST(value AS DECIMAL(12,2))
        |               ELSE -CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS max_txn,
        |  count(*) AS n_txns
        |FROM events GROUP BY event_type""".stripMargin,

    "q_extended_stats_bucket" ->
      """WITH day AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx,
        |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
        |  FROM events GROUP BY 1),
        |a AS (SELECT count(*) AS n_buckets,
        |        CAST(min(dsum) AS DOUBLE) AS min_bucket,
        |        CAST(max(dsum) AS DOUBLE) AS max_bucket,
        |        sum(dsum) AS s1,
        |        sum(CAST(dsum AS DECIMAL(38,4)) * CAST(dsum AS DECIMAL(38,4))) AS s2
        |      FROM day)
        |SELECT n_buckets, min_bucket, max_bucket,
        |       CAST(s1 AS DOUBLE) AS sum_buckets,
        |       CAST(s1 AS DOUBLE) / n_buckets AS avg_bucket,
        |       CAST(s2 AS DOUBLE) AS sum_of_squares,
        |       CAST(s2 AS DOUBLE) / n_buckets
        |         - (CAST(s1 AS DOUBLE) / n_buckets) * (CAST(s1 AS DOUBLE) / n_buckets) AS variance,
        |       sqrt(CAST(s2 AS DOUBLE) / n_buckets
        |         - (CAST(s1 AS DOUBLE) / n_buckets) * (CAST(s1 AS DOUBLE) / n_buckets)) AS std_deviation
        |FROM a""".stripMargin,

    "q_bucket_correlation" ->
      """WITH day AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx,
        |         coalesce(sum(CASE WHEN event_type = 'purchase'
        |                           THEN CAST(value AS DECIMAL(12,2)) END),
        |                  CAST(0.0 AS DECIMAL(12,2))) AS x,
        |         coalesce(sum(CASE WHEN event_type = 'click'
        |                           THEN CAST(value AS DECIMAL(12,2)) END),
        |                  CAST(0.0 AS DECIMAL(12,2))) AS y
        |  FROM events GROUP BY 1),
        |a AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |        sum(CAST(x AS DECIMAL(38,4)) * CAST(y AS DECIMAL(38,4))) AS sxy,
        |        sum(CAST(x AS DECIMAL(38,4)) * CAST(x AS DECIMAL(38,4))) AS sxx,
        |        sum(CAST(y AS DECIMAL(38,4)) * CAST(y AS DECIMAL(38,4))) AS syy
        |      FROM day)
        |SELECT n,
        |       (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |       sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |            * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS correlation
        |FROM a""".stripMargin,

    "text_terms_lookup" ->
      raw"""WITH lk AS (SELECT list_distinct(list_filter(
           |         string_split_regex(lower(text), '\s+'), x -> x <> '')) AS lt
           |       FROM documents WHERE doc_id = 42)
           |SELECT doc_id, n_shared FROM (
           |  SELECT d.doc_id,
           |    CAST(len(list_intersect(list_distinct(list_filter(
           |      string_split_regex(lower(d.text), '\s+'), x -> x <> '')), lk.lt)) AS BIGINT) AS n_shared
           |  FROM documents d CROSS JOIN lk WHERE d.doc_id <> 42) t
           |WHERE n_shared > 0
           |ORDER BY n_shared DESC, doc_id LIMIT 25""".stripMargin,

    "q_time_series" ->
      """SELECT dim, day_idx, n, sum_value, ts_us AS last_ts_us,
        |       event_id AS last_event_id, value AS last_value FROM (
        |  SELECT user_id % 10 AS dim, epoch_us(ts) // 86400000000 AS day_idx,
        |         epoch_us(ts) AS ts_us, event_id, value,
        |         count(*) OVER w AS n,
        |         CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_value,
        |         row_number() OVER (PARTITION BY user_id % 10, epoch_us(ts) // 86400000000
        |                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id % 10, epoch_us(ts) // 86400000000)) t
        |WHERE rn = 1""".stripMargin,

    "text_intervals" ->
      raw"""WITH tk AS (SELECT doc_id,
           |    unnest(string_split_regex(lower(text), '\s+')) AS t,
           |    generate_subscripts(string_split_regex(lower(text), '\s+'), 1) AS i
           |  FROM documents),
           |p1 AS (SELECT doc_id, i FROM tk WHERE t = 'hash'),
           |p2 AS (SELECT doc_id, i FROM tk WHERE t = 'join'),
           |p3 AS (SELECT doc_id, i FROM tk WHERE t = 'scan')
           |SELECT p1.doc_id, count(*) AS n_intervals
           |FROM p1 JOIN p3 ON p1.doc_id = p3.doc_id
           |WHERE p3.i > p1.i + 1 AND p3.i - p1.i - 2 <= 6
           |  AND EXISTS (SELECT 1 FROM p2 WHERE p2.doc_id = p1.doc_id
           |              AND p2.i > p1.i AND p2.i < p3.i)
           |GROUP BY p1.doc_id
           |ORDER BY n_intervals DESC, p1.doc_id LIMIT 25""".stripMargin,

    "text_intervals_ast" -> text.IntervalsAst.oracleSql(intervalsAstTree, 25),
    "text_intervals_nested" -> text.IntervalsAst.oracleSql(intervalsNestedTree, 25),
    "text_intervals_prefix" -> text.IntervalsAst.oracleSql(intervalsPrefixTree, 25),
    "text_intervals_filter" -> text.IntervalsAst.oracleSql(intervalsFilterTree, 25),
    "text_intervals_fuzzy" -> text.IntervalsAst.oracleSql(intervalsFuzzyTree, 25),
    "text_intervals_wildcard" -> text.IntervalsAst.oracleSql(intervalsWildcardTree, 25),
    "text_span_near" -> text.Spans.oracleSql(spanNearQuery, 25),
    "text_span_or" -> text.Spans.oracleSql(spanOrQuery, 25),
    "text_span_not" -> text.Spans.oracleSql(spanNotQuery, 25),
    "text_span_within" -> text.Spans.oracleSql(spanWithinQuery, 25),
    "text_span_containing" -> text.Spans.oracleSql(spanContainingQuery, 25),
    "text_span_multi" -> text.Spans.oracleSql(spanMultiQuery, 25),

    "q_bucket_ks_test" ->
      """WITH day AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n
        |  FROM events GROUP BY 1),
        |b AS (SELECT day_idx, n, sum(n) OVER (ORDER BY day_idx) AS cum_n,
        |        row_number() OVER (ORDER BY day_idx) AS rk FROM day),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
        |             CAST(sum(n) AS BIGINT) AS total FROM b)
        |SELECT n_buckets, total,
        |       max(abs(CAST(cum_n AS DOUBLE) / CAST(total AS DOUBLE)
        |             - CAST(rk AS DOUBLE) / CAST(n_buckets AS DOUBLE))) AS d_stat
        |FROM b CROSS JOIN t GROUP BY 1, 2""".stripMargin,

    "q_cumulative_sum" ->
      """WITH day AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
        |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
        |  FROM events GROUP BY 1)
        |SELECT day_idx, n, CAST(dsum AS DOUBLE) AS sum_value,
        |       CAST(sum(dsum) OVER (ORDER BY day_idx) AS DOUBLE) AS cum_sum,
        |       CAST(sum(n) OVER (ORDER BY day_idx) AS BIGINT) AS cum_n
        |FROM day""".stripMargin,

    "q_derivative" ->
      """WITH day AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
        |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
        |  FROM events GROUP BY 1)
        |SELECT day_idx, n, CAST(dsum AS DOUBLE) AS sum_value,
        |       CAST(dsum - lag(dsum) OVER w AS DOUBLE) AS deriv,
        |       CAST(dsum - lag(dsum) OVER w AS DOUBLE)
        |         / CAST(day_idx - lag(day_idx) OVER w AS DOUBLE) AS deriv_per_day
        |FROM day WINDOW w AS (ORDER BY day_idx)""".stripMargin,

    "q_terms_shard_error" ->
      raw"""WITH tk AS (SELECT CAST(doc_id % 3 AS INTEGER) AS shard,
           |    unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents),
           |ps AS (SELECT shard, term, count(*) AS cnt FROM tk
           |       WHERE term <> '' GROUP BY 1, 2),
           |rk AS (SELECT shard, term, cnt,
           |         row_number() OVER (PARTITION BY shard ORDER BY cnt DESC, term) AS rk
           |       FROM ps),
           |tails AS (SELECT shard,
           |            CASE WHEN max(rk) > 10
           |                 THEN min(CASE WHEN rk <= 10 THEN cnt END)
           |                 ELSE 0 END AS tail
           |          FROM rk GROUP BY shard),
           |tt AS (SELECT sum(tail) AS total_tail FROM tails),
           |ret AS (SELECT r.term, r.cnt, t.tail
           |        FROM rk r JOIN tails t ON r.shard = t.shard WHERE r.rk <= 10)
           |SELECT term, CAST(sum(cnt) AS BIGINT) AS doc_count,
           |       CAST(total_tail - sum(tail) AS BIGINT) AS error_bound
           |FROM ret CROSS JOIN tt
           |GROUP BY term, total_tail
           |ORDER BY doc_count DESC, term LIMIT 25""".stripMargin,

    "text_match_bool_prefix" ->
      raw"""WITH d AS (SELECT doc_id,
           |    string_split_regex(lower(text), '\s+') AS toks FROM documents)
           |SELECT doc_id,
           |       CAST(len(list_filter(toks, x -> x = 'dup'))
           |          + len(list_filter(toks, x -> x = 'query'))
           |          + len(list_filter(toks, x -> x LIKE 'sc%')) AS BIGINT) AS score
           |FROM d
           |WHERE len(list_filter(toks, x -> x = 'dup'))
           |    + len(list_filter(toks, x -> x = 'query'))
           |    + len(list_filter(toks, x -> x LIKE 'sc%')) > 0
           |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,

    "text_search_as_you_type" ->
      raw"""WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
           |g AS (SELECT doc_id, toks,
           |  CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
           |       ELSE list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')) END AS sh2,
           |  CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
           |       ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END AS sh3
           |  FROM d),
           |s AS (SELECT doc_id,
           |    CAST(len(list_filter(toks, x -> x = 'part')) AS BIGINT)
           |  + CAST(len(list_filter(toks, x -> x = 'filter')) AS BIGINT)
           |  + CAST(len(list_filter(toks, x -> x LIKE 'sm%')) AS BIGINT)
           |  + CAST(len(list_filter(sh2, x -> x = 'part filter')) AS BIGINT)
           |  + CAST(len(list_filter(sh2, x -> x LIKE 'filter sm%')) AS BIGINT)
           |  + CAST(len(list_filter(sh3, x -> x LIKE 'part filter sm%')) AS BIGINT) AS score
           |  FROM g)
           |SELECT doc_id, score FROM s WHERE score > 0
           |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q_rescore" ->
      raw"""WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
           |p AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
           |        CAST(len(list_filter(toks, x -> x = 'dup')) AS BIGINT) AS tf0,
           |        CAST(len(list_filter(toks, x -> x = 'query')) AS BIGINT) AS tf1,
           |        CAST(len(list_filter(toks, x -> x = 'scan')) AS BIGINT) AS tf2
           |      FROM d),
           |st0 AS (SELECT count(*) AS n_docs, sum(dl) AS total_toks,
           |        sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
           |        sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
           |        sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2 FROM p),
           |st AS (SELECT * FROM ${bm25IdfNest3}),
           |bm AS (SELECT doc_id,
           |    idf0 * (tf0 * (1.2e0 + 1)) / (tf0 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs))))
           |    + idf1 * (tf1 * (1.2e0 + 1)) / (tf1 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs))))
           |    + idf2 * (tf2 * (1.2e0 + 1)) / (tf2 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs)))) AS first_score
           |  FROM p CROSS JOIN st WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
           |  ORDER BY first_score DESC, doc_id LIMIT 30),
           |tk AS (SELECT doc_id, unnest(toks) AS t, generate_subscripts(toks, 1) AS i FROM d),
           |ph AS (SELECT pa.doc_id, count(*) AS n
           |       FROM tk pa JOIN tk pb ON pa.doc_id = pb.doc_id AND pb.i = pa.i + 1
           |       WHERE pa.t = 'query' AND pb.t = 'scan' GROUP BY pa.doc_id)
           |SELECT bm.doc_id, first_score,
           |       CAST(coalesce(ph.n, 0) AS BIGINT) AS phrase_tf,
           |       first_score * 1.0e0 + CAST(coalesce(ph.n, 0) AS DOUBLE) * 2.0e0 AS score
           |FROM bm LEFT JOIN ph ON bm.doc_id = ph.doc_id
           |ORDER BY score DESC, bm.doc_id LIMIT 10""".stripMargin,

    "q_parent_agg" ->
      """SELECT l_returnflag, count(*) AS n_parents,
        |       CAST(sum(tp) AS DOUBLE) AS sum_parent_total
        |FROM (SELECT DISTINCT l_returnflag, o_orderkey,
        |             CAST(o_totalprice AS DECIMAL(12,2)) AS tp
        |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |GROUP BY 1""".stripMargin,

    "q_distance_feature" ->
      """SELECT event_id, epoch_us(ts) AS ts_us,
        |       2.0 * 86400000000.0 /
        |         (86400000000.0 + CAST(abs(epoch_us(ts) - 1705330000000000) AS DOUBLE)) AS score
        |FROM events
        |ORDER BY score DESC, event_id LIMIT 20""".stripMargin,

    "q_runtime_fields" ->
      """SELECT day_of_week, value_band, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM (SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS day_of_week,
        |             CAST(floor(value / 50.0) AS BIGINT) AS value_band, value
        |      FROM events)
        |WHERE day_of_week IN (0, 6)
        |GROUP BY 1, 2""".stripMargin,

    "q_random_sampler" ->
      """SELECT event_type, count(*) AS n_sampled,
        |       count(*) / 0.125e0 AS est_n,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / 0.125e0 AS est_sum_value
        |FROM events
        |WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 3) < '200'
        |GROUP BY event_type""".stripMargin,

    "q_counter_rate" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |         CAST(value AS DECIMAL(12,2)) AS v,
        |         lag(CAST(value AS DECIMAL(12,2))) OVER
        |           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |i AS (SELECT user_id, ts_us,
        |        CASE WHEN prev IS NULL THEN CAST(0.0 AS DECIMAL(12,2))
        |             WHEN v >= prev THEN v - prev
        |             ELSE v END AS inc
        |      FROM d),
        |g AS (SELECT user_id, count(*) AS n_samples,
        |        CAST(sum(inc) AS DOUBLE) AS total_increase,
        |        max(ts_us) - min(ts_us) AS span_us
        |      FROM i GROUP BY user_id)
        |SELECT user_id, n_samples, total_increase, span_us,
        |       total_increase * 3600000000.0e0 / CAST(span_us AS DOUBLE) AS rate_per_hour
        |FROM g WHERE span_us > 0
        |ORDER BY rate_per_hour DESC, user_id LIMIT 20""".stripMargin,

    "text_span_first" ->
      raw"""WITH tk AS (SELECT doc_id,
           |    unnest(string_split_regex(lower(text), '\s+')) AS t,
           |    generate_subscripts(string_split_regex(lower(text), '\s+'), 1) AS i
           |  FROM documents),
           |p AS (SELECT doc_id, i FROM tk WHERE t = 'hash' AND i <= 12)
           |SELECT doc_id, count(*) AS n_within, min(i) AS first_pos
           |FROM p GROUP BY doc_id
           |ORDER BY n_within DESC, doc_id LIMIT 25""".stripMargin,

    "text_combined_fields" ->
      raw"""WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
           |p AS (SELECT doc_id,
           |        CAST(2 * len(toks[1:8]) + len(toks[9:]) AS BIGINT) AS dl,
           |        CAST(2 * len(list_filter(toks[1:8], x -> x = 'merge'))
           |             + len(list_filter(toks[9:], x -> x = 'merge')) AS BIGINT) AS tf0,
           |        CAST(2 * len(list_filter(toks[1:8], x -> x = 'query'))
           |             + len(list_filter(toks[9:], x -> x = 'query')) AS BIGINT) AS tf1,
           |        CAST(2 * len(list_filter(toks[1:8], x -> x = 'scan'))
           |             + len(list_filter(toks[9:], x -> x = 'scan')) AS BIGINT) AS tf2
           |      FROM d),
           |st0 AS (SELECT count(*) AS n_docs, sum(dl) AS total_toks,
           |        sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
           |        sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
           |        sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
           |      FROM p),
           |st AS (SELECT * FROM ${bm25IdfNest3})
           |SELECT doc_id, dl, score FROM (
           |  SELECT doc_id, dl,
           |    idf0 * (tf0 * (1.2e0 + 1)) / (tf0 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs))))
           |    + idf1 * (tf1 * (1.2e0 + 1)) / (tf1 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs))))
           |    + idf2 * (tf2 * (1.2e0 + 1)) / (tf2 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs)))) AS score
           |  FROM p CROSS JOIN st
           |  WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0) t
           |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,

    // generated from the same constants as the Spark side (TextOps
    // dual-compile)
    "q_multi_match_most_fields" ->
      text.TextOps.multiMatchOracleSql(Seq("merge", "query", "scan"), 8,
        "most_fields", 2.0, 1.0, 15),
    "q_multi_match_cross_fields" ->
      text.TextOps.multiMatchOracleSql(Seq("merge", "query", "scan"), 8,
        "cross_fields", 1.0, 1.0, 15),

    "q_retriever_linear" ->
      raw"""WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
           |p AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
           |        CAST(len(list_filter(toks, x -> x = 'dup')) AS BIGINT) AS tf0,
           |        CAST(len(list_filter(toks, x -> x = 'query')) AS BIGINT) AS tf1,
           |        CAST(len(list_filter(toks, x -> x = 'scan')) AS BIGINT) AS tf2
           |      FROM d),
           |st0 AS (SELECT count(*) AS n_docs, sum(dl) AS total_toks,
           |        sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
           |        sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
           |        sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2 FROM p),
           |st AS (SELECT * FROM ${bm25IdfNest3}),
           |bm AS (SELECT doc_id,
           |    idf0 * (tf0 * (1.2e0 + 1)) / (tf0 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs))))
           |    + idf1 * (tf1 * (1.2e0 + 1)) / (tf1 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs))))
           |    + idf2 * (tf2 * (1.2e0 + 1)) / (tf2 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs)))) AS score
           |  FROM p CROSS JOIN st WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
           |  ORDER BY score DESC, doc_id LIMIT 30),
           |lexg AS (SELECT min(score) AS lo, max(score) AS hi FROM bm),
           |lex AS (SELECT doc_id,
           |          CASE WHEN hi = lo THEN 1.0e0 ELSE (score - lo) / (hi - lo) END AS lex_norm
           |        FROM bm CROSS JOIN lexg),
           |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
           |qv AS (SELECT emb AS q FROM e WHERE vec_id = 7),
           |sem0 AS (SELECT vec_id, list_cosine_similarity(emb, q) AS cos FROM e CROSS JOIN qv
           |         WHERE vec_id <> 7 ORDER BY cos DESC, vec_id LIMIT 30),
           |semg AS (SELECT min(cos) AS lo, max(cos) AS hi FROM sem0),
           |sem AS (SELECT vec_id AS doc_id,
           |          CASE WHEN hi = lo THEN 1.0e0 ELSE (cos - lo) / (hi - lo) END AS sem_norm
           |        FROM sem0 CROSS JOIN semg)
           |SELECT doc_id, lex_norm, sem_norm,
           |  0.75e0 * coalesce(lex_norm, 0e0) + 0.25e0 * coalesce(sem_norm, 0e0) AS fused
           |FROM lex FULL OUTER JOIN sem USING (doc_id)
           |ORDER BY fused DESC, doc_id LIMIT 15""".stripMargin,

    "q_query_string" ->
      raw"""WITH t AS (SELECT doc_id, source, n_chars,
           |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'hash')) AS BIGINT) AS tf_hash,
           |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'join')) AS BIGINT) AS tf_join,
           |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'vector')) AS BIGINT) AS tf_vec
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(tf_hash AS DOUBLE) * 1.0e0
           |    + (CASE WHEN tf_join > 0 THEN CAST(tf_join AS DOUBLE) * 1.0e0 ELSE 0e0 END
           |       + CASE WHEN tf_vec > 0 THEN CAST(tf_vec AS DOUBLE) * 1.0e0 ELSE 0e0 END) * 1.0e0
           |    + 0.0e0 + 1.0e0 AS score
           |FROM t
           |WHERE tf_hash > 0 AND (tf_join > 0 OR tf_vec > 0)
           |  AND NOT source = 'src13' AND n_chars >= 150
           |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // mirrors the parsed tree exactly: root Bool(should=[AND-group,
    // range], mustNot=[source term], msm=1); the AND-group is a SHOULD
    // here, so its score needs the outer CASE (unlike q_query_string,
    // where the group sits in must and WHERE already guarantees it)
    "q_simple_query_string" ->
      raw"""WITH t AS (SELECT doc_id, source, n_chars,
           |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'scan')) AS BIGINT) AS tf_scan,
           |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'vector')) AS BIGINT) AS tf_vec,
           |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'stream')) AS BIGINT) AS tf_str
           |  FROM documents)
           |SELECT doc_id,
           |  (CASE WHEN tf_scan > 0 AND (tf_vec > 0 OR tf_str > 0)
           |        THEN (CAST(tf_scan AS DOUBLE) * 1.0e0
           |              + CASE WHEN tf_vec > 0 OR tf_str > 0
           |                     THEN (CASE WHEN tf_vec > 0 THEN CAST(tf_vec AS DOUBLE) * 1.0e0 ELSE 0e0 END
           |                           + CASE WHEN tf_str > 0 THEN CAST(tf_str AS DOUBLE) * 1.0e0 ELSE 0e0 END) * 1.0e0
           |                     ELSE 0e0 END) * 1.0e0
           |        ELSE 0e0 END
           |   + CASE WHEN n_chars <= 299 THEN 1.0e0 ELSE 0e0 END) * 1.0e0 AS score
           |FROM t
           |WHERE NOT source = 'src7'
           |  AND ((CASE WHEN tf_scan > 0 AND (tf_vec > 0 OR tf_str > 0) THEN 1 ELSE 0 END
           |        + CASE WHEN n_chars <= 299 THEN 1 ELSE 0 END) >= 1)
           |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "text_percolate_dsl" -> percolateDslSql,
    // the indexed twin answers the SAME question — one oracle drives both
    "text_percolate_dsl_indexed" -> percolateDslSql,
    "text_percolate_dsl_atscale" -> percolateDslSql,

    "q_numeric_histogram" ->
      """SELECT CAST(floor(value / 10.0) AS BIGINT) AS bucket, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    "q_histogram_bounds" ->
      """WITH agg AS (
        |  SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket, count(*) AS n,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1),
        |frame AS (SELECT unnest(range(-2, 27)) AS bucket)
        |SELECT bucket, coalesce(n, 0) AS n, coalesce(sum_value, 0.0) AS sum_value
        |FROM frame FULL OUTER JOIN agg USING (bucket)""".stripMargin,

    "q_boxplot" -> boxplotSql,
    "q_boxplot_dist" -> boxplotSql,

    "q_mad" -> madSql,
    "q_mad_dist" -> madSql,

    "q_string_stats" ->
      """SELECT event_type, count(*) AS n,
        |       min(length(props)) AS min_len, max(length(props)) AS max_len,
        |       CAST(sum(length(props)) AS BIGINT) AS sum_len,
        |       CAST(sum(length(props)) AS DOUBLE) / count(*) AS avg_len
        |FROM events GROUP BY event_type""".stripMargin,

    "q_percentile_facet" -> percentileFacetSql,
    "q_percentile_facet_dist" -> percentileFacetSql,

    "q_cardinality" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_distinct, count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,

    "q_search_after" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value FROM events
        |WHERE epoch_us(ts) > 1705330000000000 OR (epoch_us(ts) = 1705330000000000 AND event_id > 0)
        |ORDER BY ts_us, event_id LIMIT 50""".stripMargin,

    "q_hash_sample" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 2) < '05'""".stripMargin,

    "q_sampler" ->
      """WITH s AS (SELECT event_type, value, event_id FROM events
        |           ORDER BY value DESC, event_id LIMIT 500)
        |SELECT event_type, count(*) AS n_docs,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       min(event_id) AS min_id
        |FROM s GROUP BY event_type""".stripMargin,

    "q_diversified_sampler" ->
      """WITH r AS (SELECT event_type, user_id, value, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
        |  FROM events),
        |s AS (SELECT event_type, value, event_id FROM r WHERE rk <= 5
        |      ORDER BY value DESC, event_id LIMIT 500)
        |SELECT event_type, count(*) AS n_docs,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       min(event_id) AS min_id
        |FROM s GROUP BY event_type""".stripMargin,

    "q_rollup_agg" ->
      """SELECT coalesce(day_idx, -1) AS day_idx, coalesce(event_type, 'ALL') AS event_type,
        |       count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (SELECT epoch_us(ts) // 86400000000 AS day_idx, event_type, value FROM events)
        |GROUP BY ROLLUP(day_idx, event_type)""".stripMargin,

    "q_cube_agg" ->
      """SELECT coalesce(day_idx, -1) AS day_idx, coalesce(event_type, 'ALL') AS event_type,
        |       count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (SELECT epoch_us(ts) // 86400000000 AS day_idx, event_type, value FROM events)
        |GROUP BY CUBE(day_idx, event_type)""".stripMargin,

    "q_composite_agg" ->
      """SELECT event_type, user_id // 100 AS user_bucket, count(*) AS n,
        |       count(DISTINCT user_id) AS n_users,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |HAVING event_type > 'click' OR (event_type = 'click' AND user_bucket > 0)
        |ORDER BY event_type, user_bucket LIMIT 20""".stripMargin,

    "q_frequent_item_sets" ->
      """WITH basket AS (
        |  SELECT DISTINCT l.l_orderkey AS bk, p.p_brand AS item
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |nb AS (SELECT count(DISTINCT bk) AS n_baskets FROM basket),
        |pairs AS (
        |  SELECT a.bk, a.item AS item1, b.item AS item2
        |  FROM basket a JOIN basket b ON a.bk = b.bk AND a.item < b.item),
        |p2 AS (SELECT 2 AS set_size, item1, item2,
        |              CAST(NULL AS VARCHAR) AS item3, count(*) AS support
        |       FROM pairs GROUP BY 1, 2, 3, 4),
        |p3 AS (SELECT 3 AS set_size, p.item1, p.item2, c.item AS item3,
        |              count(*) AS support
        |       FROM pairs p JOIN basket c ON p.bk = c.bk AND c.item > p.item2
        |       GROUP BY 1, 2, 3, 4),
        |u AS (SELECT * FROM p2 UNION ALL SELECT * FROM p3),
        |f AS (SELECT u.*, nb.n_baskets FROM u, nb
        |      WHERE u.support * 1000 >= nb.n_baskets * 1),
        |r AS (SELECT f.*, row_number() OVER (PARTITION BY set_size
        |        ORDER BY support DESC, item1, item2, item3) AS rk FROM f)
        |SELECT CAST(set_size AS BIGINT) AS set_size, CAST(rk AS BIGINT) AS set_rank,
        |       item1, item2, item3, CAST(support AS BIGINT) AS support,
        |       CAST(support AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS support_ratio
        |FROM r WHERE rk <= 20""".stripMargin,

    "q_pipeline_aggs" ->
      """WITH day AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
        |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
        |  FROM events GROUP BY 1)
        |SELECT day_idx, n, CAST(dsum AS DOUBLE) AS sum_value,
        |       CAST(sum(dsum) OVER (ORDER BY day_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_value,
        |       coalesce(CAST(dsum - lag(dsum) OVER (ORDER BY day_idx) AS DOUBLE), 0.0) AS derivative,
        |       CAST(sum(dsum) OVER w7 AS DOUBLE) / count(*) OVER w7 AS mov7_avg
        |FROM day
        |WINDOW w7 AS (ORDER BY day_idx ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_bucket_selector" ->
      """WITH day AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
        |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
        |  FROM events GROUP BY 1),
        |g AS (SELECT CAST(sum(dsum) AS DOUBLE) / count(*) AS avg_bucket FROM day)
        |SELECT day_idx, n, CAST(dsum AS DOUBLE) AS sum_value, avg_bucket
        |FROM day, g WHERE CAST(dsum AS DOUBLE) > avg_bucket""".stripMargin,

    "q_bucket_sort" ->
      """WITH day AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1)
        |SELECT day_idx, n, sum_value FROM day
        |ORDER BY sum_value DESC, day_idx LIMIT 10 OFFSET 5""".stripMargin,

    "q_stats_bucket" ->
      """WITH day AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx,
        |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
        |  FROM events GROUP BY 1)
        |SELECT count(*) AS n_buckets,
        |       CAST(min(dsum) AS DOUBLE) AS min_bucket,
        |       CAST(max(dsum) AS DOUBLE) AS max_bucket,
        |       CAST(sum(dsum) AS DOUBLE) AS sum_buckets,
        |       CAST(sum(dsum) AS DOUBLE) / count(*) AS avg_bucket
        |FROM day""".stripMargin,

    "q_serial_diff" ->
      """WITH day AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
        |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
        |  FROM events GROUP BY 1)
        |SELECT day_idx, n, CAST(dsum AS DOUBLE) AS sum_value,
        |       coalesce(CAST(dsum - lag(dsum, 7) OVER (ORDER BY day_idx) AS DOUBLE), 0.0) AS serial_diff
        |FROM day""".stripMargin,

    "q_moving_fn" ->
      """WITH day AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
        |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
        |  FROM events GROUP BY 1)
        |SELECT day_idx, n, CAST(dsum AS DOUBLE) AS sum_value,
        |       CAST(max(dsum) OVER w AS DOUBLE) AS mov_max,
        |       CAST(min(dsum) OVER w AS DOUBLE) AS mov_min,
        |       count(*) OVER w AS mov_n
        |FROM day
        |WINDOW w AS (ORDER BY day_idx ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_moving_percentiles" ->
      """WITH day AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
        |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT day_idx, n, dsum,
        |         list_sort(list(dsum) OVER (ORDER BY day_idx ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
        |  FROM day)
        |SELECT day_idx, n, CAST(dsum AS DOUBLE) AS sum_value,
        |       CAST(arr[CAST(ceil(0.5 * len(arr)) AS INTEGER)] AS DOUBLE) AS p50,
        |       CAST(arr[CAST(ceil(0.9 * len(arr)) AS INTEGER)] AS DOUBLE) AS p90
        |FROM m""".stripMargin,

    "q_ip_range" -> {
      val full = Seq(10L * 16777216L) ++ ipEdges ++ Seq(11L * 16777216L)
      val cases = ipEdges.zipWithIndex
        .map { case (e, i) => s"WHEN u32 < $e THEN $i" }.mkString(" ")
      val values = full.init.zipWithIndex
        .map { case (lo, i) => s"($i, '${ipDotted(lo)}', '${ipDotted(full(i + 1))}')" }
        .mkString(", ")
      s"""WITH ip AS (SELECT user_id, ${operators.Analytics.ipU32Sql} AS u32 FROM events),
         |r AS (SELECT CASE $cases ELSE ${ipEdges.size} END AS range_idx, user_id FROM ip),
         |g AS (SELECT range_idx, count(*) AS n, count(DISTINCT user_id) AS n_users
         |      FROM r GROUP BY 1)
         |SELECT CAST(rr.range_idx AS BIGINT) AS range_idx, rr.ip_from, rr.ip_to,
         |       coalesce(g.n, 0) AS n, coalesce(g.n_users, 0) AS n_users
         |FROM (VALUES $values) rr(range_idx, ip_from, ip_to)
         |LEFT JOIN g ON rr.range_idx = g.range_idx""".stripMargin
    },

    "q_percentiles_bucket" ->
      """WITH day AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx,
        |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
        |  FROM events GROUP BY 1),
        |a AS (SELECT list_sort(list(dsum)) AS arr FROM day)
        |SELECT CAST(len(arr) AS BIGINT) AS n_buckets,
        |       CAST(arr[CAST(ceil(0.25 * len(arr)) AS INTEGER)] AS DOUBLE) AS p25,
        |       CAST(arr[CAST(ceil(0.5 * len(arr)) AS INTEGER)] AS DOUBLE) AS p50,
        |       CAST(arr[CAST(ceil(0.9 * len(arr)) AS INTEGER)] AS DOUBLE) AS p90,
        |       CAST(arr[CAST(ceil(0.99 * len(arr)) AS INTEGER)] AS DOUBLE) AS p99
        |FROM a""".stripMargin,

    "q_rate" ->
      """WITH day AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
        |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
        |  FROM events GROUP BY 1)
        |SELECT day_idx, n,
        |       CAST(n AS DOUBLE) / 24.0 AS docs_per_hour,
        |       CAST(dsum AS DOUBLE) / 24.0 AS value_per_hour
        |FROM day""".stripMargin,

    "q_normalize" ->
      """WITH day AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
        |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
        |  FROM events GROUP BY 1),
        |span AS (SELECT min(dsum) AS lo, max(dsum) AS hi FROM day)
        |SELECT day_idx, n, CAST(dsum AS DOUBLE) AS sum_value,
        |       CASE WHEN hi = lo THEN 0.0
        |            ELSE CAST(dsum - lo AS DOUBLE) / CAST(hi - lo AS DOUBLE)
        |       END AS normalized
        |FROM day, span""".stripMargin,

    "q_t_test" ->
      """WITH s AS (SELECT
        |    count(*) FILTER (event_type = 'click') AS n_a,
        |    sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'click') AS sa,
        |    sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) FILTER (event_type = 'click') AS ssa,
        |    count(*) FILTER (event_type = 'view') AS n_b,
        |    sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'view') AS sb,
        |    sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) FILTER (event_type = 'view') AS ssb
        |  FROM events),
        |d AS (SELECT n_a, n_b,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    CAST(sa AS DOUBLE) AS dsa, CAST(sb AS DOUBLE) AS dsb,
        |    CAST(ssa AS DOUBLE) AS dssa, CAST(ssb AS DOUBLE) AS dssb
        |  FROM s)
        |SELECT n_a, n_b, dsa / na AS mean_a, dsb / nb AS mean_b,
        |       (dsa / na - dsb / nb)
        |         / sqrt(((dssa - dsa * dsa / na) / (na - 1)) / na
        |              + ((dssb - dsb * dsb / nb) / (nb - 1)) / nb) AS t_stat
        |FROM d""".stripMargin,

    "q_cumulative_cardinality" ->
      """WITH fd AS (SELECT user_id, min(epoch_us(ts) // 3600000000) AS hour_idx
        |            FROM events GROUP BY 1),
        |pd AS (SELECT hour_idx, count(*) AS new_users FROM fd GROUP BY 1)
        |SELECT hour_idx, new_users,
        |       CAST(sum(new_users) OVER (ORDER BY hour_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM pd""".stripMargin,

    "q_auto_date_histogram" ->
      """WITH span AS (
        |  SELECT max(epoch_us(ts)) // 86400000000
        |       - min(epoch_us(ts)) // 86400000000 + 1 AS sd FROM events),
        |iv AS (SELECT CASE WHEN sd // 1 + 1 <= 10 THEN 1
        |                   WHEN sd // 7 + 1 <= 10 THEN 7
        |                   WHEN sd // 30 + 1 <= 10 THEN 30
        |                   WHEN sd // 90 + 1 <= 10 THEN 90
        |                   ELSE 365 END AS interval_days FROM span)
        |SELECT (epoch_us(ts) // 86400000000) // interval_days AS bucket_idx,
        |       count(*) AS n, interval_days
        |FROM events, iv GROUP BY 1, interval_days""".stripMargin,

    "q_multi_terms" ->
      """SELECT event_type, user_id % 10 AS user_mod, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2
        |ORDER BY n DESC, event_type, user_mod LIMIT 25""".stripMargin,

    "q_filters_facet" ->
      """SELECT 'high_value' AS bucket, count(*) FILTER (WHERE value >= 90) AS n,
        |       CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE value >= 90), 0) AS DOUBLE) AS sum_value
        |FROM events
        |UNION ALL
        |SELECT 'clicks', count(*) FILTER (WHERE event_type = 'click'),
        |       CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'click'), 0) AS DOUBLE)
        |FROM events
        |UNION ALL
        |SELECT 'early_users', count(*) FILTER (WHERE user_id < 500),
        |       CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE user_id < 500), 0) AS DOUBLE)
        |FROM events""".stripMargin,

    "q_filters_other_bucket" ->
      """SELECT 'high_value' AS bucket, count(*) FILTER (WHERE value >= 90) AS n,
        |       CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE value >= 90), 0) AS DOUBLE) AS sum_value
        |FROM events
        |UNION ALL
        |SELECT 'clicks', count(*) FILTER (WHERE event_type = 'click'),
        |       CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'click'), 0) AS DOUBLE)
        |FROM events
        |UNION ALL
        |SELECT 'early_users', count(*) FILTER (WHERE user_id < 500),
        |       CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE user_id < 500), 0) AS DOUBLE)
        |FROM events
        |UNION ALL
        |SELECT '_other_',
        |       count(*) FILTER (WHERE NOT (value >= 90) AND NOT (event_type = 'click') AND NOT (user_id < 500)),
        |       CAST(coalesce(sum(CAST(value AS DECIMAL(18,2)))
        |         FILTER (WHERE NOT (value >= 90) AND NOT (event_type = 'click') AND NOT (user_id < 500)), 0) AS DOUBLE)
        |FROM events""".stripMargin,

    "q_range_facet" ->
      """WITH spec AS (SELECT * FROM (VALUES
        |    (CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), CAST(50.0 AS DOUBLE)),
        |    (1, 50.0, 100.0), (2, 100.0, 200.0), (3, 200.0, 400.0),
        |    (4, 400.0, 1000.0), (5, 1000.0, -1.0)) t(bucket_id, lo, hi)),
        |agg AS (
        |  SELECT bucket_id, count(*) AS n,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events JOIN spec ON value >= lo AND (hi = -1.0 OR value < hi)
        |  GROUP BY bucket_id)
        |SELECT spec.bucket_id, lo, hi, coalesce(n, 0) AS n,
        |       coalesce(sum_value, 0.0) AS sum_value
        |FROM spec LEFT JOIN agg USING (bucket_id)""".stripMargin,

    // same exact-decimal power sums and the same double-op order as the
    // Spark side ((ab - a*b/n)/n, cov/sqrt(va*vb)) → bit-identical
    "q_matrix_stats" ->
      """WITH s AS (
        |  SELECT count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,4))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS sy,
        |    sum(CAST(l_discount AS DECIMAL(18,4))) AS sz,
        |    sum(CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(19,4)) * CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS sxx,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(19,4)) * CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS syy,
        |    sum(CAST(CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(19,4)) * CAST(CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS szz,
        |    sum(CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(19,4)) * CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS sxy,
        |    sum(CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(19,4)) * CAST(CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS sxz,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(19,4)) * CAST(CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS syz
        |  FROM lineitem),
        |p AS (
        |  SELECT 'quantity_extendedprice' AS pair, n,
        |         CAST(sx AS DOUBLE) AS a, CAST(sy AS DOUBLE) AS b,
        |         CAST(sxx AS DOUBLE) AS aa, CAST(syy AS DOUBLE) AS bb,
        |         CAST(sxy AS DOUBLE) AS ab FROM s
        |  UNION ALL SELECT 'quantity_discount', n, CAST(sx AS DOUBLE), CAST(sz AS DOUBLE),
        |         CAST(sxx AS DOUBLE), CAST(szz AS DOUBLE), CAST(sxz AS DOUBLE) FROM s
        |  UNION ALL SELECT 'extendedprice_discount', n, CAST(sy AS DOUBLE), CAST(sz AS DOUBLE),
        |         CAST(syy AS DOUBLE), CAST(szz AS DOUBLE), CAST(syz AS DOUBLE) FROM s)
        |SELECT pair, n, a / n AS mean_a, b / n AS mean_b,
        |       (ab - a * b / n) / n AS cov_ab,
        |       ((ab - a * b / n) / n)
        |         / sqrt(((aa - a * a / n) / n) * ((bb - b * b / n) / n)) AS corr_ab
        |FROM p""".stripMargin,

    "q_top_hits" ->
      """SELECT event_type,
        |       CAST(row_number() OVER (PARTITION BY event_type
        |           ORDER BY value DESC, event_id) AS INT) AS rank,
        |       event_id, epoch_us(ts) AS ts_us, user_id, value
        |FROM events QUALIFY rank <= 3""".stripMargin,

    "q_top_metrics" ->
      """SELECT event_type, ts_us, event_id, value AS latest_value FROM (
        |  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin,

    "text_suggest" -> termSuggestSql,
    "text_suggest_indexed" -> termSuggestSql,

    "text_terms_set" ->
      raw"""SELECT doc_id, n_matched FROM (
           |  SELECT doc_id,
           |    CAST(len(list_intersect(list_distinct(string_split_regex(lower(text), '\s+')),
           |         ['dup', 'merge', 'vector', 'window'])) AS BIGINT) AS n_matched
           |  FROM documents) t
           |WHERE n_matched >= 3""".stripMargin,

    // s = scale/(1-decay) = 80, precomputed on both sides; e0 literals
    // keep DuckDB in DOUBLE (the text_bm25 decimal-fold lesson)
    "q_decay_function" ->
      """SELECT event_id, value,
        |  greatest((80e0 - greatest(abs(value - 50e0) - 0.1e0, 0e0)) / 80e0, 0e0) AS decay_score
        |FROM events
        |ORDER BY decay_score DESC, event_id LIMIT 20""".stripMargin,

    // generated from the same constants as the Spark side
    "q_decay_gauss" ->
      operators.Analytics.gaussDecaySql(50.0, 80.0, 0.5, 20),

    "q_decay_exp" ->
      operators.Analytics.expDecaySql(50.0, 80.0, 0.5, 20),

    "q_function_score_fvf" ->
      operators.Analytics.fieldValueFactorSql(0.125, 1.5, 15),

    "q_function_score_script" ->
      operators.ScoreAst.wiredSql(),

    "q_function_score_decay" ->
      operators.ScoreAst.wiredDecaySql(),

    // geo: coordinate derivation + geohash bit math generated from the
    // SAME Scala parameters as the Spark side (Geo.coordsSql /
    // Geo.geohashSql) so the two engines cannot drift
    "q_geo_bounding_box" ->
      s"""WITH pts AS (SELECT event_type, value, ${operators.Geo.coordsSql} FROM events)
         |SELECT event_type, count(*) AS n,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM pts
         |WHERE lat >= -20.0 AND lat <= 40.0 AND lon >= -90.0 AND lon <= 30.0
         |GROUP BY event_type""".stripMargin,

    "q_geo_distance" ->
      s"""WITH pts AS (SELECT event_id, ${operators.Geo.coordsSql} FROM events)
         |SELECT event_id, lat, lon,
         |       (lat - 10.0) * (lat - 10.0) + (lon - (-30.0)) * (lon - (-30.0)) AS d2
         |FROM pts
         |WHERE (lat - 10.0) * (lat - 10.0) + (lon - (-30.0)) * (lon - (-30.0)) <= 400.0
         |ORDER BY d2, event_id LIMIT 25""".stripMargin,

    "q_geohash_grid" ->
      s"""WITH pts AS (SELECT ${operators.Geo.coordsSql} FROM events),
         |g AS (SELECT ${operators.Geo.geohashSql(2)} AS geohash FROM pts)
         |SELECT geohash, count(*) AS n FROM g
         |GROUP BY geohash ORDER BY n DESC, geohash LIMIT 20""".stripMargin,

    "q_geo_distance_rings" ->
      s"""WITH pts AS (SELECT value, ${operators.Geo.coordsSql} FROM events),
         |d AS (SELECT value,
         |        (lat - 10.0) * (lat - 10.0) + (lon - (-30.0)) * (lon - (-30.0)) AS d2
         |      FROM pts),
         |r AS (SELECT CASE WHEN d2 < 25.0 THEN 0 WHEN d2 < 100.0 THEN 1
         |                  WHEN d2 < 400.0 THEN 2 WHEN d2 < 1600.0 THEN 3
         |                  ELSE 4 END AS ring, value FROM d),
         |g AS (SELECT ring, count(*) AS n,
         |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |      FROM r GROUP BY ring)
         |SELECT CAST(rr.ring AS BIGINT) AS ring,
         |       coalesce(g.n, 0) AS n, coalesce(g.sum_value, 0.0) AS sum_value
         |FROM (SELECT unnest(range(0, 5)) AS ring) rr
         |LEFT JOIN g ON rr.ring = g.ring""".stripMargin,

    "q_geo_centroid" ->
      s"""WITH pts AS (SELECT event_type, ${operators.Geo.coordsSql} FROM events)
         |SELECT event_type, count(*) AS n,
         |       CAST(sum(CAST(lat AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS centroid_lat,
         |       CAST(sum(CAST(lon AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS centroid_lon
         |FROM pts GROUP BY event_type""".stripMargin,

    "q_geo_bounds" ->
      s"""WITH pts AS (SELECT event_type, ${operators.Geo.coordsSql} FROM events)
         |SELECT event_type, min(lat) AS min_lat, max(lat) AS max_lat,
         |       min(lon) AS min_lon, max(lon) AS max_lon
         |FROM pts GROUP BY event_type""".stripMargin,

    "q_geo_polygon" ->
      s"""WITH pts AS (SELECT event_type, value, ${operators.Geo.coordsSql} FROM events)
         |SELECT event_type, count(*) AS n,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM pts
         |WHERE ${operators.Geo.pointInPolygonSql(geoPolygon)}
         |GROUP BY event_type""".stripMargin,

    "q_geo_shape" ->
      s"""WITH pts AS (SELECT event_type, value, user_id, event_id,
         |                    ${operators.Geo.coordsSql} FROM events),
         |env AS (SELECT event_type, value, ${operators.Geo.envelopeSql} FROM pts)
         |SELECT ${operators.Geo.envelopeRelationSql(geoPolygon)} AS relation,
         |       event_type, count(*) AS n,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM env
         |GROUP BY 1, 2""".stripMargin,

    "q_geo_shape_small" ->
      s"""WITH pts AS (SELECT event_type, value, user_id, event_id,
         |                    ${operators.Geo.coordsSql} FROM events),
         |env AS (SELECT event_type, value, ${operators.Geo.envelopeSql} FROM pts)
         |SELECT ${operators.Geo.envelopeRelationSql(geoTriangleSmall)} AS relation,
         |       event_type, count(*) AS n,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM env
         |GROUP BY 1, 2""".stripMargin,

    "q_geotile_grid" ->
      s"""WITH pts AS (SELECT ${operators.Geo.coordsSql} FROM events),
         |t AS (SELECT ${operators.Geo.geotileSql(3)} AS tile FROM pts)
         |SELECT tile, count(*) AS n FROM t
         |GROUP BY tile ORDER BY n DESC, tile LIMIT 20""".stripMargin,

    "q_geohex_grid" -> operators.Geo.geohexGridSql(),

    "q_geo_line" ->
      s"""WITH pts AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us, ${operators.Geo.coordsSql} FROM events),
         |r AS (SELECT event_type, lat, lon,
         |        row_number() OVER (PARTITION BY event_type ORDER BY ts_us, event_id) AS seq
         |      FROM pts)
         |SELECT event_type, seq, lat, lon FROM r WHERE seq <= 20""".stripMargin,

    "q_bool_dsl_geo" ->
      s"""WITH pts AS (SELECT event_id, event_type, value, ${operators.Geo.coordsSql} FROM events)
         |SELECT event_id,
         |       (CASE WHEN event_type IN ('click', 'view') THEN 2.0 ELSE 0.0 END +
         |        CASE WHEN (lat - 10.0) * (lat - 10.0) + (lon - (-30.0)) * (lon - (-30.0)) <= 400.0
         |             THEN 0.5 ELSE 0.0 END) AS score
         |FROM pts
         |WHERE event_type IN ('click', 'view')
         |  AND lat >= -20.0 AND lat <= 40.0 AND lon >= -90.0 AND lon <= 30.0
         |  AND value >= 10.0 AND NOT (value >= 200.0)
         |ORDER BY score DESC, event_id LIMIT 20""".stripMargin,

    // the bm25 CTEs are the text_bm25 oracle verbatim; ranks are
    // 1-based within each top-30, absent side contributes 0
    "q_rrf_hybrid" ->
      raw"""WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
           |p AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
           |        CAST(len(list_filter(toks, x -> x = 'dup')) AS BIGINT) AS tf0,
           |        CAST(len(list_filter(toks, x -> x = 'query')) AS BIGINT) AS tf1,
           |        CAST(len(list_filter(toks, x -> x = 'scan')) AS BIGINT) AS tf2
           |      FROM d),
           |st0 AS (SELECT count(*) AS n_docs, sum(dl) AS total_toks,
           |        sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
           |        sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
           |        sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2 FROM p),
           |st AS (SELECT * FROM ${bm25IdfNest3}),
           |bm AS (SELECT doc_id,
           |    idf0 * (tf0 * (1.2e0 + 1)) / (tf0 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs))))
           |    + idf1 * (tf1 * (1.2e0 + 1)) / (tf1 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs))))
           |    + idf2 * (tf2 * (1.2e0 + 1)) / (tf2 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs)))) AS score
           |  FROM p CROSS JOIN st WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
           |  ORDER BY score DESC, doc_id LIMIT 30),
           |lex AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank FROM bm),
           |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
           |qv AS (SELECT emb AS q FROM e WHERE vec_id = 7),
           |sem0 AS (SELECT vec_id, list_cosine_similarity(emb, q) AS cos FROM e CROSS JOIN qv
           |         WHERE vec_id <> 7 ORDER BY cos DESC, vec_id LIMIT 30),
           |sem AS (SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS sem_rank FROM sem0)
           |SELECT doc_id, lex_rank, sem_rank,
           |  coalesce(1.0e0 / (60 + lex_rank), 0e0) + coalesce(1.0e0 / (60 + sem_rank), 0e0) AS rrf_score
           |FROM lex FULL OUTER JOIN sem USING (doc_id)
           |ORDER BY rrf_score DESC, doc_id LIMIT 15""".stripMargin,

    "text_completion_suggest" -> completionSuggestSql,
    "text_completion_suggest_indexed" -> completionSuggestSql,

    "text_phrase_suggest" ->
      raw"""WITH toks AS (SELECT string_split_regex(lower(text), '\s+') AS t FROM documents),
           |v AS (SELECT term, count(*) AS freq FROM (SELECT unnest(t) AS term FROM toks) WHERE term <> '' GROUP BY term),
           |bg AS (SELECT w1, w2, count(*) AS bcount FROM (
           |    SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2 FROM toks)
           |    WHERE w1 <> '' AND w2 <> '' GROUP BY w1, w2),
           |c0 AS (SELECT term AS c0, CAST(levenshtein(term, 'hsah') AS BIGINT) AS d0 FROM v WHERE levenshtein(term, 'hsah') <= 2 ORDER BY levenshtein(term, 'hsah'), freq DESC, term LIMIT 3),
           |c1 AS (SELECT term AS c1, CAST(levenshtein(term, 'jion') AS BIGINT) AS d1 FROM v WHERE levenshtein(term, 'jion') <= 2 ORDER BY levenshtein(term, 'jion'), freq DESC, term LIMIT 3),
           |c2 AS (SELECT term AS c2, CAST(levenshtein(term, 'tble') AS BIGINT) AS d2 FROM v WHERE levenshtein(term, 'tble') <= 2 ORDER BY levenshtein(term, 'tble'), freq DESC, term LIMIT 3),
           |j AS (SELECT c0.c0, c0.d0, c1.c1, c1.d1, c2.c2, c2.d2,
           |        coalesce(b1.bcount, 0) AS b1, coalesce(b2.bcount, 0) AS b2
           |      FROM c0 CROSS JOIN c1 CROSS JOIN c2
           |      LEFT JOIN bg b1 ON b1.w1 = c0.c0 AND b1.w2 = c1.c1
           |      LEFT JOIN bg b2 ON b2.w1 = c1.c1 AND b2.w2 = c2.c2)
           |SELECT concat_ws(' ', c0, c1, c2) AS suggestion, b1 + b2 AS bigram_score, d0 + d1 + d2 AS dist_sum
           |FROM j ORDER BY bigram_score DESC, dist_sum, suggestion LIMIT 10""".stripMargin,

    "text_highlight" ->
      """SELECT doc_id, n_matches, first_pos, snippet FROM (
        |  SELECT doc_id,
        |    CAST((length(lower(text)) - length(replace(lower(text), 'vector', ''))) // 6 AS BIGINT) AS n_matches,
        |    CAST(strpos(lower(text), 'vector') AS BIGINT) AS first_pos,
        |    substring(text, greatest(strpos(lower(text), 'vector') - 30, 1), 66) AS snippet
        |  FROM documents) t
        |WHERE n_matches > 0 ORDER BY n_matches DESC, doc_id LIMIT 25""".stripMargin,

    "q_field_collapse" ->
      """WITH r AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |        ORDER BY value DESC, event_id) AS INT) AS rank,
        |    max(value) OVER (PARTITION BY user_id) AS best_value
        |  FROM events),
        |g AS (SELECT user_id FROM r WHERE rank = 1
        |      ORDER BY best_value DESC, user_id LIMIT 20)
        |SELECT r.user_id, best_value, rank, event_id, ts_us, event_type, value
        |FROM r JOIN g ON r.user_id = g.user_id
        |WHERE rank <= 3""".stripMargin,

    // same decimal power sums + fixed-order double derivation as Spark
    "q_extended_stats" ->
      """WITH s AS (
        |  SELECT event_type, count(*) AS n,
        |         min(value) AS min_value, max(value) AS max_value,
        |         sum(CAST(value AS DECIMAL(18,2))) AS sd,
        |         sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS ssd
        |  FROM events GROUP BY event_type)
        |SELECT event_type, n, min_value, max_value,
        |       CAST(sd AS DOUBLE) AS sum_value,
        |       CAST(ssd AS DOUBLE) AS sum_of_squares,
        |       CAST(sd AS DOUBLE) / n AS avg_value,
        |       (CAST(ssd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / n) / n AS variance,
        |       sqrt((CAST(ssd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / n) / n) AS std_deviation
        |FROM s""".stripMargin,

    "q_percentile_ranks" ->
      """SELECT event_type, v AS value,
        |       count(*) FILTER (WHERE value <= v) AS n_le, count(*) AS n,
        |       CAST(count(*) FILTER (WHERE value <= v) AS DOUBLE) / count(*) * 100 AS pct_rank
        |FROM events CROSS JOIN (SELECT unnest([10.0, 50.0, 200.0]) AS v) vs
        |GROUP BY event_type, v""".stripMargin,

    "q_date_range" ->
      """WITH spec AS (SELECT * FROM (VALUES
        |    (CAST(0 AS BIGINT), CAST(-1 AS BIGINT), CAST(1704672000000000 AS BIGINT)),
        |    (1, 1704672000000000, 1705276800000000),
        |    (2, 1705276800000000, 1706140800000000),
        |    (3, 1706140800000000, 1709251200000000),
        |    (4, 1709251200000000, -1)) t(bucket_id, from_us, to_us)),
        |agg AS (
        |  SELECT bucket_id, count(*) AS n,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events JOIN spec
        |    ON (from_us = -1 OR epoch_us(ts) >= from_us)
        |   AND (to_us = -1 OR epoch_us(ts) < to_us)
        |  GROUP BY bucket_id)
        |SELECT spec.bucket_id, from_us, to_us, coalesce(n, 0) AS n,
        |       coalesce(sum_value, 0.0) AS sum_value
        |FROM spec LEFT JOIN agg USING (bucket_id)""".stripMargin,

    "q_weighted_avg" ->
      """WITH t AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
        |                  CAST(user_id % 10 + 1 AS DECIMAL(18,2)) AS w FROM events)
        |SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(v * w AS DECIMAL(38,4))) AS DOUBLE)
        |         / CAST(sum(w) AS DOUBLE) AS weighted_avg,
        |       CAST(sum(w) AS DOUBLE) AS sum_weight
        |FROM t GROUP BY event_type""".stripMargin,

    "q_adjacency_matrix" ->
      """SELECT 'high' AS key, count(*) FILTER (WHERE value >= 90) AS n FROM events
        |UNION ALL SELECT 'high&click', count(*) FILTER (WHERE value >= 90 AND event_type = 'click') FROM events
        |UNION ALL SELECT 'high&early', count(*) FILTER (WHERE value >= 90 AND user_id < 500) FROM events
        |UNION ALL SELECT 'click', count(*) FILTER (WHERE event_type = 'click') FROM events
        |UNION ALL SELECT 'click&early', count(*) FILTER (WHERE event_type = 'click' AND user_id < 500) FROM events
        |UNION ALL SELECT 'early', count(*) FILTER (WHERE user_id < 500) FROM events""".stripMargin,

    "river_charset" ->
      """SELECT event_id, coalesce(octet_length(encode(props)), 0) AS n_bytes,
        |       decode(encode(props)) IS NOT DISTINCT FROM props AS roundtrip_ok
        |FROM events""".stripMargin,

    // DuckDB has no Latin-1 codec, but every char here (ASCII + 'é') is
    // Latin-1-mappable, so latin1 bytes = char count exactly; utf8 bytes
    // through the real encoder; the round-trip flag is asserted true
    "river_charset_latin1" ->
      """SELECT event_id, replace(event_type, 'e', 'é') AS raw,
        |       length(replace(event_type, 'e', 'é')) AS n_bytes_latin1,
        |       octet_length(encode(replace(event_type, 'e', 'é'))) AS n_bytes_utf8,
        |       true AS roundtrip_ok
        |FROM events""".stripMargin,

    "q_trailing_window" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trailing_sum,
        |       count(*) OVER w AS trailing_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_supplier_topk_agg" ->
      """WITH t AS (SELECT l_suppkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
        |    l_orderkey * 10 + l_linenumber AS line_id FROM lineitem)
        |SELECT l_suppkey, rank, line_id, price FROM (
        |  SELECT l_suppkey, price, line_id,
        |         CAST(row_number() OVER (PARTITION BY l_suppkey ORDER BY price DESC, line_id) AS INT) AS rank
        |  FROM t) s WHERE rank <= 3""".stripMargin,

    "q_pivot_daily" ->
      """SELECT epoch_us(ts) // 86400000000 AS day_idx,
        |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1""".stripMargin,

    "q_asof_join" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS ts_us, max(event_id) AS r_id
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts_us, coalesce(c.r_id, -1) AS matched_id,
        |       coalesce(c.ts_us, -1) AS matched_ts_us, p.value
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.ts_us""".stripMargin,

    "river_parse_tree" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |       regexp_replace(lower(event_type), '[^a-z0-9\-_]', '', 'g') || ':'
        |         || json_extract_string(props, '$.k') AS doc_id
        |FROM events""".stripMargin,

    // ----- text analysis -----

    "text_tokencount" ->
      raw"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
           |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_ws_tokens,
           |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9'']+')) AS BIGINT) AS n_word_tokens,
           |  ${text.Bpe.tokenCountSql("text")} AS n_bpe_tokens
           |FROM documents""".stripMargin,

    "text_quality" ->
      raw"""WITH t AS (SELECT doc_id,
           |  CAST(length(text) AS BIGINT) AS n_chars,
           |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
           |  CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|for|on|with)\b')) AS BIGINT) AS stop_hits,
           |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS BIGINT) AS punct_hits,
           |  CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS BIGINT) AS n_alnum
           |  FROM documents)
           |SELECT doc_id, n_chars, n_tokens, stop_hits, punct_hits, n_alnum,
           |  CAST(stop_hits AS DOUBLE) / n_tokens AS stop_ratio,
           |  CAST(punct_hits AS DOUBLE) / n_chars AS punct_ratio,
           |  CAST(n_alnum AS DOUBLE) / n_tokens AS mean_token_len,
           |  least(1.0, n_tokens / 100.0) * (1.0 - CAST(punct_hits AS DOUBLE) / n_chars)
           |    * (0.5 + 0.5 * (CAST(stop_hits AS DOUBLE) / n_tokens)) AS quality_score
           |FROM t""".stripMargin,

    "text_langid" ->
      raw"""WITH t AS (SELECT doc_id,
           |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS BIGINT) AS s_en,
           |  CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein)\b')) AS BIGINT) AS s_de,
           |  CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|un)\b')) AS BIGINT) AS s_fr,
           |  CAST(len(regexp_extract_all(lower(text), '\b(el|los|las|es|y|una)\b')) AS BIGINT) AS s_es,
           |  CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS s_zh
           |  FROM documents)
           |SELECT *, CASE WHEN s_zh > 0 THEN 'zh'
           |  WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
           |  WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
           |  WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred
           |FROM t""".stripMargin,

    "text_fingerprint" ->
      raw"""SELECT doc_id,
           |  md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(text), '\s+'))), ' ')) AS fingerprint,
           |  CAST(len(list_distinct(string_split_regex(lower(text), '\s+'))) AS BIGINT) AS n_distinct_tokens
           |FROM documents""".stripMargin,

    "text_top_terms" ->
      raw"""SELECT term, count(*) AS n
           |FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents)
           |WHERE term <> ''
           |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin,

    "text_rake_keywords" -> text.TextOps.rakeKeywordsSql(),

    "text_match_query" ->
      raw"""SELECT doc_id, score, n_tokens FROM (
           |  SELECT doc_id,
           |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
           |         x -> list_contains(['hash','join','vector'], x))) AS BIGINT) AS score,
           |    CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_tokens
           |  FROM documents) t
           |WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,

    "q_ids" ->
      """SELECT doc_id, source, lang, n_chars FROM documents
        |WHERE doc_id IN (3, 41, 172, 400) ORDER BY doc_id""".stripMargin,

    "text_percolate" ->
      raw"""WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split_regex(lower(text), '\s+'))) AS term
           |             FROM documents),
           |q AS (SELECT * FROM (VALUES
           |        ('q_hashjoin', 'hash', 2), ('q_hashjoin', 'join', 2),
           |        ('q_vector', 'vector', 1),
           |        ('q_slowscan', 'slow', 3), ('q_slowscan', 'scan', 3), ('q_slowscan', 'table', 3))
           |      t(query_id, term, n_terms))
           |SELECT doc_id, query_id
           |FROM tok JOIN q USING (term)
           |GROUP BY doc_id, query_id, n_terms
           |HAVING count(*) = n_terms""".stripMargin,

    "text_tfidf" ->
      raw"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents),
           |hits AS (SELECT doc_id, term FROM tok WHERE term IN ('hash', 'join', 'vector')),
           |tf AS (SELECT doc_id,
           |        CAST(sum(CASE WHEN term = 'hash' THEN 1 ELSE 0 END) AS BIGINT) AS tf0,
           |        CAST(sum(CASE WHEN term = 'join' THEN 1 ELSE 0 END) AS BIGINT) AS tf1,
           |        CAST(sum(CASE WHEN term = 'vector' THEN 1 ELSE 0 END) AS BIGINT) AS tf2
           |      FROM hits GROUP BY doc_id),
           |stats AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
           |        count(DISTINCT CASE WHEN term = 'hash' THEN doc_id END) AS df0,
           |        count(DISTINCT CASE WHEN term = 'join' THEN doc_id END) AS df1,
           |        count(DISTINCT CASE WHEN term = 'vector' THEN doc_id END) AS df2
           |      FROM hits)
           |SELECT doc_id, score FROM (
           |  SELECT doc_id,
           |    (CASE WHEN df0 > 0 THEN CAST(tf0 AS DOUBLE) * (CAST(n_docs AS DOUBLE) / df0) ELSE 0 END)
           |    + (CASE WHEN df1 > 0 THEN CAST(tf1 AS DOUBLE) * (CAST(n_docs AS DOUBLE) / df1) ELSE 0 END)
           |    + (CASE WHEN df2 > 0 THEN CAST(tf2 AS DOUBLE) * (CAST(n_docs AS DOUBLE) / df2) ELSE 0 END) AS score
           |  FROM tf CROSS JOIN stats) t
           |WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,

    "q_multi_match" ->
      raw"""WITH f AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS body
           |           FROM documents WHERE lang IN ('en', 'de') AND n_chars >= 150),
           |s AS (SELECT doc_id,
           |        CAST(len(list_filter(body[1:8], x -> list_contains(['hash','join','vector'], x))) AS BIGINT) * 4.0e0 AS score_title,
           |        CAST(len(list_filter(body, x -> list_contains(['hash','join','vector'], x))) AS BIGINT) * 1.0e0 AS score_body
           |      FROM f)
           |SELECT doc_id, score_title, score_body, greatest(score_title, score_body) AS score
           |FROM s
           |WHERE greatest(score_title, score_body) > 0
           |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,

    "q_dis_max" ->
      raw"""WITH f AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS body
           |           FROM documents),
           |s AS (SELECT doc_id,
           |        CAST(len(list_filter(body[1:8], x -> list_contains(['hash','join','vector'], x))) AS DOUBLE) * 2.0e0 AS score_title,
           |        CAST(len(list_filter(body, x -> list_contains(['hash','join','vector'], x))) AS DOUBLE) * 1.0e0 AS score_body
           |      FROM f)
           |SELECT doc_id, score_title, score_body,
           |       greatest(score_title, score_body)
           |         + 0.3e0 * (score_title + score_body - greatest(score_title, score_body)) AS score
           |FROM s
           |WHERE greatest(score_title, score_body)
           |        + 0.3e0 * (score_title + score_body - greatest(score_title, score_body)) > 0
           |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,

    "q_boosting" ->
      raw"""WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
           |           FROM documents),
           |s AS (SELECT doc_id, list_contains(toks, 'vector') AS demoted,
           |        CAST(len(list_filter(toks, x -> list_contains(['hash','join'], x))) AS DOUBLE)
           |          * (CASE WHEN list_contains(toks, 'vector') THEN 0.3e0 ELSE 1.0e0 END) AS score
           |      FROM t)
           |SELECT doc_id, demoted, score FROM s
           |WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q_pinned" ->
      raw"""WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
           |           FROM documents),
           |s AS (SELECT doc_id,
           |        CAST(len(list_filter(toks, x -> list_contains(['hash','join'], x))) AS BIGINT) AS score,
           |        CAST(CASE WHEN doc_id = 42 THEN 1 WHEN doc_id = 7 THEN 2
           |                  WHEN doc_id = 123 THEN 3 ELSE 0 END AS BIGINT) AS pin_rank
           |      FROM t)
           |SELECT doc_id, score, pin_rank FROM s
           |WHERE pin_rank > 0 OR score > 0
           |ORDER BY CASE WHEN pin_rank > 0 THEN pin_rank ELSE 9223372036854775807 END,
           |         score DESC, doc_id LIMIT 20""".stripMargin,

    "text_match_phrase_prefix" ->
      raw"""WITH tk AS (SELECT doc_id,
           |    unnest(string_split_regex(lower(text), '\s+')) AS t,
           |    generate_subscripts(string_split_regex(lower(text), '\s+'), 1) AS i
           |  FROM documents),
           |pa AS (SELECT doc_id, i FROM tk WHERE t = 'hash'),
           |pb AS (SELECT doc_id, i FROM tk WHERE t LIKE 'j%')
           |SELECT pa.doc_id, count(*) AS n_matches
           |FROM pa JOIN pb ON pa.doc_id = pb.doc_id
           |WHERE pb.i = pa.i + 1
           |GROUP BY pa.doc_id
           |ORDER BY n_matches DESC, pa.doc_id LIMIT 25""".stripMargin,

    "text_frequent_pairs" ->
      raw"""WITH dt AS (SELECT DISTINCT doc_id, t FROM (
           |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t
           |    FROM documents) u WHERE t <> ''),
           |vocab AS (SELECT t FROM dt GROUP BY t
           |          ORDER BY count(*) DESC, t LIMIT 20),
           |kept AS (SELECT doc_id, t FROM dt WHERE t IN (SELECT t FROM vocab))
           |SELECT a.t AS term1, b.t AS term2, count(*) AS support
           |FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.t < b.t
           |GROUP BY 1, 2
           |HAVING count(*) >= 5
           |ORDER BY support DESC, term1, term2 LIMIT 25""".stripMargin,

    "text_frequent_triples" ->
      raw"""WITH dt AS (SELECT DISTINCT doc_id, t FROM (
           |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t
           |    FROM documents) u WHERE t <> ''),
           |vocab AS (SELECT t FROM dt GROUP BY t
           |          ORDER BY count(*) DESC, t LIMIT 20),
           |kept AS (SELECT doc_id, t FROM dt WHERE t IN (SELECT t FROM vocab))
           |SELECT a.t AS term1, b.t AS term2, c.t AS term3, count(*) AS support
           |FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.t < b.t
           |            JOIN kept c ON b.doc_id = c.doc_id AND b.t < c.t
           |GROUP BY 1, 2, 3
           |HAVING count(*) >= 5
           |ORDER BY support DESC, term1, term2, term3 LIMIT 25""".stripMargin,

    "q_bool_dsl" ->
      raw"""WITH t AS (SELECT doc_id, lang, source, n_chars,
           |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'hash')) AS BIGINT) AS tf_hash,
           |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'join')) AS BIGINT) AS tf_join,
           |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'vector')) AS BIGINT) AS tf_vec
           |  FROM documents)
           |SELECT doc_id,
           |  (tf_hash * 1.0e0
           |   + (CASE WHEN tf_join > 0 THEN tf_join * 2.0e0 ELSE 0.0e0 END
           |      + CASE WHEN tf_vec > 0 THEN tf_vec * 0.5e0 ELSE 0.0e0 END)
           |   + CASE WHEN lang = 'en' THEN 0.25e0 ELSE 0.0e0 END) AS score
           |FROM t
           |WHERE tf_hash > 0 AND (tf_join > 0 OR tf_vec > 0)
           |  AND NOT source = 'src13'
           |  AND n_chars >= 150 AND n_chars <= 450
           |  AND source IN ('src0','src1','src2','src3','src4','src5','src6','src7','src8','src9','src13')
           |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // same fixed-order arithmetic as the Spark side: constants written
    // as the same expressions ((1.2e0 + 1), (1 - 0.75e0), e0-notation forcing
    // DOUBLE: DuckDB parses bare 1.2 as DECIMAL and folds tf*(1.2+1)
    // exactly, 1 ulp off the IEEE product) so both engines
    // fold them to identical doubles; ln/Math.log bit-match on this
    // rational domain (verified over the N/df grid)
    "text_bm25" ->
      raw"""WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
           |p AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
           |        CAST(len(list_filter(toks, x -> x = 'dup')) AS BIGINT) AS tf0,
           |        CAST(len(list_filter(toks, x -> x = 'query')) AS BIGINT) AS tf1,
           |        CAST(len(list_filter(toks, x -> x = 'scan')) AS BIGINT) AS tf2
           |      FROM d),
           |st0 AS (SELECT count(*) AS n_docs, sum(dl) AS total_toks,
           |        sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
           |        sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
           |        sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
           |      FROM p),
           |st AS (SELECT * FROM ${bm25IdfNest3})
           |SELECT doc_id, dl, score FROM (
           |  SELECT doc_id, dl,
           |    idf0 * (tf0 * (1.2e0 + 1)) / (tf0 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs))))
           |    + idf1 * (tf1 * (1.2e0 + 1)) / (tf1 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs))))
           |    + idf2 * (tf2 * (1.2e0 + 1)) / (tf2 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs)))) AS score
           |  FROM p CROSS JOIN st
           |  WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0) t
           |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,

    // the _explain twin: text_bm25's page CTE carrying its stats, then
    // one UNION ALL leg per term with the weight/tf_part formulas in
    // the IDENTICAL textual association as the Column program
    "q_explain" -> {
      val avg = "(CAST(total_toks AS DOUBLE) / n_docs)"
      def den(i: Int) =
        s"(tf$i + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / $avg)))"
      def w(i: Int) = s"idf$i * (tf$i * (1.2e0 + 1)) / ${den(i)}"
      val legs = Seq("dup", "query", "scan").zipWithIndex.map { case (t, i) =>
        s"""SELECT doc_id, '$t' AS term, dl, tf$i AS tf,
           |       CAST(df$i AS BIGINT) AS df, idf$i AS idf,
           |       tf$i * (1.2e0 + 1) / ${den(i)} AS tf_part,
           |       ${w(i)} AS weight, score
           |FROM pg WHERE tf$i > 0""".stripMargin
      }.mkString("\nUNION ALL\n")
      raw"""WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
           |p AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
           |        CAST(len(list_filter(toks, x -> x = 'dup')) AS BIGINT) AS tf0,
           |        CAST(len(list_filter(toks, x -> x = 'query')) AS BIGINT) AS tf1,
           |        CAST(len(list_filter(toks, x -> x = 'scan')) AS BIGINT) AS tf2
           |      FROM d),
           |st0 AS (SELECT count(*) AS n_docs, sum(dl) AS total_toks,
           |        sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
           |        sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
           |        sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
           |      FROM p),
           |st AS (SELECT * FROM ${bm25IdfNest3}),
           |pg AS (
           |  SELECT doc_id, dl, tf0, tf1, tf2, df0, df1, df2,
           |         idf0, idf1, idf2, n_docs, total_toks,
           |    ${w(0)}
           |    + ${w(1)}
           |    + ${w(2)} AS score
           |  FROM p CROSS JOIN st
           |  WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
           |  ORDER BY score DESC, doc_id LIMIT 15)
           |$legs""".stripMargin
    },

    "text_significant_terms" ->
      raw"""WITH tok AS (SELECT source, term FROM (
           |        SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS term
           |        FROM documents) WHERE term <> ''),
           |ast AS (SELECT source, term, count(*) AS a FROM tok GROUP BY 1, 2),
           |bt AS (SELECT term, count(*) AS b FROM tok GROUP BY 1),
           |cs AS (SELECT source, count(*) AS c FROM tok GROUP BY 1),
           |tot AS (SELECT count(*) AS d FROM tok)
           |SELECT source, term, a AS n_in_source, b AS n_in_corpus,
           |       CAST(a * d AS DOUBLE) / (b * c) AS lift
           |FROM ast JOIN bt USING (term) JOIN cs USING (source) CROSS JOIN tot
           |WHERE a >= 5
           |ORDER BY lift DESC, source, term LIMIT 20""".stripMargin,

    "text_significant_chi2" ->
      raw"""WITH tok AS (SELECT source, term FROM (
           |        SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS term
           |        FROM documents) WHERE term <> ''),
           |ast AS (SELECT source, term, count(*) AS a FROM tok GROUP BY 1, 2),
           |bt AS (SELECT term, count(*) AS b FROM tok GROUP BY 1),
           |cs AS (SELECT source, count(*) AS c FROM tok GROUP BY 1),
           |tot AS (SELECT count(*) AS d FROM tok),
           |ct AS (SELECT source, term, a, b,
           |         CAST(a AS DOUBLE) * CAST(d - b - c + a AS DOUBLE)
           |           - CAST(c - a AS DOUBLE) * CAST(b - a AS DOUBLE) AS x,
           |         (CAST(a + (c - a) AS DOUBLE) * CAST(a + (b - a) AS DOUBLE))
           |           * (CAST((c - a) + (d - b - c + a) AS DOUBLE)
           |              * CAST((b - a) + (d - b - c + a) AS DOUBLE)) AS denom,
           |         CAST(d AS DOUBLE) AS dd
           |       FROM ast JOIN bt USING (term) JOIN cs USING (source) CROSS JOIN tot
           |       WHERE a >= 5)
           |SELECT source, term, a AS n_in_source, b AS n_in_corpus,
           |       CASE WHEN denom = 0 THEN NULL ELSE dd * (x * x) / denom END AS chi2
           |FROM ct
           |ORDER BY chi2 DESC, source, term LIMIT 20""".stripMargin,

    // generated from the same cell definitions + DetLn program as the
    // Spark side (r14 dual-compile)
    "text_significant_mi" ->
      text.TextOps.significantMiOracleSql(5, 20),

    "text_significant_jlh" ->
      raw"""WITH tok AS (SELECT source, term FROM (
           |        SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS term
           |        FROM documents) WHERE term <> ''),
           |ast AS (SELECT source, term, count(*) AS a FROM tok GROUP BY 1, 2),
           |bt AS (SELECT term, count(*) AS b FROM tok GROUP BY 1),
           |cs AS (SELECT source, count(*) AS c FROM tok GROUP BY 1),
           |tot AS (SELECT count(*) AS d FROM tok),
           |p AS (SELECT source, term, a, b,
           |        CAST(a AS DOUBLE) / CAST(c AS DOUBLE) AS pfg,
           |        CAST(b AS DOUBLE) / CAST(d AS DOUBLE) AS pbg
           |      FROM ast JOIN bt USING (term) JOIN cs USING (source) CROSS JOIN tot
           |      WHERE a >= 5)
           |SELECT source, term, a AS n_in_source, b AS n_in_corpus,
           |       CASE WHEN pfg > pbg THEN (pfg - pbg) * (pfg / pbg) ELSE 0.0 END AS jlh
           |FROM p
           |ORDER BY jlh DESC, source, term LIMIT 20""".stripMargin,

    "text_significant_bg" ->
      text.TextOps.significantBgOracleSql("src3", "en", 2L, 20),

    "text_completion_fuzzy" ->
      raw"""WITH tk AS (SELECT doc_id,
           |    unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents)
           |SELECT term, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs,
           |       CAST(max(CASE WHEN substr(term, 1, 4) = 'bach' THEN 1 ELSE 0 END) AS BIGINT) AS exact
           |FROM tk
           |WHERE term <> '' AND levenshtein(substr(term, 1, 4), 'bach') <= 2
           |GROUP BY term
           |ORDER BY exact DESC, n_occ DESC, n_docs DESC, term LIMIT 15""".stripMargin,

    "text_significant_text" ->
      raw"""WITH t AS (SELECT doc_id, term FROM (
           |        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
           |        FROM documents) WHERE term <> ''),
           |hits AS (SELECT DISTINCT doc_id FROM t WHERE term = 'hash'),
           |fg AS (SELECT t.doc_id, term FROM t JOIN hits USING (doc_id)),
           |a AS (SELECT term, count(*) AS a FROM fg GROUP BY term),
           |b AS (SELECT term, count(*) AS b FROM t GROUP BY term),
           |c AS (SELECT count(*) AS c FROM fg),
           |d AS (SELECT count(*) AS d FROM t)
           |SELECT term, a AS n_in_hits, b AS n_in_corpus,
           |       CAST(a * d AS DOUBLE) / (b * c) AS lift
           |FROM a JOIN b USING (term), c, d
           |WHERE a >= 5
           |ORDER BY lift DESC, term LIMIT 20""".stripMargin,

    "pipe_redact" ->
      raw"""WITH p AS (SELECT doc_id,
           |  text || CASE WHEN doc_id % 7 = 0
           |               THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
           |               ELSE '' END
           |       || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309 today' ELSE '' END
           |       || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789 on file' ELSE '' END AS t
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
           |  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ids,
           |  regexp_replace(regexp_replace(regexp_replace(t,
           |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
           |    '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
           |    '\b\d{3}-\d{2}-\d{4}\b', '[ID]', 'g') AS redacted
           |FROM p""".stripMargin,

    "pipe_release_manifest" ->
      raw"""WITH p AS (SELECT doc_id, source,
           |  text || CASE WHEN doc_id % 7 = 0
           |               THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
           |               ELSE '' END
           |       || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309 today' ELSE '' END
           |       || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789 on file' ELSE '' END AS text
           |  FROM documents),
           |corpus AS (SELECT * FROM p WHERE source NOT IN ('src0', 'src1')),
           |fp AS (SELECT doc_id, source, text,
           |         md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(text), '\s+'))), ' ')) AS f
           |       FROM corpus),
           |keep AS (SELECT doc_id, source, text FROM fp
           |         QUALIFY doc_id = min(doc_id) OVER (PARTITION BY f)),
           |q AS (SELECT doc_id, source, text,
           |        CAST(length(text) AS BIGINT) AS n_chars,
           |        CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
           |        CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|for|on|with)\b')) AS BIGINT) AS stop_hits,
           |        CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS BIGINT) AS punct_hits
           |      FROM keep),
           |scored AS (SELECT doc_id, source, text, n_tokens,
           |        least(1.0, n_tokens / 100.0) * (1.0 - CAST(punct_hits AS DOUBLE) / n_chars)
           |          * (0.5 + 0.5 * (CAST(stop_hits AS DOUBLE) / n_tokens)) AS quality_score
           |      FROM q),
           |flt AS (SELECT * FROM scored WHERE quality_score >= 0.2),
           |w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM p),
           |raw AS (SELECT doc_id, source,
           |        unnest(list_transform(range(1, greatest(len(words) - 3, 0) + 1),
           |                              i -> array_to_string(words[i:i+3], ' '))) AS gram
           |        FROM w),
           |g AS (SELECT DISTINCT doc_id, source, gram FROM raw),
           |b AS (SELECT DISTINCT gram FROM g WHERE source IN ('src0', 'src1')),
           |bad AS (SELECT DISTINCT doc_id FROM g JOIN b USING (gram)
           |        WHERE source NOT IN ('src0', 'src1')),
           |clean AS (SELECT * FROM flt WHERE doc_id NOT IN (SELECT doc_id FROM bad))
           |SELECT doc_id, source, n_tokens AS n_tok, quality_score,
           |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
           |     + len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b'))
           |     + len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_redacted,
           |  md5(regexp_replace(regexp_replace(regexp_replace(text,
           |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
           |    '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
           |    '\b\d{3}-\d{2}-\d{4}\b', '[ID]', 'g')) AS redacted_md5
           |FROM clean""".stripMargin,

    // v1's chain + the near-dup stage: the confirmed-pair set replays
    // as ALL-PAIRS shingle-Jaccard >= 0.8 over the fingerprint keepers
    // (the 16x2 banding's per-pair miss probability is ~1e-7, and
    // PipelineSpec asserts candidate completeness vs all-pairs on the
    // spec corpus), then the recursive min-label clusters of
    // dedup_clusters' oracle
    "pipe_release_manifest_v2" ->
      raw"""WITH RECURSIVE p AS (SELECT doc_id, source,
           |  text || CASE WHEN doc_id % 7 = 0
           |               THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
           |               ELSE '' END
           |       || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309 today' ELSE '' END
           |       || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789 on file' ELSE '' END AS text
           |  FROM documents),
           |corpus AS (SELECT * FROM p WHERE source NOT IN ('src0', 'src1')),
           |fp AS (SELECT doc_id, source, text,
           |         md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(text), '\s+'))), ' ')) AS f
           |       FROM corpus),
           |keep AS (SELECT doc_id, source, text FROM fp
           |         QUALIFY doc_id = min(doc_id) OVER (PARTITION BY f)),
           |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM keep),
           |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM tk),
           |pr AS (SELECT a.doc_id AS a_id, b2.doc_id AS b_id FROM sh a JOIN sh b2 ON a.doc_id < b2.doc_id
           |       WHERE len(a.sh) > 0 AND len(b2.sh) > 0
           |         AND CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE)
           |             / (len(a.sh) + len(b2.sh) - len(list_intersect(a.sh, b2.sh))) >= 0.8),
           |bi AS (SELECT a_id AS s, b_id AS d FROM pr UNION SELECT b_id, a_id FROM pr),
           |reach(id, r) AS (SELECT DISTINCT s, s FROM bi
           |  UNION SELECT bi.s, reach.r FROM bi JOIN reach ON bi.d = reach.id),
           |lbl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
           |keep2 AS (SELECT keep.* FROM keep LEFT JOIN lbl ON keep.doc_id = lbl.id
           |          WHERE lbl.cluster IS NULL OR lbl.cluster = keep.doc_id),
           |q AS (SELECT doc_id, source, text,
           |        CAST(length(text) AS BIGINT) AS n_chars,
           |        CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
           |        CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|for|on|with)\b')) AS BIGINT) AS stop_hits,
           |        CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS BIGINT) AS punct_hits
           |      FROM keep2),
           |scored AS (SELECT doc_id, source, text, n_tokens,
           |        least(1.0, n_tokens / 100.0) * (1.0 - CAST(punct_hits AS DOUBLE) / n_chars)
           |          * (0.5 + 0.5 * (CAST(stop_hits AS DOUBLE) / n_tokens)) AS quality_score
           |      FROM q),
           |flt AS (SELECT * FROM scored WHERE quality_score >= 0.2),
           |w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM p),
           |raw AS (SELECT doc_id, source,
           |        unnest(list_transform(range(1, greatest(len(words) - 3, 0) + 1),
           |                              i -> array_to_string(words[i:i+3], ' '))) AS gram
           |        FROM w),
           |g AS (SELECT DISTINCT doc_id, source, gram FROM raw),
           |b AS (SELECT DISTINCT gram FROM g WHERE source IN ('src0', 'src1')),
           |bad AS (SELECT DISTINCT doc_id FROM g JOIN b USING (gram)
           |        WHERE source NOT IN ('src0', 'src1')),
           |clean AS (SELECT * FROM flt WHERE doc_id NOT IN (SELECT doc_id FROM bad))
           |SELECT doc_id, source, n_tokens AS n_tok, quality_score,
           |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
           |     + len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b'))
           |     + len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_redacted,
           |  md5(regexp_replace(regexp_replace(regexp_replace(text,
           |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
           |    '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
           |    '\b\d{3}-\d{2}-\d{4}\b', '[ID]', 'g')) AS redacted_md5
           |FROM clean""".stripMargin,

    "pipe_release_manifest_v3" -> manifestV3Sql,

    "pipe_release_manifest_v5" -> manifestV5Sql(32, 0.8),

    "pipe_epoch_shuffle" -> pipeline.Pipeline.epochShuffleSql(3, 50),

    "pipe_dataset_card" -> pipeline.Pipeline.datasetCardSql(0.2),

    "pipe_cluster_card" -> pipeline.Pipeline.clusterCardSql(4),

    "pipe_semdedup" -> pipeline.Pipeline.semDedupSql(8, 0.4),

    "pipe_dedup_report" -> pipeline.Pipeline.dedupCascadeReportSql(),

    "dedup_paragraph" -> dedupParagraphSql(32, 0.8),

    "pipe_release_manifest_v4" -> manifestV4Sql,

    "q_salted_join" ->
      """SELECT event_id, user_id, c_name, value
        |FROM events JOIN customer ON user_id = c_custkey""".stripMargin,

    "text_prefix_search" ->
      raw"""SELECT doc_id, n_matches FROM (
           |  SELECT doc_id,
           |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
           |         x -> x LIKE 'sc%')) AS BIGINT) AS n_matches
           |  FROM documents) t
           |WHERE n_matches > 0 ORDER BY n_matches DESC, doc_id LIMIT 25""".stripMargin,

    "text_terms_enum" ->
      raw"""SELECT term, count(*) AS doc_freq FROM (
           |  SELECT doc_id, unnest(list_distinct(string_split_regex(lower(text), '\s+'))) AS term
           |  FROM documents) t
           |WHERE substr(term, 1, 1) = 's'
           |GROUP BY term ORDER BY term LIMIT 25""".stripMargin,

    // generated — same doc id / weight list / prune rule as the wiring
    "text_termvectors" -> text.TextOps.termVectorsSql(7L),
    "q_sparse_vector" ->
      text.TextOps.sparseVectorSql(sparseVectorWeights, 790000L, 10),

    "text_phrase_match" ->
      """SELECT doc_id, n_occurrences FROM (
        |  SELECT doc_id,
        |    CAST((length(lower(text)) - length(replace(lower(text), 'hash join', ''))) // 9 AS BIGINT) AS n_occurrences
        |  FROM documents) t
        |WHERE n_occurrences > 0 ORDER BY n_occurrences DESC, doc_id LIMIT 25""".stripMargin,

    "text_phrase_slop" ->
      raw"""WITH tk AS (SELECT doc_id,
           |    unnest(string_split_regex(lower(text), '\s+')) AS t,
           |    generate_subscripts(string_split_regex(lower(text), '\s+'), 1) AS i
           |  FROM documents),
           |pa AS (SELECT doc_id, i FROM tk WHERE t = 'hash'),
           |pb AS (SELECT doc_id, i FROM tk WHERE t = 'join')
           |SELECT pa.doc_id, count(*) AS n_matches
           |FROM pa JOIN pb ON pa.doc_id = pb.doc_id
           |WHERE pb.i > pa.i AND pb.i - pa.i - 1 <= 2
           |GROUP BY pa.doc_id
           |ORDER BY n_matches DESC, pa.doc_id LIMIT 25""".stripMargin,

    "text_wildcard_search" ->
      raw"""SELECT doc_id, n_matches FROM (
           |  SELECT doc_id,
           |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
           |         x -> x LIKE 's_a%')) AS BIGINT) AS n_matches
           |  FROM documents) t
           |WHERE n_matches > 0 ORDER BY n_matches DESC, doc_id LIMIT 25""".stripMargin,

    "text_regexp_search" ->
      raw"""SELECT doc_id, n_matches FROM (
           |  SELECT doc_id,
           |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
           |         x -> regexp_full_match(x, '(b|h)a(tch|sh)'))) AS BIGINT) AS n_matches
           |  FROM documents) t
           |WHERE n_matches > 0 ORDER BY n_matches DESC, doc_id LIMIT 25""".stripMargin,

    "text_fuzzy_search" ->
      raw"""SELECT doc_id, n_matches, min_dist FROM (
           |  SELECT doc_id,
           |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
           |         x -> levenshtein(x, 'row') <= 2)) AS BIGINT) AS n_matches,
           |    CAST(list_min(list_transform(
           |         list_filter(string_split_regex(lower(text), '\s+'),
           |                     x -> levenshtein(x, 'row') <= 2),
           |         x -> levenshtein(x, 'row'))) AS BIGINT) AS min_dist
           |  FROM documents) t
           |WHERE n_matches > 0 ORDER BY min_dist, n_matches DESC, doc_id LIMIT 25""".stripMargin,

    "text_more_like_this" ->
      raw"""WITH tf AS (
           |  SELECT doc_id, term, count(*) AS tf FROM (
           |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
           |    FROM documents)
           |  WHERE term <> '' GROUP BY doc_id, term),
           |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
           |seed AS (SELECT term, CAST(sum(tf) AS BIGINT) AS seed_tf FROM tf
           |         WHERE doc_id IN (0, 1, 2) GROUP BY term),
           |sq AS (SELECT seed.term, seed_tf FROM seed JOIN df USING (term)
           |       WHERE df <= (SELECT count(*) * 4 // 5 FROM documents))
           |SELECT doc_id, CAST(sum(least(tf, seed_tf)) AS BIGINT) AS score,
           |       count(*) AS n_shared_terms
           |FROM tf JOIN sq USING (term)
           |WHERE doc_id NOT IN (0, 1, 2)
           |GROUP BY doc_id
           |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,

    "text_rare_terms" ->
      raw"""SELECT term, count(*) AS n_docs FROM (
           |  SELECT unnest(list_distinct(string_split_regex(lower(text), '\s+'))) AS term
           |  FROM documents)
           |WHERE term <> '' GROUP BY term
           |HAVING n_docs <= (SELECT count(*) * 7 // 9 FROM documents)""".stripMargin,

    "text_langid_eval" ->
      raw"""WITH t AS (SELECT lang,
           |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS BIGINT) AS s_en,
           |  CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein)\b')) AS BIGINT) AS s_de,
           |  CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|un)\b')) AS BIGINT) AS s_fr,
           |  CAST(len(regexp_extract_all(lower(text), '\b(el|los|las|es|y|una)\b')) AS BIGINT) AS s_es,
           |  CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS s_zh
           |  FROM documents),
           |p AS (SELECT lang, CASE WHEN s_zh > 0 THEN 'zh'
           |  WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
           |  WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
           |  WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred FROM t)
           |SELECT lang AS lang_true, lang_pred, count(*) AS n FROM p GROUP BY 1, 2""".stripMargin,

    "text_corpus_stats" ->
      """SELECT source, lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM documents GROUP BY source, lang""".stripMargin,

    "text_categorize" ->
      raw"""WITH c AS (
           |  SELECT doc_id,
           |         array_to_string(list_slice(
           |           string_split_regex(regexp_replace(lower(text), '[0-9]+', '#', 'g'), '\s+'),
           |           1, 3), ' ') AS category,
           |         len(string_split_regex(text, '\s+')) AS n_toks
           |  FROM documents)
           |SELECT category, count(*) AS n_docs, min(doc_id) AS example_doc_id,
           |       CAST(sum(n_toks) AS BIGINT) AS sum_toks
           |FROM c GROUP BY category
           |ORDER BY n_docs DESC, category LIMIT 20""".stripMargin,

    "text_chunk" ->
      raw"""WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
           |e AS (SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - 50, 0) // 40 + 1)) AS i FROM t)
           |SELECT doc_id, i AS chunk_idx,
           |       array_to_string(toks[i*40+1 : i*40+50], ' ') AS chunk_text,
           |       CAST(len(toks[i*40+1 : i*40+50]) AS BIGINT) AS n_chunk_tokens
           |FROM e""".stripMargin,

    "text_ngrams" ->
      """WITH t AS (SELECT regexp_extract_all(lower(text), '[a-z0-9'']+') AS toks FROM documents)
        |SELECT ngram, count(*) AS n FROM (
        |  SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS ngram FROM t)
        |GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""".stripMargin,

    "text_analyzer_search" -> text.TextOps.analyzerSearchSql(
      "merges big tables quickly sorting"),

    "mm_frame_sample" ->
      """WITH t AS (SELECT doc_id, text, length(text) // 256 + 1 AS n_frames FROM documents),
        |e AS (SELECT doc_id, text, n_frames, unnest(range(0, n_frames, 4)) AS frame_idx FROM t)
        |SELECT doc_id, frame_idx,
        |       md5(substring(text, CAST(frame_idx * 256 + 1 AS INT), 256)) AS frame_sig,
        |       n_frames
        |FROM e""".stripMargin,

    // ----- dedup -----

    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keeper, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "dedup_fingerprint" ->
      raw"""SELECT md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(text), '\s+'))), ' ')) AS fingerprint,
           |  min(doc_id) AS keeper, count(*) AS n_docs
           |FROM documents GROUP BY 1""".stripMargin,

    // bucket = smallest shingle with df ≤ 16 (prefix-filtering bound;
    // hot shingles are never bucket keys), falling back to the overall
    // min for all-hot docs — replayed here exactly
    "dedup_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM t),
        |hs AS (SELECT shingle FROM (SELECT unnest(sh) AS shingle FROM s) GROUP BY shingle HAVING count(*) > 16),
        |hotl AS (SELECT coalesce(list(shingle), CAST([] AS VARCHAR[])) AS hot FROM hs),
        |b AS (SELECT doc_id, sh,
        |        coalesce(list_aggregate(list_filter(sh, x -> NOT list_contains(hot, x)), 'min'),
        |                 list_aggregate(sh, 'min')) AS bucket
        |      FROM s CROSS JOIN hotl)
        |SELECT a_id, b_id, jaccard FROM (
        |  SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
        |         CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE) / (len(a.sh) + len(b2.sh) - len(list_intersect(a.sh, b2.sh))) AS jaccard
        |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin,

    "dedup_containment" ->
      raw"""WITH inj AS (SELECT d.doc_id,
           |    CASE WHEN d.doc_id % 17 = 0 AND o.text IS NOT NULL
           |         THEN d.text || ' ' || o.text ELSE d.text END AS text
           |  FROM documents d LEFT JOIN documents o ON o.doc_id = d.doc_id - 1),
           |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM inj),
           |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM t),
           |sb AS (SELECT doc_id, sh, list_sort(sh) AS ss FROM s WHERE len(sh) > 0),
           |hs AS (SELECT shingle FROM (SELECT unnest(sh) AS shingle FROM sb) GROUP BY shingle HAVING count(*) > 16),
           |hotl AS (SELECT coalesce(list(shingle), CAST([] AS VARCHAR[])) AS hot FROM hs),
           |b AS (SELECT doc_id, unnest((list_filter(ss, x -> NOT list_contains(hot, x))
           |                          || list_filter(ss, x -> list_contains(hot, x)))[1:4]) AS bucket
           |      FROM sb CROSS JOIN hotl),
           |p AS (SELECT DISTINCT a.doc_id AS a_id, b2.doc_id AS b_id
           |      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id)
           |SELECT a_id, b_id, containment FROM (
           |  SELECT a_id, b_id,
           |    CAST(len(list_intersect(sa.sh, sb2.sh)) AS DOUBLE)
           |      / least(len(sa.sh), len(sb2.sh)) AS containment
           |  FROM p JOIN sb sa ON p.a_id = sa.doc_id
           |         JOIN sb sb2 ON p.b_id = sb2.doc_id) c
           |WHERE containment >= 0.9""".stripMargin,

    "dedup_clusters" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM t),
        |hs AS (SELECT shingle FROM (SELECT unnest(sh) AS shingle FROM s) GROUP BY shingle HAVING count(*) > 16),
        |hotl AS (SELECT coalesce(list(shingle), CAST([] AS VARCHAR[])) AS hot FROM hs),
        |b AS (SELECT doc_id, sh,
        |        coalesce(list_aggregate(list_filter(sh, x -> NOT list_contains(hot, x)), 'min'),
        |                 list_aggregate(sh, 'min')) AS bucket
        |      FROM s CROSS JOIN hotl),
        |p AS (SELECT a_id, b_id FROM (
        |  SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
        |         CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE) / (len(a.sh) + len(b2.sh) - len(list_intersect(a.sh, b2.sh))) AS jaccard
        |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id)
        |  WHERE jaccard >= 0.8),
        |bi AS (SELECT a_id AS s, b_id AS d FROM p UNION SELECT b_id, a_id FROM p),
        |reach(id, r) AS (SELECT DISTINCT s, s FROM bi
        |  UNION SELECT bi.s, reach.r FROM bi JOIN reach ON bi.d = reach.id)
        |SELECT id, min(r) AS cluster FROM reach GROUP BY id""".stripMargin,

    // the incremental operator's contract: exactly the full bucketed
    // self-join's ≥τ pairs that touch ≥1 new doc (new = doc_id % 10 = 0
    // in the wiring) — per-doc shingles/buckets don't depend on the
    // split, so the restriction IS the incremental result
    "dedup_incremental" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM t),
        |hs AS (SELECT shingle FROM (SELECT unnest(sh) AS shingle FROM s) GROUP BY shingle HAVING count(*) > 16),
        |hotl AS (SELECT coalesce(list(shingle), CAST([] AS VARCHAR[])) AS hot FROM hs),
        |b AS (SELECT doc_id, sh,
        |        coalesce(list_aggregate(list_filter(sh, x -> NOT list_contains(hot, x)), 'min'),
        |                 list_aggregate(sh, 'min')) AS bucket
        |      FROM s CROSS JOIN hotl)
        |SELECT a_id, b_id, jaccard FROM (
        |  SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
        |         CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE) / (len(a.sh) + len(b2.sh) - len(list_intersect(a.sh, b2.sh))) AS jaccard
        |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id)
        |WHERE jaccard >= 0.8 AND (a_id % 10 = 0 OR b_id % 10 = 0)""".stripMargin,

    // the maintained-index variant returns the SAME pairs by
    // construction (merged per-batch df == from-scratch df — additive
    // counts; StreamingDedupIndexSpec pins the equality), so it shares
    // dedup_incremental's oracle verbatim
    "dedup_incremental_indexed" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM t),
        |hs AS (SELECT shingle FROM (SELECT unnest(sh) AS shingle FROM s) GROUP BY shingle HAVING count(*) > 16),
        |hotl AS (SELECT coalesce(list(shingle), CAST([] AS VARCHAR[])) AS hot FROM hs),
        |b AS (SELECT doc_id, sh,
        |        coalesce(list_aggregate(list_filter(sh, x -> NOT list_contains(hot, x)), 'min'),
        |                 list_aggregate(sh, 'min')) AS bucket
        |      FROM s CROSS JOIN hotl)
        |SELECT a_id, b_id, jaccard FROM (
        |  SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
        |         CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE) / (len(a.sh) + len(b2.sh) - len(list_intersect(a.sh, b2.sh))) AS jaccard
        |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id)
        |WHERE jaccard >= 0.8 AND (a_id % 10 = 0 OR b_id % 10 = 0)""".stripMargin,

    // repeated ≥8-token spans: windows with ≥2 occurrences, all but the
    // global first (min doc_id, pos) flagged, consecutive flagged
    // positions merged into maximal spans (gaps-and-islands)
    "dedup_substring" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |w AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS win
        |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i FROM t WHERE len(toks) >= 8)),
        |r AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY win) AS n_occ,
        |             row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn FROM w),
        |f AS (SELECT doc_id, pos FROM r WHERE n_occ >= 2 AND rn > 1),
        |g AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM f)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end, count(*) AS n_windows
        |FROM g GROUP BY doc_id, grp""".stripMargin,

    // apply step of dedup_substring: the same span derivation, then
    // tokens at covered positions dropped and the remainder re-joined
    "pipe_strip_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |w AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS win
        |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i FROM t WHERE len(toks) >= 8)),
        |r AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY win) AS n_occ,
        |             row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn FROM w),
        |f AS (SELECT doc_id, pos FROM r WHERE n_occ >= 2 AND rn > 1),
        |g AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM f),
        |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e FROM g GROUP BY doc_id, grp),
        |tokpos AS (SELECT doc_id, tok, p - 1 AS pos FROM (
        |    SELECT doc_id, unnest(toks) AS tok, unnest(range(1, len(toks) + 1)) AS p FROM t)),
        |kept AS (SELECT tp.doc_id, tp.tok, tp.pos FROM tokpos tp
        |         WHERE NOT EXISTS (SELECT 1 FROM spans sp WHERE sp.doc_id = tp.doc_id AND tp.pos BETWEEN sp.s AND sp.e)),
        |o AS (SELECT doc_id, count(*) AS n_kept, md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned_md5
        |      FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tok,
        |       CAST(len(t.toks) - coalesce(o.n_kept, 0) AS BIGINT) AS n_removed,
        |       coalesce(o.cleaned_md5, md5('')) AS cleaned_md5
        |FROM t LEFT JOIN o ON t.doc_id = o.doc_id""".stripMargin,

    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       list_cosine_similarity(a.emb, b.emb) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4""".stripMargin,

    // ----- similarity search -----

    "ann_bruteforce_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10)
        |SELECT query_id, rank, cand_id, cos_sim FROM (
        |  SELECT query_id, c.vec_id AS cand_id,
        |         list_cosine_similarity(q_emb, c.emb) AS cos_sim,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY list_cosine_similarity(q_emb, c.emb) DESC, c.vec_id) AS rank
        |  FROM q JOIN e c ON c.vec_id <> q.query_id) t
        |WHERE rank <= 5""".stripMargin,

    "pipe_hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb, label AS q_label
        |      FROM e WHERE vec_id < 10)
        |SELECT query_id, rank, cand_id, neg_label, cos_sim FROM (
        |  SELECT query_id, c.vec_id AS cand_id, c.label AS neg_label,
        |         list_cosine_similarity(q_emb, c.emb) AS cos_sim,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY list_cosine_similarity(q_emb, c.emb) DESC, c.vec_id) AS rank
        |  FROM q JOIN e c ON c.vec_id <> q.query_id AND c.label <> q.q_label) t
        |WHERE rank <= 5""".stripMargin,

    "ann_int8_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |s AS (SELECT vec_id, emb,
        |        CASE WHEN list_max(list_transform(emb, x -> abs(x))) > 0.0
        |             THEN 127.0 / list_max(list_transform(emb, x -> abs(x)))
        |             ELSE 1.0 END AS scale
        |      FROM e),
        |cd AS (SELECT vec_id, scale,
        |         list_transform(emb, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS codes
        |       FROM s),
        |q AS (SELECT vec_id AS query_id, codes AS qc, scale AS qs FROM cd WHERE vec_id < 10)
        |SELECT query_id, rank, cand_id, dot_q FROM (
        |  SELECT query_id, c.vec_id AS cand_id,
        |         CAST(list_dot_product(qc, c.codes) AS DOUBLE) / (qs * c.scale) AS dot_q,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY CAST(list_dot_product(qc, c.codes) AS DOUBLE) / (qs * c.scale) DESC, c.vec_id) AS rank
        |  FROM q JOIN cd c ON c.vec_id <> q.query_id) t
        |WHERE rank <= 5""".stripMargin,

    "ann_mmr_rerank" -> similarity.Ann.mmrRerankSql(10),

    "ann_dot_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10)
        |SELECT query_id, rank, cand_id, dot FROM (
        |  SELECT query_id, c.vec_id AS cand_id,
        |         list_dot_product(q_emb, c.emb) AS dot,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY list_dot_product(q_emb, c.emb) DESC, c.vec_id) AS rank
        |  FROM q JOIN e c ON c.vec_id <> q.query_id) t
        |WHERE rank <= 5""".stripMargin,

    "ann_binary_topk" -> similarity.Ann.binaryTopKSql(10, 5),

    "ann_int8_refined" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |s AS (SELECT vec_id, emb,
        |        CASE WHEN list_max(list_transform(emb, x -> abs(x))) > 0.0
        |             THEN 127.0 / list_max(list_transform(emb, x -> abs(x)))
        |             ELSE 1.0 END AS scale
        |      FROM e),
        |cd AS (SELECT vec_id, scale,
        |         list_transform(emb, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS codes
        |       FROM s),
        |q AS (SELECT vec_id AS query_id, codes AS qc, scale AS qs FROM cd WHERE vec_id < 10),
        |cand AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT query_id, c.vec_id AS cand_id,
        |           row_number() OVER (PARTITION BY query_id
        |             ORDER BY CAST(list_dot_product(qc, c.codes) AS DOUBLE) / (qs * c.scale) DESC, c.vec_id) AS r
        |    FROM q JOIN cd c ON c.vec_id <> q.query_id) t
        |  WHERE r <= 20),
        |qe AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10)
        |SELECT query_id, rank, cand_id, cos_sim FROM (
        |  SELECT cand.query_id, cand.cand_id,
        |         list_cosine_similarity(q_emb, c.emb) AS cos_sim,
        |         row_number() OVER (PARTITION BY cand.query_id
        |           ORDER BY list_cosine_similarity(q_emb, c.emb) DESC, cand.cand_id) AS rank
        |  FROM cand
        |  JOIN e c ON c.vec_id = cand.cand_id
        |  JOIN qe ON qe.query_id = cand.query_id) t
        |WHERE rank <= 5""".stripMargin,

    "ann_topk_agg" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10)
        |SELECT query_id, rank, cand_id, cos_sim FROM (
        |  SELECT query_id, c.vec_id AS cand_id,
        |         list_cosine_similarity(q_emb, c.emb) AS cos_sim,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY list_cosine_similarity(q_emb, c.emb) DESC, c.vec_id) AS rank
        |  FROM q JOIN e c ON c.vec_id <> q.query_id) t
        |WHERE rank <= 5""".stripMargin,

    "ann_filtered_knn" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        |q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 7)
        |SELECT cand_id, cos_sim FROM (
        |  SELECT e.vec_id AS cand_id, list_cosine_similarity(e.emb, q.q_emb) AS cos_sim
        |  FROM e JOIN c ON e.vec_id = c.doc_id CROSS JOIN q
        |  WHERE e.vec_id <> 7) t
        |ORDER BY cos_sim DESC, cand_id LIMIT 10""".stripMargin,

    "ann_l2_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10)
        |SELECT query_id, rank, cand_id, dist FROM (
        |  SELECT query_id, c.vec_id AS cand_id,
        |         list_distance(q_emb, c.emb) AS dist,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY list_distance(q_emb, c.emb), c.vec_id) AS rank
        |  FROM q JOIN e c ON c.vec_id <> q.query_id) t
        |WHERE rank <= 5""".stripMargin,

    // ----- multimodal -----

    // the stub decoder is mean-byte-per-slice over the UTF-8 payload —
    // reproduced here from hex(encode(text)) with nibble arithmetic;
    // double ops in the same order as the stub (sum → /len → /255)
    "mm_feature_stub" ->
      """WITH t AS (SELECT doc_id, hex(encode(text)) AS h,
        |                  octet_length(encode(text)) AS n FROM documents),
        |d AS (SELECT doc_id, h, n, unnest(range(0, 8)) AS dim_idx FROM t),
        |s AS (SELECT doc_id, h, n, dim_idx,
        |             (n * dim_idx) // 8 AS lo, (n * (dim_idx + 1)) // 8 AS hi FROM d)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes, CAST(dim_idx AS BIGINT) AS dim_idx,
        |       CASE WHEN hi = lo THEN 0.0
        |            ELSE CAST(list_sum(list_transform(range(lo, hi),
        |                   i -> 16 * (strpos('0123456789ABCDEF', substring(h, CAST(2*i+1 AS INT), 1)) - 1)
        |                        + (strpos('0123456789ABCDEF', substring(h, CAST(2*i+2 AS INT), 1)) - 1))) AS DOUBLE)
        |                 / (hi - lo) / 255.0 END AS feature
        |FROM s""".stripMargin,

    // byte-exact replay of the area-pooling resize (32-wide grid →
    // 8×8): per output pixel, the covered source block's truncating
    // byte mean, re-encoded to the same uppercase hex Spark's hex()
    // emits — the mm_feature_stub hex-decode discipline
    "mm_ahash_dedup" ->
      """WITH t AS (SELECT doc_id, hex(encode(text)) AS h,
        |                  octet_length(encode(text)) AS n FROM documents),
        |px AS (SELECT doc_id, h, n, greatest(1, (n + 31) // 32) AS srch,
        |              unnest(range(0, 64)) AS p FROM t),
        |blk AS (SELECT doc_id, h, n, p,
        |          (p % 8) * 32 // 8 AS x0,
        |          greatest((p % 8) * 32 // 8 + 1, ((p % 8) + 1) * 32 // 8) AS x1,
        |          (p // 8) * srch // 8 AS y0,
        |          greatest((p // 8) * srch // 8 + 1, ((p // 8) + 1) * srch // 8) AS y1
        |        FROM px),
        |cell AS (SELECT doc_id, h, n, p,
        |           list_filter(flatten(list_transform(range(y0, y1),
        |             yy -> list_transform(range(x0, x1), xx -> yy * 32 + xx))),
        |             i -> i < n) AS idx
        |         FROM blk),
        |pix AS (SELECT doc_id, n, p,
        |          CASE WHEN len(idx) = 0 THEN 0
        |               ELSE CAST(list_sum(list_transform(idx,
        |                      i -> 16 * (strpos('0123456789ABCDEF', substring(h, CAST(2*i+1 AS INT), 1)) - 1)
        |                           + (strpos('0123456789ABCDEF', substring(h, CAST(2*i+2 AS INT), 1)) - 1))) AS BIGINT)
        |                    // len(idx) END AS v
        |        FROM cell),
        |mn AS (SELECT doc_id, CAST(sum(v) AS BIGINT) // 64 AS mean FROM pix GROUP BY doc_id),
        |hsh AS (SELECT pix.doc_id,
        |         bit_xor(CASE WHEN v > mean THEN
        |           CASE WHEN p = 63 THEN (-9223372036854775807::BIGINT - 1::BIGINT)
        |                ELSE (1::BIGINT << CAST(p AS INT)) END
        |           ELSE 0::BIGINT END) AS ahash
        |        FROM pix JOIN mn USING (doc_id) GROUP BY pix.doc_id)
        |SELECT ahash, min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS n_docs
        |FROM hsh GROUP BY ahash HAVING count(*) >= 2""".stripMargin,

    "mm_resize_stub" ->
      """WITH t AS (SELECT doc_id, hex(encode(text)) AS h,
        |                  octet_length(encode(text)) AS n FROM documents),
        |px AS (SELECT doc_id, h, n, greatest(1, (n + 31) // 32) AS srch,
        |              unnest(range(0, 64)) AS p FROM t),
        |blk AS (SELECT doc_id, h, n, p,
        |          (p % 8) * 32 // 8 AS x0,
        |          greatest((p % 8) * 32 // 8 + 1, ((p % 8) + 1) * 32 // 8) AS x1,
        |          (p // 8) * srch // 8 AS y0,
        |          greatest((p // 8) * srch // 8 + 1, ((p // 8) + 1) * srch // 8) AS y1
        |        FROM px),
        |cell AS (SELECT doc_id, h, n, p,
        |           list_filter(flatten(list_transform(range(y0, y1),
        |             yy -> list_transform(range(x0, x1), xx -> yy * 32 + xx))),
        |             i -> i < n) AS idx
        |         FROM blk),
        |pix AS (SELECT doc_id, n, p,
        |          CASE WHEN len(idx) = 0 THEN 0
        |               ELSE CAST(list_sum(list_transform(idx,
        |                      i -> 16 * (strpos('0123456789ABCDEF', substring(h, CAST(2*i+1 AS INT), 1)) - 1)
        |                           + (strpos('0123456789ABCDEF', substring(h, CAST(2*i+2 AS INT), 1)) - 1))) AS BIGINT)
        |                    // len(idx) END AS v
        |        FROM cell)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
        |       CAST(8 AS BIGINT) AS out_w, CAST(8 AS BIGINT) AS out_h,
        |       array_to_string(list_transform(list(v ORDER BY p),
        |         b -> substring('0123456789ABCDEF', CAST(b // 16 + 1 AS INT), 1)
        |              || substring('0123456789ABCDEF', CAST(b % 16 + 1 AS INT), 1)), '') AS out_hex
        |FROM pix GROUP BY doc_id, n""".stripMargin,

    "mm_binary_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |       upper(substring(hex(encode(text)), 1, 8)) AS magic_hex,
        |       md5(text) AS md5_hex
        |FROM documents""".stripMargin,

    "mm_payload_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 20 = 0)
        |SELECT md5_hex, count(*) AS n_copies, min(doc_id) AS keeper_id,
        |       min(n_bytes) AS n_bytes,
        |       (count(*) - 1) * min(n_bytes) AS wasted_bytes
        |FROM (SELECT doc_id, md5(text) AS md5_hex,
        |             octet_length(encode(text)) AS n_bytes
        |      FROM corpus)
        |GROUP BY md5_hex HAVING count(*) > 1""".stripMargin,

    "q_rank_eval" ->
      raw"""$rankEvalPageSql,
           |m AS (SELECT
           |        CAST(sum(CASE WHEN rel AND rank <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS hits5,
           |        CAST(sum(CASE WHEN rel AND rank <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits10,
           |        CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS hitsN,
           |        min(CASE WHEN rel THEN rank END) AS first_rel
           |      FROM pg JOIN j USING (doc_id))
           |SELECT n_relevant,
           |       CAST(hits5 AS DOUBLE) / 5 AS precision_at_5,
           |       CAST(hits10 AS DOUBLE) / 10 AS precision_at_10,
           |       CASE WHEN n_relevant = 0 THEN NULL
           |            ELSE CAST(hitsN AS DOUBLE) / n_relevant END AS recall_at_20,
           |       coalesce(1.0e0 / first_rel, 0e0) AS mrr
           |FROM m CROSS JOIN t""".stripMargin,

    "q_rank_eval_dcg" -> rankEvalDcgSql,

    // ----- river core -----

    "hbase_source_scan" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM events
        |WHERE epoch_us(ts) > 1705320000000000 AND event_type = 'click'""".stripMargin,

    "hbase_source_watermark" ->
      """SELECT max(epoch_us(ts)) AS max_ts_us, min(epoch_us(ts)) AS min_ts_us,
        |       count(*) AS n
        |FROM events""".stripMargin,

    "hbase_source_page" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM events WHERE epoch_us(ts) > 1705330000000000
        |ORDER BY ts_us, event_id LIMIT 50""".stripMargin,

    "river_incremental_scan" ->
      s"""WITH $sinkWm
         |SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
         |FROM events, wm WHERE epoch_us(ts) > w""".stripMargin,

    "river_stats_facet" ->
      """WITH t AS (SELECT epoch_us(ts) // 1000000 AS s, epoch_us(ts) // 1000000 // 3600 AS h FROM events),
        |a AS (SELECT count(*) AS n, min(s) AS min_s, max(s) AS max_s, CAST(sum(s) AS BIGINT) AS sum_s,
        |             CAST(sum(h * h) AS BIGINT) AS shh, CAST(sum(h) AS BIGINT) AS sh FROM t)
        |SELECT n, min_s, max_s, sum_s,
        |       CAST(sum_s AS DOUBLE) / n AS avg_s,
        |       CAST(shh AS DOUBLE) / n - (CAST(sh AS DOUBLE) / n) * (CAST(sh AS DOUBLE) / n) AS var_h,
        |       sqrt(CAST(shh AS DOUBLE) / n - (CAST(sh AS DOUBLE) / n) * (CAST(sh AS DOUBLE) / n)) AS std_h
        |FROM a""".stripMargin,

    "river_latest_per_key" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) = 1""".stripMargin,

    "river_first_per_key" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) = 1""".stripMargin,

    "q_stratified_sample" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 2) <
        |      CASE WHEN event_type IN ('view', 'click') THEN '04' ELSE '20' END""".stripMargin,

    "river_batching" ->
      """WITH t AS (SELECT *, (row_number() OVER (ORDER BY epoch_us(ts), event_id) - 1) // 100 AS batch_id FROM events)
        |SELECT batch_id, count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM t GROUP BY batch_id""".stripMargin,

    "river_normalize_fields" ->
      s"""SELECT DISTINCT 'Type#' || upper(event_type) || '.props:K' AS raw,
         |       $normPlain AS norm_plain,
         |       $normSep AS norm_sep
         |FROM events""".stripMargin,

    "river_projection" ->
      """SELECT event_id, event_type, epoch_us(ts) AS ts_us, value FROM events
        |WHERE event_type IN ('view', 'click')""".stripMargin,

    "river_id_extraction" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_id,
        |       event_type || ':' || json_extract_string(props, '$.k') AS doc_id
        |FROM events""".stripMargin,

    "river_nested_columns" ->
      """WITH t AS (SELECT event_id, event_type || '-' || json_extract_string(props, '$.k') AS qualifier, value FROM events)
        |SELECT event_id, qualifier, split_part(qualifier, '-', 1) AS parent,
        |       split_part(qualifier, '-', 2) AS leaf, value
        |FROM t""".stripMargin,

    "river_mapping_drift" ->
      raw"""WITH t AS (SELECT event_id,
           |    regexp_replace(lower(split_part(event_type || '-' || json_extract_string(props, '$$.k'), '-', 1)), '[^a-z0-9\-_]', '', 'g') AS p0,
           |    regexp_replace(lower(split_part(event_type || '-' || json_extract_string(props, '$$.k'), '-', 2)), '[^a-z0-9\-_]', '', 'g') AS l0
           |  FROM events),
           |f AS (SELECT event_id,
           |        CASE WHEN l0 = '' OR l0 IS NULL THEN p0 ELSE p0 || '.' || l0 END AS full_path
           |      FROM t),
           |known AS (SELECT DISTINCT full_path FROM f WHERE event_id < 200)
           |SELECT full_path, min(event_id) AS first_seen, count(*) AS n_rows
           |FROM f
           |WHERE event_id >= 200
           |  AND full_path NOT IN (SELECT full_path FROM known)
           |GROUP BY full_path""".stripMargin,

    // Nested-surface oracles replay the ES nested semantics on the FLAT
    // item rows — exactly equivalent because collect_list → filter/size
    // commutes with GROUP BY + conditional counts (per-element predicates
    // never cross items).
    "q_nested_match" ->
      """WITH it AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx,
        |                   CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0
        |                        THEN NULL ELSE event_type END AS parent,
        |                   value
        |            FROM events)
        |SELECT user_id, day_idx, count(*) AS n_items,
        |       count(CASE WHEN parent = 'click' AND value >= 15 THEN 1 END) AS n_match
        |FROM it GROUP BY 1, 2 HAVING n_match > 0""".stripMargin,

    "q_nested_sort" ->
      """WITH it AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx,
        |                   CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0
        |                        THEN NULL ELSE event_type END AS parent,
        |                   value
        |            FROM events)
        |SELECT user_id, day_idx, count(*) AS n_items,
        |       min(CASE WHEN parent = 'click' THEN value END) AS sort_value
        |FROM it GROUP BY 1, 2
        |ORDER BY sort_value ASC NULLS LAST, user_id, day_idx LIMIT 25""".stripMargin,

    "q_nested_inner_hits" ->
      """WITH it AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx,
        |                   CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0
        |                        THEN NULL ELSE event_type END AS parent,
        |                   CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0
        |                        THEN event_type ELSE json_extract_string(props, '$.k') END AS leaf,
        |                   value
        |            FROM events),
        |d AS (SELECT user_id, day_idx, count(*) AS n_items,
        |             count(CASE WHEN parent = 'click' AND value >= 15 THEN 1 END) AS n_match
        |      FROM it GROUP BY 1, 2)
        |SELECT i.user_id, i.day_idx, d.n_items, d.n_match,
        |       i.parent AS hit_parent, i.leaf AS hit_leaf, i.value AS hit_value
        |FROM it i JOIN d ON i.user_id = d.user_id AND i.day_idx = d.day_idx
        |WHERE d.n_match > 0 AND i.parent = 'click' AND i.value >= 15""".stripMargin,

    "q_nested_exists" ->
      """WITH it AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx,
        |                   CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0
        |                        THEN NULL ELSE event_type END AS parent
        |            FROM events)
        |SELECT user_id, day_idx, count(*) AS n_items, count(parent) AS n_nested
        |FROM it GROUP BY 1, 2 HAVING n_nested > 0""".stripMargin,

    "q_nested_terms_agg" ->
      """WITH it AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx,
        |                   CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0
        |                        THEN NULL ELSE event_type END AS parent,
        |                   value
        |            FROM events)
        |SELECT parent, count(*) AS n_nested,
        |       count(DISTINCT (user_id, day_idx)) AS n_parent_docs,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM it WHERE parent IS NOT NULL GROUP BY 1""".stripMargin,

    "q_reverse_nested" ->
      """WITH it AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx,
        |                   CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0
        |                        THEN NULL ELSE event_type END AS parent,
        |                   value
        |            FROM events),
        |par AS (SELECT user_id, day_idx, count(*) AS p_items,
        |               sum(CAST(value AS DECIMAL(18,2))) AS p_value
        |        FROM it GROUP BY 1, 2),
        |pt AS (SELECT DISTINCT user_id, day_idx, parent FROM it WHERE parent IS NOT NULL)
        |SELECT parent, count(*) AS n_parent_docs,
        |       CAST(sum(p_items) AS BIGINT) AS sum_parent_items,
        |       CAST(sum(p_value) AS DOUBLE) AS sum_parent_value
        |FROM pt JOIN par USING (user_id, day_idx)
        |GROUP BY 1""".stripMargin,

    "river_delete_old" ->
      s"""WITH $sinkWm
         |SELECT event_id FROM events, wm
         |WHERE epoch_us(ts) > w AND event_id NOT IN (SELECT event_id FROM events WHERE event_id % 97 = 0)""".stripMargin,

    "river_full_pipeline" ->
      raw"""WITH $sinkWm,
         |scan AS (SELECT event_id, epoch_us(ts) AS ts_us, value, event_type, props FROM events, wm WHERE epoch_us(ts) > w),
         |parsed AS (SELECT event_id, ts_us, value,
         |                  regexp_replace(lower(event_type), '[^a-z0-9\-_]', '', 'g') || ':' || json_extract_string(props, '$$.k') AS doc_id
         |           FROM scan),
         |latest AS (SELECT * FROM parsed QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY ts_us DESC, event_id DESC) = 1),
         |batched AS (SELECT *, (row_number() OVER (ORDER BY ts_us, event_id) - 1) // 100 AS batch_id FROM latest)
         |SELECT doc_id, event_id, ts_us, value, batch_id FROM batched""".stripMargin,

    // ----- training-data pipeline -----

    "pipe_decontaminate" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
        |raw AS (SELECT doc_id, source,
        |               unnest(list_transform(range(1, greatest(len(words) - 3, 0) + 1),
        |                                     i -> array_to_string(words[i:i+3], ' '))) AS gram
        |        FROM w),
        |g AS (SELECT DISTINCT doc_id, source, gram FROM raw),
        |b AS (SELECT DISTINCT gram FROM g WHERE source IN ('src0', 'src1'))
        |SELECT doc_id, source, count(*) AS n_shared_grams
        |FROM g JOIN b USING (gram)
        |WHERE source NOT IN ('src0', 'src1')
        |GROUP BY doc_id, source""".stripMargin,

    "pipe_holdout_split" ->
      """SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '03' THEN 'test'
        |            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '06' THEN 'val'
        |            ELSE 'train' END AS split,
        |       source, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2""".stripMargin,

    "pipe_span_corruption" -> pipeline.Pipeline.spanCorruptionSql(),

    "pipe_lm_score" -> pipeline.Pipeline.lmScoreSql(Seq("src0", "src1")),

    "pipe_importance_resample" ->
      pipeline.Pipeline.importanceResampleSql(Seq("src0", "src1")),

    "pipe_tokenizer_fertility" -> pipeline.Pipeline.tokenizerFertilitySql,

    "pipe_quality_classifier" -> pipeline.Pipeline.qualityClassifierSql(),
    "pipe_quality_train" -> pipeline.Pipeline.qualityClassifierTrainSql(),
    "pipe_quality_eval" -> pipeline.Pipeline.qualityEvalSql(),

    "pipe_curriculum" -> pipeline.Pipeline.curriculumOrderSql(7, 100),

    "pipe_vocab_freq" -> text.Bpe.vocabFreqSql("text"),

    "pipe_cross_source_dup" ->
      raw"""WITH f AS (SELECT DISTINCT
           |    md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(text), '\s+'))), ' ')) AS fp,
           |    source
           |  FROM documents)
           |SELECT a.source AS source_a, b.source AS source_b,
           |       CAST(count(*) AS BIGINT) AS n_shared
           |FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
           |GROUP BY 1, 2""".stripMargin,

    "pipe_temperature_mix" -> pipeline.Pipeline.temperatureMixSql(200L),

    "pipe_contamination_report" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
        |raw AS (SELECT doc_id, source,
        |               unnest(list_transform(range(1, greatest(len(words) - 3, 0) + 1),
        |                                     i -> array_to_string(words[i:i+3], ' '))) AS gram
        |        FROM w),
        |g AS (SELECT DISTINCT doc_id, source, gram FROM raw),
        |b AS (SELECT DISTINCT doc_id AS bench_id, gram FROM g WHERE source IN ('src0', 'src1')),
        |p AS (SELECT g.doc_id, b.bench_id, count(*) AS n_shared
        |      FROM g JOIN b USING (gram)
        |      WHERE g.source NOT IN ('src0', 'src1')
        |      GROUP BY 1, 2),
        |r AS (SELECT doc_id, bench_id, n_shared,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY n_shared DESC, bench_id) AS rn,
        |        count(*) OVER (PARTITION BY doc_id) AS n_bench_docs
        |      FROM p)
        |SELECT doc_id, bench_id AS top_bench_id,
        |       CAST(n_shared AS BIGINT) AS n_shared,
        |       CAST(n_bench_docs AS BIGINT) AS n_bench_docs
        |FROM r WHERE rn = 1""".stripMargin,

    "pipe_decontaminate_fuzzy" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
        |raw AS (SELECT doc_id, source,
        |               unnest(list_transform(range(1, greatest(len(words) - 3, 0) + 1),
        |                                     i -> array_to_string(words[i:i+3], ' '))) AS gram
        |        FROM w),
        |g AS (SELECT DISTINCT doc_id, source, gram FROM raw),
        |b AS (SELECT DISTINCT gram FROM g WHERE source IN ('src0', 'src1')),
        |t AS (SELECT doc_id, source, count(*) AS n_total
        |      FROM g WHERE source NOT IN ('src0', 'src1') GROUP BY doc_id, source),
        |sh AS (SELECT g.doc_id, count(*) AS n_shared
        |       FROM g JOIN b USING (gram)
        |       WHERE source NOT IN ('src0', 'src1') GROUP BY g.doc_id)
        |SELECT t.doc_id, t.source,
        |       CAST(n_shared AS BIGINT) AS n_shared,
        |       CAST(n_total AS BIGINT) AS n_total,
        |       CAST(n_shared AS DOUBLE) / CAST(n_total AS DOUBLE) AS overlap_ratio
        |FROM t JOIN sh USING (doc_id)
        |WHERE n_shared * 100 >= 10 * n_total""".stripMargin,

    "pipe_weighted_mix" ->
      """WITH d AS (SELECT doc_id, source,
        |  CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 2
        |       WHEN source IN ('src5','src6','src7','src8','src9') THEN 1
        |       ELSE 0 END AS wfull,
        |  CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN '80'
        |       WHEN source IN ('src5','src6','src7','src8','src9') THEN '00'
        |       ELSE '40' END AS band
        |  FROM documents),
        |e AS (SELECT unnest(range(0, 3)) AS epoch)
        |SELECT doc_id, source, epoch FROM d, e
        |WHERE epoch <= wfull
        |  AND (epoch < wfull OR substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < band)""".stripMargin,

    "pipe_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, ${text.Bpe.tokenCountSql("text")} AS n_tok FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |             CAST((CAST(sum(n_tok) OVER (ORDER BY doc_id) AS BIGINT) - n_tok) // 1000
        |                  AS BIGINT) AS bin
        |      FROM t)
        |SELECT bin, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tok,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY bin""".stripMargin,

    "pipe_loss_mask" ->
      s"""WITH t AS (SELECT doc_id, ${text.Bpe.tokenCountSql("text")} AS n_tok FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |             CAST(sum(n_tok) OVER (ORDER BY doc_id) AS BIGINT) - n_tok AS start
        |      FROM t)
        |SELECT doc_id, n_tok,
        |       start // 1000 AS bin,
        |       start % 1000 AS offset_in_bin,
        |       least(n_tok, 1000 - (start % 1000)) AS len_in_bin,
        |       greatest(0, (start % 1000) + n_tok - 1000) AS n_overflow
        |FROM c""".stripMargin,

    "ann_range_search" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        |SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
        |       list_cosine_similarity(a.emb, b.emb) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < 10 AND b.vec_id <> a.vec_id
        |WHERE list_cosine_similarity(a.emb, b.emb) >= 0.3""".stripMargin,

    "pipe_token_histogram" ->
      s"""WITH t AS (SELECT source, ${text.Bpe.tokenCountSql("text")} AS n_tok FROM documents)
        |SELECT source, n_tok // 32 AS bucket, count(*) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS sum_tok
        |FROM t GROUP BY 1, 2""".stripMargin,

    "pipe_shard_manifest" ->
      s"""WITH t AS (SELECT doc_id, ${text.Bpe.tokenCountSql("text")} AS n_tok FROM documents),
        |r AS (SELECT doc_id, n_tok,
        |             (row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1) % 4 AS shard
        |      FROM t)
        |SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tok,
        |       max(n_tok) AS max_tok, min(n_tok) AS min_tok
        |FROM r GROUP BY shard""".stripMargin,

    "q_variable_width_histogram" -> variableWidthSql,

    // generated from the same Qr*/Rep* constants as the Spark program
    // (pipeline/Pipeline.scala) — the engines share one definition
    "pipe_quality_rules" -> pipeline.Pipeline.qualityRulesSql,
    "pipe_repetition_filter" -> pipeline.Pipeline.repetitionFilterSql,
    "pipe_domain_mix" -> pipeline.Pipeline.domainMixSql(1000L)
  )

  /** Shared by the corpus-pass and maintained-index forms — merged
    * additive counts equal from-scratch counts, so one oracle drives
    * both (the dedup_incremental_indexed convention). */
  private val completionSuggestSql: String =
    raw"""SELECT term, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs FROM (
         |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
         |  FROM documents)
         |WHERE term LIKE 's%'
         |GROUP BY term
         |ORDER BY n_occ DESC, n_docs DESC, term LIMIT 5""".stripMargin

  private val termSuggestSql: String =
    raw"""WITH v AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS term
         |           FROM documents),
         |tf AS (SELECT term, count(*) AS freq FROM v WHERE term <> '' GROUP BY term)
         |SELECT term, freq, CAST(levenshtein(term, 'bath') AS BIGINT) AS dist
         |FROM tf WHERE levenshtein(term, 'bath') <= 2
         |ORDER BY dist, freq DESC, term LIMIT 5""".stripMargin

  /** pipe_release_manifest_v3 oracle — the full CTE-chain replay of
    * the fingerprint -> MinHash-LSH -> semantic release chain (shared
    * by the v4 wrapper below).  */
  /** The v3 oracle chain split into PREFIX (pii-injected corpus →
    * fingerprint → string near-dup → semantic near-dup = keep3) and
    * TAIL (quality gate → decontamination → PII scrub → manifest), so
    * v5 can insert its paragraph-strip CTEs between them without
    * duplicating either — the shared-generation discipline. `from` is
    * the keeper CTE the tail reads; `carry`/`finalExtra` thread extra
    * audit columns through the tail stages. */
  private def manifestTailSql(from: String, carry: String,
      finalExtra: String): String =
    raw""",
       |q AS (SELECT doc_id, source, text$carry,
       |        CAST(length(text) AS BIGINT) AS n_chars,
       |        CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
       |        CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|for|on|with)\b')) AS BIGINT) AS stop_hits,
       |        CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS BIGINT) AS punct_hits
       |      FROM $from),
       |scored AS (SELECT doc_id, source, text$carry, n_tokens,
       |        least(1.0, n_tokens / 100.0) * (1.0 - CAST(punct_hits AS DOUBLE) / n_chars)
       |          * (0.5 + 0.5 * (CAST(stop_hits AS DOUBLE) / n_tokens)) AS quality_score
       |      FROM q),
       |flt AS (SELECT * FROM scored WHERE quality_score >= 0.2),
       |w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM p),
       |raw AS (SELECT doc_id, source,
       |        unnest(list_transform(range(1, greatest(len(words) - 3, 0) + 1),
       |                              i -> array_to_string(words[i:i+3], ' '))) AS gram
       |        FROM w),
       |g AS (SELECT DISTINCT doc_id, source, gram FROM raw),
       |b AS (SELECT DISTINCT gram FROM g WHERE source IN ('src0', 'src1')),
       |bad AS (SELECT DISTINCT doc_id FROM g JOIN b USING (gram)
       |        WHERE source NOT IN ('src0', 'src1')),
       |clean AS (SELECT * FROM flt WHERE doc_id NOT IN (SELECT doc_id FROM bad))
       |SELECT doc_id, source, n_tokens AS n_tok, quality_score$finalExtra,
       |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
       |     + len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b'))
       |     + len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_redacted,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
       |    '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
       |    '\b\d{3}-\d{2}-\d{4}\b', '[ID]', 'g')) AS redacted_md5
       |FROM clean""".stripMargin

  private val manifestPrefixSql: String =
    raw"""WITH RECURSIVE p AS (SELECT doc_id, source,
           |  text || CASE WHEN doc_id % 7 = 0
           |               THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
           |               ELSE '' END
           |       || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309 today' ELSE '' END
           |       || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789 on file' ELSE '' END AS text
           |  FROM documents),
           |corpus AS (SELECT * FROM p WHERE source NOT IN ('src0', 'src1')),
           |fp AS (SELECT doc_id, source, text,
           |         md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(text), '\s+'))), ' ')) AS f
           |       FROM corpus),
           |keep AS (SELECT doc_id, source, text FROM fp
           |         QUALIFY doc_id = min(doc_id) OVER (PARTITION BY f)),
           |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM keep),
           |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM tk),
           |pr AS (SELECT a.doc_id AS a_id, b2.doc_id AS b_id FROM sh a JOIN sh b2 ON a.doc_id < b2.doc_id
           |       WHERE len(a.sh) > 0 AND len(b2.sh) > 0
           |         AND CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE)
           |             / (len(a.sh) + len(b2.sh) - len(list_intersect(a.sh, b2.sh))) >= 0.8),
           |bi AS (SELECT a_id AS s, b_id AS d FROM pr UNION SELECT b_id, a_id FROM pr),
           |reach(id, r) AS (SELECT DISTINCT s, s FROM bi
           |  UNION SELECT bi.s, reach.r FROM bi JOIN reach ON bi.d = reach.id),
           |lbl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
           |keep2 AS (SELECT keep.* FROM keep LEFT JOIN lbl ON keep.doc_id = lbl.id
           |          WHERE lbl.cluster IS NULL OR lbl.cluster = keep.doc_id),
           |ke AS (SELECT k.doc_id, CAST(e.embedding AS DOUBLE[]) AS emb
           |       FROM keep2 k JOIN embeddings e ON e.vec_id = k.doc_id),
           |sp AS (SELECT a.doc_id AS a_id, b2.doc_id AS b_id FROM ke a JOIN ke b2 ON a.doc_id < b2.doc_id
           |       WHERE list_cosine_similarity(a.emb, b2.emb) >= 0.45),
           |sbi AS (SELECT a_id AS s, b_id AS d FROM sp UNION SELECT b_id, a_id FROM sp),
           |sreach(id, r) AS (SELECT DISTINCT s, s FROM sbi
           |  UNION SELECT sbi.s, sreach.r FROM sbi JOIN sreach ON sbi.d = sreach.id),
           |slbl AS (SELECT id, min(r) AS cluster FROM sreach GROUP BY id),
           |keep3 AS (SELECT keep2.* FROM keep2 LEFT JOIN slbl ON keep2.doc_id = slbl.id
           |          WHERE slbl.cluster IS NULL OR slbl.cluster = keep2.doc_id)""".stripMargin

  private val manifestV3Sql: String =
    manifestPrefixSql + manifestTailSql("keep3", "", "")

  /** Paragraph unitize + shingle CTEs (tkp → pshp), shared by the
    * dedup_paragraph oracle and the v5 manifest oracle — one
    * definition so the two cannot drift. `src` must expose (doc_id,
    * source, text). */
  private def paraShinglesSql(src: String, paraTokens: Int): String =
    raw"""tkp AS (SELECT doc_id, source, text, string_split(text, ' ') AS toks FROM $src),
         |pup AS (SELECT doc_id, unnest(list_transform(range(0, greatest(CAST(ceil(len(toks)/$paraTokens.0) AS BIGINT), 1)),
         |          p -> {'pidx': p, 'ptoks': toks[p*$paraTokens+1 : p*$paraTokens+$paraTokens]})) AS u FROM tkp),
         |pup2 AS (SELECT doc_id, u.pidx AS pidx, u.ptoks AS ptoks FROM pup),
         |pshp AS (SELECT doc_id, pidx, list_distinct(list_transform(range(1, len(ptoks) - 1), i -> array_to_string(ptoks[i:i+2], ' '))) AS sh
         |         FROM pup2 WHERE len(ptoks) >= 3)""".stripMargin

  private def paraJaccardSql: String =
    "CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE) / (len(a.sh) + len(b2.sh) - len(list_intersect(a.sh, b2.sh)))"

  /** dedup_paragraph oracle: all-pairs replay of the LSH form (the v2
    * LSH-lost-nothing bet — a true 0.8-Jaccard pair escapes the 16×2
    * banding w.p. ~1e-7). */
  private def dedupParagraphSql(paraTokens: Int, paraTau: Double): String =
    "WITH " + paraShinglesSql("documents", paraTokens) +
      raw"""
         |SELECT a.doc_id AS a_doc, CAST(a.pidx AS BIGINT) AS a_para,
         |       b2.doc_id AS b_doc, CAST(b2.pidx AS BIGINT) AS b_para,
         |       $paraJaccardSql AS jaccard
         |FROM pshp a JOIN pshp b2
         |  ON (a.doc_id < b2.doc_id OR (a.doc_id = b2.doc_id AND a.pidx < b2.pidx))
         |WHERE len(a.sh) > 0 AND len(b2.sh) > 0 AND $paraJaccardSql >= $paraTau""".stripMargin

  /** v5 oracle: the v3 prefix + the paragraph-strip CTEs (all-pairs
    * replay, strip every non-minimal (doc, para) copy) + the shared
    * tail reading the STRIPPED text, carrying the n_para_stripped
    * audit column. */
  private def manifestV5Sql(paraTokens: Int, paraTau: Double): String =
    manifestPrefixSql + ",\n" + paraShinglesSql("keep3", paraTokens) +
      raw""",
         |ppr5 AS (SELECT b2.doc_id AS doc_id, b2.pidx AS pidx FROM pshp a JOIN pshp b2
         |         ON (a.doc_id < b2.doc_id OR (a.doc_id = b2.doc_id AND a.pidx < b2.pidx))
         |         WHERE len(a.sh) > 0 AND len(b2.sh) > 0 AND $paraJaccardSql >= $paraTau),
         |st5 AS (SELECT doc_id, list(DISTINCT pidx) AS sps FROM ppr5 GROUP BY doc_id),
         |keep5 AS (SELECT * FROM (
         |        SELECT t.doc_id, t.source,
         |        array_to_string(list_filter(t.toks, (x, i) -> NOT list_contains(coalesce(st5.sps, []), (i - 1) // $paraTokens)), ' ') AS text,
         |        CAST(len(coalesce(st5.sps, [])) AS BIGINT) AS n_para_stripped
         |        FROM tkp t LEFT JOIN st5 USING (doc_id))
         |        WHERE text <> '')""".stripMargin +
      manifestTailSql("keep5", ", n_para_stripped",
        ", CAST(n_para_stripped AS BIGINT) AS n_para_stripped")

  /** v4 = the v3 manifest dealt round-robin into 4 shards by
    * (n_tok desc, doc_id) rank — the shardManifest rule applied to
    * the released corpus; oracle wraps the v3 chain verbatim so the
    * two cannot drift. */
  private val manifestV4Sql: String =
    // plain concatenation, NOT stripMargin: the embedded v3 chain has
    // lines beginning with the SQL || operator, which stripMargin
    // would truncate
    "WITH m AS (" + manifestV3Sql + "),\n" +
      "r AS (SELECT doc_id, n_tok, n_redacted,\n" +
      "        (row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1) % 4 AS shard\n" +
      "      FROM m)\n" +
      "SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tok,\n" +
      "       CAST(sum(n_redacted) AS BIGINT) AS sum_redacted,\n" +
      "       min(doc_id) AS min_doc, max(doc_id) AS max_doc\n" +
      "FROM r GROUP BY shard"

  /** q_variable_width_histogram oracle, GENERATED from the same
    * fraction list the Spark operator uses (nBuckets = 6): edges are
    * the ceil(p·n) order statistics in (value, event_id) order — the
    * percentile-family convention — and the cluster id counts edges
    * strictly below the value (one edge PER FRACTION, duplicates
    * preserved, matching the operator's per-fraction edge array). */
  private def variableWidthSql: String = {
    val fracs = (1 until 6).map(i => i.toDouble / 6)
    // e0 suffix forces DOUBLE: DuckDB folds bare decimal literals as
    // exact DECIMAL, which would make ceil(p·n) diverge from Spark's
    // IEEE product on rank-boundary cases (the text_bm25 1-ulp lesson)
    val fracRows = fracs.map(p => s"(${p}e0)").mkString(", ")
    s"""WITH ranked AS (
       |  SELECT value, row_number() OVER (ORDER BY value, event_id) AS rn,
       |         count(*) OVER () AS n
       |  FROM events),
       |edges AS (
       |  SELECT r.value AS e
       |  FROM (VALUES $fracRows) p(p) JOIN ranked r
       |    ON r.rn = CAST(ceil(p.p * r.n) AS BIGINT)),
       |clustered AS (
       |  SELECT value,
       |         (SELECT count(*) FROM edges WHERE edges.e < ev.value) AS cluster
       |  FROM events ev)
       |SELECT cluster, count(*) AS n, min(value) AS min_value,
       |       max(value) AS max_value,
       |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_value
       |FROM clustered GROUP BY cluster""".stripMargin
  }
}
