package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ES bool-query AST → one Column predicate + one score expression.
  *
  * Every leaf the library already serves (term, terms, range, match,
  * prefix, exists) exists as a standalone operator; this compiler is
  * the missing composition layer — ES users write a bool *tree*
  * (must/should/must_not/filter, nested bools, boosts), not a menu of
  * single queries. Semantics follow the ES query DSL:
  *
  *  - `must`: all clauses match; their scores add.
  *  - `filter`: all clauses match; scores are ignored (ES filter
  *    context — and because the compiled predicate is one conjunction
  *    over plain columns, Catalyst splits it and pushes the
  *    filter-context conjuncts into the scan: the plan shows them in
  *    PushedFilters, spec-verified).
  *  - `must_not`: no clause matches; contributes nothing to score.
  *  - `should`: optional, matched clauses add score; when a bool has
  *    no must/filter, at least one should must match
  *    (`minimum_should_match` defaults to 1 there, 0 otherwise — the
  *    ES rule), and an explicit minimumShouldMatch overrides.
  *  - leaf scoring is deterministic and oracle-replayable: MatchQ
  *    scores boost × term-frequency over the whitespace token stream
  *    (the library's matchQuery contract); term/terms/range/prefix
  *    score a constant boost (ES constant_score filter semantics);
  *    exists scores 1.
  *
  * Boost discipline: callers should pick boosts exactly representable
  * in binary (1.0, 2.0, 0.5, 0.25…) so score sums stay exact and the
  * DuckDB oracle can replay them bit-identically.
  *
  * Scale shape: the whole tree compiles to ONE narrow per-row
  * projection + predicate — no join, no shuffle, whole-stage codegen,
  * filter-context conjuncts at the scan. Cost is a single corpus scan
  * regardless of tree depth; top-k is a driver-bounded TakeOrdered.
  */
object BoolDsl {

  sealed trait Query

  /** Exact keyword equality (ES `term`), constant score `boost`. */
  final case class TermQ(field: String, value: String, boost: Double = 1.0) extends Query
  /** Membership (ES `terms`), constant score `boost`. */
  final case class TermsQ(field: String, values: Seq[String], boost: Double = 1.0) extends Query
  /** Numeric range (ES `range`), constant score `boost`. */
  final case class RangeQ(field: String, gte: Option[Double] = None,
      lte: Option[Double] = None, boost: Double = 1.0) extends Query
  /** Full-text single-term match (ES `match`) on `textField`, scored
    * boost × tf over the lowercased whitespace token stream. */
  final case class MatchQ(term: String, boost: Double = 1.0,
      textField: String = "text") extends Query
  /** Keyword prefix (ES `prefix`), constant score `boost`. */
  final case class PrefixQ(field: String, prefix: String, boost: Double = 1.0) extends Query
  /** Field present (ES `exists`), scores 1 when matched. */
  final case class ExistsQ(field: String) extends Query
  /** ES `geo_bounding_box` clause over point columns (constant score —
    * in ES geo queries are filter-context citizens). */
  final case class GeoBoundingBoxQ(latField: String, lonField: String,
      latMin: Double, latMax: Double, lonMin: Double, lonMax: Double,
      boost: Double = 1.0) extends Query
  /** ES `geo_distance` clause, distance_type: plane, radius supplied
    * pre-squared (transcendental-free — the `Geo` discipline). */
  final case class GeoDistanceQ(latField: String, lonField: String,
      lat0: Double, lon0: Double, maxD2: Double, boost: Double = 1.0) extends Query
  /** ES `geo_polygon` clause — even-odd ray-casting membership
    * (`Geo.pointInPolygon`), constant score like the other geo
    * filter-context clauses. Vertices as (lat, lon). */
  final case class GeoPolygonQ(latField: String, lonField: String,
      vertices: Seq[(Double, Double)], boost: Double = 1.0) extends Query
  /** The composite node. */
  final case class Bool(must: Seq[Query] = Nil, should: Seq[Query] = Nil,
      mustNot: Seq[Query] = Nil, filter: Seq[Query] = Nil,
      minimumShouldMatch: Int = 0, boost: Double = 1.0) extends Query

  /** Compile a query tree to (predicate, score). The score expression
    * is only meaningful where the predicate holds (ES never scores
    * non-matching docs). */
  def compile(q: Query): (Column, Column) = q match {
    case TermQ(f, v, b) => (col(f) === v, lit(b))
    case TermsQ(f, vs, b) => (col(f).isin(vs: _*), lit(b))
    case RangeQ(f, gte, lte, b) =>
      // integral bounds stay integer literals so the comparison keeps the
      // column's type and the predicate pushes to the scan un-cast
      def bound(v: Double): Column = if (v.isWhole) lit(v.toLong) else lit(v)
      val preds = gte.map(v => col(f) >= bound(v)).toSeq ++
        lte.map(v => col(f) <= bound(v)).toSeq
      require(preds.nonEmpty, s"range on $f needs a bound")
      (preds.reduce(_ && _), lit(b))
    case MatchQ(t, b, tf) =>
      val n = size(filter(split(lower(col(tf)), "\\s+"), x => x === t)).cast("long")
      (n > 0, n.cast("double") * lit(b))
    case PrefixQ(f, p, b) => (col(f).startsWith(p), lit(b))
    case ExistsQ(f) => (col(f).isNotNull, lit(1.0))
    case GeoBoundingBoxQ(laF, loF, laMin, laMax, loMin, loMax, b) =>
      (col(laF) >= lit(laMin) && col(laF) <= lit(laMax) &&
        col(loF) >= lit(loMin) && col(loF) <= lit(loMax), lit(b))
    case GeoDistanceQ(laF, loF, la0, lo0, maxD2, b) =>
      val d2 = (col(laF) - lit(la0)) * (col(laF) - lit(la0)) +
        (col(loF) - lit(lo0)) * (col(loF) - lit(lo0))
      (d2 <= lit(maxD2), lit(b))
    case GeoPolygonQ(laF, loF, vs, b) =>
      (graft.operators.Geo.pointInPolygon(col(laF), col(loF), vs), lit(b))
    case Bool(must, should, mustNot, filterQ, msm, boost) =>
      val m = must.map(compile)
      val s = should.map(compile)
      val n = mustNot.map(compile)
      val f = filterQ.map(compile)
      val msmEff =
        if (msm == 0 && must.isEmpty && filterQ.isEmpty && should.nonEmpty) 1 else msm
      val nMatched = s.map { case (p, _) => when(p, lit(1)).otherwise(lit(0)) }
        .reduceOption(_ + _).getOrElse(lit(0))
      val preds = m.map(_._1) ++ f.map(_._1) ++ n.map(!_._1) ++
        (if (msmEff > 0) Seq(nMatched >= msmEff) else Nil)
      val pred = preds.reduceOption(_ && _).getOrElse(lit(true))
      val score = (m ++ s).map { case (p, sc) => when(p, sc).otherwise(lit(0.0)) }
        .reduceOption(_ + _).getOrElse(lit(0.0)) * lit(boost)
      (pred, score)
  }

  /** Run a compiled tree as a relevance-ranked search: matching rows,
    * top-k by (score desc, id). `idCol` defaults to the documents
    * table's key; pass e.g. "event_id" to search another index. */
  def search(docs: DataFrame, q: Query, k: Int, idCol: String = "doc_id"): DataFrame = {
    val (pred, score) = compile(q)
    docs.filter(pred)
      .select(col(idCol), score.as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** ES percolate over STORED BOOL TREES (the registered-query side of
    * `_percolate` with real query DSL, not just conjunctive term
    * lists — the upgrade over [[TextOps.percolate]]): every stored
    * tree compiles to a predicate, and ONE corpus pass evaluates all
    * of them per row (an array of (query_id, hit) structs filtered to
    * the hits — narrow codegen'd column work, no join, no per-query
    * scan). Emits (doc_id, query_id) per match; stored queries are
    * plan-side metadata, exactly how ES holds them in the percolator
    * index. */
  def percolateDsl(docs: DataFrame, queries: Seq[(String, Query)]): DataFrame = {
    require(queries.nonEmpty)
    val entries = queries.map { case (id, q) =>
      val (pred, _) = compile(q)
      struct(lit(id).as("query_id"), pred.as("hit"))
    }
    docs
      .select(col("doc_id"),
        explode(filter(array(entries: _*), s => s.getField("hit"))).as("m"))
      .select(col("doc_id"), col("m.query_id").as("query_id"))
  }

  /** Percolator term extraction (the ES percolator's candidate-query
    * mechanism): a SOUND over-approximation — `Some(terms)` guarantees
    * any doc matching the query contains at least one of `terms` in
    * its text token stream; `None` means no such guarantee exists and
    * the query must be evaluated against every doc.
    *
    *  - a text `match` leaf requires its own term;
    *  - a bool with must/filter clauses inherits ANY one extractable
    *    conjunct's set (every must clause must match, so one suffices);
    *  - failing that, if ≥1 should clause is required (explicit
    *    minimum_should_match ≥ 1, or the no-must/filter default) and
    *    EVERY should clause is extractable, the union of their sets is
    *    required;
    *  - keyword/range/exists leaves and pure-negative bools extract
    *    nothing (they constrain fields the token index doesn't cover).
    */
  def extractTerms(q: Query): Option[Seq[String]] = q match {
    case MatchQ(t, _, "text") => Some(Seq(t))
    case b: Bool =>
      val conj = (b.must ++ b.filter).iterator.map(extractTerms)
        .collectFirst { case Some(s) => s }
      conj.orElse {
        val msmEff =
          if (b.minimumShouldMatch > 0) b.minimumShouldMatch
          else if (b.must.isEmpty && b.filter.isEmpty && b.should.nonEmpty) 1
          else 0
        if (msmEff >= 1 && b.should.nonEmpty) {
          val ex = b.should.map(extractTerms)
          if (ex.forall(_.isDefined)) Some(ex.flatMap(_.get).distinct) else None
        } else None
      }
    case _ => None
  }

  /** The inverted term table rides a BROADCAST join up to this many
    * (term, query_id) rows (~32 MB at ES-typical term widths — well
    * inside executor broadcast comfort); past it the table goes
    * through a SHUFFLE hash join instead (r15, VERDICT r14 #6): at
    * the ~10⁷ queries×terms regime a broadcast ships hundreds of MB
    * to every executor and the term table must shuffle like any other
    * fact side. Overridable per call for probes/tests. */
  val TermIndexBroadcastMaxRows = 1000000

  /** Candidate (doc_id, query_id) pairs from the term-index prefilter:
    * extractable queries invert to a (term → query_id) table joined to
    * the doc token stream — broadcast below
    * [[TermIndexBroadcastMaxRows]], shuffle-hash past it (or when
    * `termIndexShuffle` forces it); unextractable queries pair
    * with every doc. Guaranteed ⊇ the true match set (spec-pinned). */
  def percolatorCandidates(docs: DataFrame, queries: Seq[(String, Query)],
      termIndexShuffle: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ex = queries.map { case (id, q) => id -> extractTerms(q) }
    val termRows = ex.collect { case (id, Some(ts)) => ts.map(t => (t, id)) }.flatten
    val alwaysIds = ex.collect { case (id, None) => id }
    val byTerm =
      if (termRows.isEmpty)
        docs.select(col("doc_id"), lit("").as("query_id")).limit(0)
      else {
        val termTable = termRows.toDF("term", "query_id")
        val sized =
          if (termIndexShuffle || termRows.length > TermIndexBroadcastMaxRows)
            termTable.hint("shuffle_hash")
          else broadcast(termTable)
        docs
          .select(col("doc_id"),
            explode(array_distinct(split(lower(col("text")), "\\s+"))).as("term"))
          .join(sized, "term")
          .select(col("doc_id"), col("query_id")).distinct()
      }
    if (alwaysIds.isEmpty) byTerm
    else byTerm.union(
      docs.select(col("doc_id")).crossJoin(broadcast(alwaysIds.toDF("query_id"))))
  }

  /** [[percolateDsl]]'s scale form (the ES percolator design at 10⁵
    * registered queries): the exhaustive form evaluates EVERY stored
    * tree against every row — exactly right at 10³ queries, linear in
    * Q·corpus beyond that. Here the term-index prefilter cuts the work
    * to the candidate pairs (docs sharing ≥1 extracted term with the
    * query), and only the candidate's OWN tree is evaluated per pair —
    * a lazily-short-circuiting id-keyed CASE chain, so per-pair cost is
    * an id scan plus one predicate, not Q predicates. Same output as
    * the exhaustive form (spec-pinned equal); prefilter completeness
    * (candidates ⊇ matches) is structurally guaranteed by
    * [[extractTerms]]'s soundness and spec-pinned too. */
  def percolateDslIndexed(docs: DataFrame, queries: Seq[(String, Query)]): DataFrame = {
    require(queries.nonEmpty)
    val chain = queries.foldLeft(lit(false)) { case (acc, (id, q)) =>
      when(col("query_id") === id, compile(q)._1).otherwise(acc)
    }
    percolatorCandidates(docs, queries)
      .join(docs, "doc_id")
      .filter(chain)
      .select(col("doc_id"), col("query_id"))
  }

  /** [[percolateDslIndexed]] past the CASE-chain cliff (r14): the
    * id-keyed `when` chain's plan depth grows with Q and the analyzer
    * stack-overflows between 800 and 3000 stored queries (SCALING.md
    * §Percolator at 10⁴ registered queries);
    * below the cliff each pair still pays an O(Q) id scan. Here the
    * same candidate pairs are evaluated by [[PercolatorEval]] — one
    * plan-size-constant expression carrying the query forest as a
    * JVM hash map, O(tree) per pair. Output equal to the exhaustive
    * and chain forms (spec-pinned in `BoolDslSpec`). */
  def percolateDslIndexedAtScale(docs: DataFrame,
      queries: Seq[(String, Query)],
      termIndexShuffle: Boolean = false): DataFrame = {
    require(queries.nonEmpty)
    import org.apache.spark.sql.graftglue.Glue
    val (strFs, numFs) = PercolatorEval.referencedFields(queries)
    val kids = (col("query_id") +: split(lower(col("text")), "\\s+") +:
      (strFs.map(col) ++ numFs.map(f => col(f).cast("double"))))
      .map(Glue.expression)
    val forestBc = docs.sparkSession.sparkContext.broadcast(queries.toArray)
    percolatorCandidates(docs, queries, termIndexShuffle)
      .join(docs, "doc_id")
      .filter(Glue.column(PercolatorEval(kids, forestBc, strFs, numFs)))
      .select(col("doc_id"), col("query_id"))
  }
}
