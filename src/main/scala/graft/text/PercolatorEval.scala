package graft.text

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.text.BoolDsl._

/** Per-candidate stored-query evaluation as ONE plan-size-constant
  * expression — the percolator's 10⁴-plus scale path (r14).
  *
  * [[BoolDsl.percolateDslIndexed]] evaluates each candidate pair with a
  * query_id-keyed `when`/`otherwise` chain: plan DEPTH grows with the
  * registered-query count, and the r14 probe (SCALING.md §Percolator
  * at 10⁴ registered queries) measured where that dies — the
  * Column→Expression converter stack-overflows between 800 and 3000
  * stored queries (the BpeTokenCount replace-chain failure class,
  * this time in the analyzer's recursion rather than codegen).
  * Even below the cliff, a pair pays an O(Q) id scan down the chain.
  *
  * This expression instead carries the compiled query FOREST behind a
  * `SparkContext.broadcast` (r15 — the [[graft.functions
  * .TopCentroidsBcast]] discipline; the id → tree hash map is built
  * lazily once per JVM from the broadcast value) and evaluates exactly
  * the candidate's own tree per row in a JVM kernel: O(tree) per pair,
  * plan size independent of Q. Before the broadcast move the forest
  * rode `addReferenceObj` into EVERY task binary — measured OOM at
  * 10⁵ queries × 100 leaves (SCALING.md §Percolator term-table
  * scaling, r15: 16 concurrent tasks each deserializing a multi-GB
  * forest copy); broadcast, each executor JVM holds ONE copy.
  *
  * Children: query_id (string), text tokens (array<string>), then the
  * referenced string fields, then the referenced numeric fields cast
  * to double (field lists computed from the forest by
  * [[PercolatorEval.referencedFields]]).
  *
  * Semantics match [[BoolDsl.compile]]'s predicates with TWO-VALUED
  * logic (a leaf on a NULL field is false, so `must_not` over a null
  * field MATCHES here but not in the Column form — the one documented
  * divergence; the synthetic corpus has no nulls in referenced fields
  * and the equality spec pins the forms against each other). MatchQ
  * leaves must target the default "text" field (same restriction the
  * term-extraction index already has). */
object PercolatorEval {
  /** (string fields, numeric fields) referenced by the forest, in
    * first-reference order. ExistsQ fields default to the string side
    * unless some other leaf uses them numerically. */
  def referencedFields(queries: Seq[(String, Query)]): (Seq[String], Seq[String]) = {
    val strs = scala.collection.mutable.LinkedHashSet[String]()
    val nums = scala.collection.mutable.LinkedHashSet[String]()
    val exists = scala.collection.mutable.LinkedHashSet[String]()
    def walk(q: Query): Unit = q match {
      case TermQ(f, _, _) => strs += f
      case TermsQ(f, _, _) => strs += f
      case PrefixQ(f, _, _) => strs += f
      case RangeQ(f, _, _, _) => nums += f
      case MatchQ(_, _, tf) =>
        require(tf == "text",
          s"percolator at-scale form requires MatchQ on 'text', got '$tf'")
      case ExistsQ(f) => exists += f
      case GeoBoundingBoxQ(laF, loF, _, _, _, _, _) => nums += laF += loF
      case GeoDistanceQ(laF, loF, _, _, _, _) => nums += laF += loF
      case GeoPolygonQ(laF, loF, _, _) => nums += laF += loF
      case Bool(m, s, n, f, _, _) => (m ++ s ++ n ++ f).foreach(walk)
    }
    queries.foreach { case (_, q) => walk(q) }
    (strs ++ exists.filterNot(nums)).toSeq.distinct -> nums.toSeq
  }
}

case class PercolatorEval(children: Seq[Expression],
    forestBc: org.apache.spark.broadcast.Broadcast[Array[(String, Query)]],
    strFields: Seq[String], numFields: Seq[String]) extends Expression {

  require(children.length == 2 + strFields.length + numFields.length,
    "children must be (query_id, tokens, strFields..., numFields...)")

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def foldable: Boolean = false

  @transient private lazy val byId: java.util.HashMap[String, Query] = {
    val m = new java.util.HashMap[String, Query]()
    forestBc.value.foreach { case (id, q) => m.put(id, q) }
    m
  }
  private val strIdx: Map[String, Int] = strFields.zipWithIndex.toMap
  private val numIdx: Map[String, Int] = numFields.zipWithIndex.toMap

  /** Shared kernel for eval and generated code. `args` lays out the
    * evaluated children (null where the child was null). */
  def kernel(args: Array[AnyRef]): Boolean = {
    val qid = args(0)
    val toksRaw = args(1)
    if (qid == null || toksRaw == null) return false
    val q = byId.get(qid.toString)
    if (q == null) return false
    val arr = toksRaw.asInstanceOf[ArrayData]
    val toks = new java.util.HashSet[String](arr.numElements() * 2)
    var i = 0
    while (i < arr.numElements()) {
      val u = arr.getUTF8String(i)
      if (u != null) toks.add(u.toString)
      i += 1
    }
    val strs = new Array[String](strFields.length)
    i = 0
    while (i < strFields.length) {
      val v = args(2 + i)
      strs(i) = if (v == null) null else v.toString
      i += 1
    }
    val nums = new Array[java.lang.Double](numFields.length)
    i = 0
    while (i < numFields.length) {
      nums(i) = args(2 + strFields.length + i).asInstanceOf[java.lang.Double]
      i += 1
    }
    evalQ(q, toks, strs, nums)
  }

  private def evalQ(q: Query, toks: java.util.HashSet[String],
      strs: Array[String], nums: Array[java.lang.Double]): Boolean = q match {
    case TermQ(f, v, _) =>
      val s = strs(strIdx(f)); s != null && s == v
    case TermsQ(f, vs, _) =>
      val s = strs(strIdx(f)); s != null && vs.contains(s)
    case RangeQ(f, gte, lte, _) =>
      val d = nums(numIdx(f))
      d != null && gte.forall(d.doubleValue() >= _) &&
        lte.forall(d.doubleValue() <= _)
    case MatchQ(t, _, _) => toks.contains(t)
    case PrefixQ(f, p, _) =>
      val s = strs(strIdx(f)); s != null && s.startsWith(p)
    case ExistsQ(f) =>
      strIdx.get(f).map(strs(_) != null)
        .orElse(numIdx.get(f).map(nums(_) != null))
        .getOrElse(false)
    case GeoBoundingBoxQ(laF, loF, laMin, laMax, loMin, loMax, _) =>
      val la = nums(numIdx(laF)); val lo = nums(numIdx(loF))
      la != null && lo != null &&
        la >= laMin && la <= laMax && lo >= loMin && lo <= loMax
    case GeoDistanceQ(laF, loF, la0, lo0, maxD2, _) =>
      val la = nums(numIdx(laF)); val lo = nums(numIdx(loF))
      la != null && lo != null && {
        val d2 = (la - la0) * (la - la0) + (lo - lo0) * (lo - lo0)
        d2 <= maxD2
      }
    case GeoPolygonQ(laF, loF, vs, _) =>
      val laB = nums(numIdx(laF)); val loB = nums(numIdx(loF))
      laB != null && loB != null && {
        // identical even-odd ray cast as Geo.pointInPolygon
        val la = laB.doubleValue(); val lo = loB.doubleValue()
        var crossings = 0
        var i = 0
        while (i < vs.length) {
          val (y1, x1) = vs(i)
          val (y2, x2) = vs((i + 1) % vs.length)
          if (((y1 > la) != (y2 > la)) &&
            lo < (x2 - x1) * (la - y1) / (y2 - y1) + x1) crossings += 1
          i += 1
        }
        crossings % 2 == 1
      }
    case Bool(must, should, mustNot, filterQ, msm, _) =>
      val msmEff =
        if (msm == 0 && must.isEmpty && filterQ.isEmpty && should.nonEmpty) 1
        else msm
      must.forall(evalQ(_, toks, strs, nums)) &&
        filterQ.forall(evalQ(_, toks, strs, nums)) &&
        !mustNot.exists(evalQ(_, toks, strs, nums)) &&
        (msmEff <= 0 || should.count(evalQ(_, toks, strs, nums)) >= msmEff)
  }

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length)
    var i = 0
    while (i < children.length) {
      args(i) = children(i).eval(input).asInstanceOf[AnyRef]
      i += 1
    }
    kernel(args)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("percEval", this, classOf[PercolatorEval].getName)
    val evals = children.map(_.genCode(ctx))
    val args = ctx.freshName("percArgs")
    val fill = evals.zipWithIndex.map { case (e, i) =>
      s"$args[$i] = ${e.isNull} ? null : (Object) ${e.value};"
    }.mkString("\n")
    ev.copy(code = code"""
      ${evals.map(_.code).reduce(_ + _)}
      Object[] $args = new Object[${children.length}];
      $fill
      boolean ${ev.value} = $ref.kernel($args);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)

  override def prettyName: String = "percolator_eval"
}
