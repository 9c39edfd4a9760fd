package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Skew-injected specs for the df-bounded min-shingle candidate rule
  * (prefix filtering, `Dedup.hotShingleTable`/`dfBoundedMinBuckets` —
  * join form; `hotShinglesGauge` is the spec-only reference): the natural
  * synthetic corpus is df-decorrelated (max 3-gram df 7-25 across SFs)
  * and cannot exhibit the Zipfian hot-bucket hazard, so these specs
  * build the hazard deliberately — a prefix shingle carried by 40% of
  * docs that is also every carrier's lexicographic MIN shingle, i.e.
  * exactly the bucket the pre-bound rule would have collected 40% of
  * the corpus into (quadratic confirm work). Checks: (a) the operator
  * equals a naive Scala recompute of the documented rule, (b) rare-
  * bucket occupancy obeys the maxDf cap and candidate volume collapses
  * vs the unbounded rule, (c) recall vs ground-truth all-pairs Jaccard
  * is not sacrificed, (d) incremental stays set-equal to the
  * restricted full recompute on the skewed corpus. */
class DfBoundSpec extends SparkSpec {

  private val MaxDf = 16L
  private val N = 3
  private val Tau = 0.8
  // '!' sorts below every alphanumeric token, so this shingle is the
  // lexicographic min of every doc that carries it
  private val HotPrefix = "!a !b !c"

  private def skewed: DataFrame =
    Tables.documents(spark, sfDir).withColumn("text",
      when(col("doc_id") % 5 < 2, concat(lit(HotPrefix + " "), col("text")))
        .otherwise(col("text")))

  private def naiveShingles(text: String): Set[String] = {
    val toks = text.split(" ", -1)
    if (toks.length < N) Set.empty
    else toks.sliding(N).map(_.mkString(" ")).toSet
  }

  private def jac(a: Set[String], b: Set[String]): Double = {
    val i = (a intersect b).size
    i.toDouble / (a.size + b.size - i)
  }

  private lazy val docsLocal: Seq[(Long, Set[String])] =
    skewed.collect().map(r => (r.getLong(0), naiveShingles(r.getString(1)))).toSeq

  private lazy val hotSet: Set[String] = {
    val df = docsLocal.iterator.flatMap(_._2).toSeq.groupBy(identity)
    df.collect { case (sh, occ) if occ.size > MaxDf => sh }.toSet
  }

  private def naiveBucket(sh: Set[String]): Option[String] = {
    val rare = sh -- hotSet
    if (rare.nonEmpty) Some(rare.min)
    else if (sh.nonEmpty) Some(sh.min)
    else None
  }

  private lazy val naivePairs: Set[(Long, Long, Double)] = {
    val byBucket = docsLocal.flatMap { case (id, sh) => naiveBucket(sh).map(b => (b, id, sh)) }
      .groupBy(_._1)
    byBucket.values.flatMap { ds =>
      for {
        a <- ds; b <- ds if a._2 < b._2
        j = jac(a._3, b._3) if j >= Tau
      } yield (a._2, b._2, j)
    }.toSet
  }

  test("injected shingle is hot, 40% df, and would be the pre-bound bucket key") {
    val carriers = docsLocal.filter(_._2.contains(HotPrefix))
    assert(carriers.size >= docsLocal.size * 3 / 10, "injection must reach ~40% df")
    assert(hotSet.contains(HotPrefix), "injected shingle must exceed maxDf")
    assert(carriers.forall(_._2.min == HotPrefix),
      "hazard must be real: the hot shingle is every carrier's min")
  }

  test("df-bounded ngramJaccard equals the naive recompute of the documented rule") {
    val got = Dedup.ngramJaccard(skewed, N, Tau, MaxDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(naivePairs.nonEmpty, "skewed corpus must still have near-dup pairs")
    assert(got == naivePairs,
      s"missing=${(naivePairs -- got).take(3)} extra=${(got -- naivePairs).take(3)}")
  }

  test("rare-bucket occupancy obeys the cap; candidate volume collapses vs unbounded") {
    val occ = docsLocal.flatMap { case (id, sh) => naiveBucket(sh).map(b => (b, id, sh)) }
      .groupBy(_._1).map { case (b, ds) => (b, ds.size, hotSet.contains(b)) }
    val rareOcc = occ.collect { case (_, n, false) => n }
    assert(rareOcc.nonEmpty && rareOcc.max <= MaxDf,
      s"rare bucket occupancy must be ≤ $MaxDf, got ${rareOcc.max}")
    def pairs(of: Iterable[Int]) = of.map(n => n.toLong * (n - 1) / 2).sum
    val bounded = pairs(occ.map(_._2))
    // counterfactual: the unbounded min rule puts every carrier in the
    // HotPrefix bucket — quadratic in the 40% slice
    val unboundedOcc = docsLocal.flatMap { case (id, sh) =>
      if (sh.nonEmpty) Some((sh.min, id)) else None }.groupBy(_._1).map(_._2.size)
    val unbounded = pairs(unboundedOcc)
    assert(bounded * 4 < unbounded,
      s"df bound must collapse candidate volume: bounded=$bounded unbounded=$unbounded")
    assert(bounded <= docsLocal.size.toLong * MaxDf / 2 + docsLocal.size,
      "bounded candidates must be linear in the corpus")
  }

  test("the bound loses NO recall vs the unbounded min rule; subpopulations stay perfect") {
    // Ground truth: all-pairs Jaccard ≥ τ on the skewed corpus. The
    // injection perturbs carriers' min shingle, so MIXED pairs (one
    // carrier, one non-carrier) are missed by min-bucketing with OR
    // without the df bound — that is the known recall profile of the
    // min rule under prefix skew (MinHash banding is the family member
    // that catches them; measured: both rules find the identical pair
    // set here, 19,949 → 693 candidates). The bound must not lose a
    // single pair the unbounded rule finds.
    val truth = (for {
      a <- docsLocal; b <- docsLocal if a._1 < b._1
      j = jac(a._2, b._2) if j >= Tau
    } yield (a._1, b._1)).toSet
    assert(truth.nonEmpty)
    val unboundedFound = {
      val byBucket = docsLocal.filter(_._2.nonEmpty).groupBy(_._2.min)
      byBucket.values.flatMap { ds =>
        for { a <- ds; b <- ds if a._1 < b._1 && jac(a._2, b._2) >= Tau }
          yield (a._1, b._1)
      }.toSet
    }
    val found = naivePairs.map(p => (p._1, p._2))
    assert((unboundedFound -- found).isEmpty,
      s"bound lost pairs the unbounded rule finds: ${(unboundedFound -- found).take(5)}")
    def isCarrier(id: Long) = id % 5 < 2
    val bothCarrier = truth.filter(p => isCarrier(p._1) && isCarrier(p._2))
    val bothNon = truth.filter(p => !isCarrier(p._1) && !isCarrier(p._2))
    assert(bothCarrier.nonEmpty && bothNon.nonEmpty)
    assert((bothCarrier -- found).isEmpty, "both-carrier truth pairs must all be found")
    assert((bothNon -- found).isEmpty, "both-non-carrier truth pairs must all be found")
  }

  test("containment rare buckets obey the cap and the operator stays non-vacuous") {
    val got = Dedup.containment(skewed, N, 0.9, 4, MaxDf).collect()
    assert(got.nonEmpty, "containment must still find pairs on the skewed corpus")
    // every bucket the rule emits for a doc with ≥4 rare shingles is rare
    val kMinBuckets = docsLocal.flatMap { case (_, sh) =>
      val ss = sh.toSeq.sorted
      val rare = ss.filterNot(hotSet.contains)
      (rare ++ ss.filter(hotSet.contains)).take(4)
    }
    val occ = kMinBuckets.groupBy(identity).map { case (b, xs) => (hotSet.contains(b), xs.size) }
    val rareOcc = occ.collect { case (false, n) => n }
    // a doc emits a bucket only if it contains that shingle, so rare
    // bucket occupancy ≤ df ≤ maxDf even with kMin buckets per doc
    assert(rareOcc.max <= MaxDf,
      s"rare containment bucket occupancy bound violated: ${rareOcc.max}")
  }

  test("JOIN-form df bound is row-equal to the gauge reference (min and kMin buckets)") {
    val s = skewed
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), Dedup.shingleSetFromTokens(col("toks"), N).as("sh"))
      .persist()
    val hotT = Dedup.hotShingleTable(s, MaxDf)
    val joinMin = Dedup.dfBoundedMinBuckets(s, hotT)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    val gaugeMin = s.crossJoin(broadcast(Dedup.hotShinglesGauge(s, MaxDf)))
      .select(Dedup.dfBoundedMinGauge(col("sh"), col("hot")).as("bucket"), col("doc_id"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    assert(joinMin == gaugeMin,
      s"min-bucket drift: joinOnly=${(joinMin -- gaugeMin).take(3)} gaugeOnly=${(gaugeMin -- joinMin).take(3)}")
    val joinK = Dedup.dfBoundedKMinBuckets(s, hotT, 4)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val gaugeK = s.filter(size(col("sh")) > 0)
      .crossJoin(broadcast(Dedup.hotShinglesGauge(s, MaxDf)))
      .withColumn("ss", array_sort(col("sh")))
      .select(col("doc_id"), explode(slice(concat(array_except(col("ss"), col("hot")),
        array_intersect(col("ss"), col("hot"))), 1, 4)).as("bucket"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(joinK == gaugeK,
      s"kMin-bucket drift: joinOnly=${(joinK -- gaugeK).take(3)} gaugeOnly=${(gaugeK -- joinK).take(3)}")
    s.unpersist()
  }

  test("join-form bound under MANY distinct hot shingles: equality holds, occupancy capped") {
    // The cardinality hazard: hundreds+ of distinct hot shingles (a
    // collected gauge would be a giant broadcast array on real text;
    // the thousands-scale timing evidence lives in SCALING.md §Join-form
    // df bound, `many` mode at sf0.1/×10). Pool-indexed hot runs: ~40%
    // of docs carry a 20-token group run sized so every run shingle has
    // df ≈ 20 > 16.
    val nAll = Tables.documents(spark, sfDir).count()
    val nGroups = math.max(8L, nAll * 2 / 5 / 20)
    // carrier index (bijective over doc_id%5<2 docs) mod nGroups: every
    // group is hit evenly, so every run shingle's df clears maxDf
    val carrierIdx = floor(col("doc_id") / 5) * 2 + pmod(col("doc_id"), lit(5))
    val hotRun = concat_ws(" ", (0 until 20).map(j =>
      concat(lit("!g"), pmod(carrierIdx, lit(nGroups)), lit(s"t$j"))): _*)
    val many = Tables.documents(spark, sfDir).withColumn("text",
      when(col("doc_id") % 5 < 2, concat_ws(" ", lit("!a !b !c"), hotRun, col("text")))
        .otherwise(col("text")))
    val s = many
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), Dedup.shingleSetFromTokens(col("toks"), N).as("sh"))
      .persist()
    val hotT = Dedup.hotShingleTable(s, MaxDf).persist()
    val nHot = hotT.count()
    assert(nHot > 100, s"cardinality hazard must be real: nHot=$nHot")
    val joinMin = Dedup.dfBoundedMinBuckets(s, hotT)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    val gaugeMin = s.crossJoin(broadcast(Dedup.hotShinglesGauge(s, MaxDf)))
      .select(Dedup.dfBoundedMinGauge(col("sh"), col("hot")).as("bucket"), col("doc_id"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    assert(joinMin == gaugeMin)
    // occupancy of every non-null bucket that is NOT hot obeys the cap
    val occ = joinMin.toSeq.collect { case (Some(b), _) => b }
      .groupBy(identity).view.mapValues(_.size)
    val hotSetMany = hotT.collect().map(_.getString(0)).toSet
    val rareOcc = occ.collect { case (b, n) if !hotSetMany.contains(b) => n }
    assert(rareOcc.nonEmpty && rareOcc.max <= MaxDf,
      s"rare occupancy cap violated under many-hot injection: ${rareOcc.max}")
    hotT.unpersist(); s.unpersist()
  }

  test("incremental == restricted full recompute on the skewed corpus") {
    val docs = skewed
    val oldD = docs.filter(col("doc_id") % 10 =!= 0)
    val newD = docs.filter(col("doc_id") % 10 === 0)
    val inc = Dedup.incrementalNgramJaccard(oldD, newD, N, Tau, MaxDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = naivePairs.filter(p => p._1 % 10 == 0 || p._2 % 10 == 0)
    assert(inc == full,
      s"missing=${(full -- inc).take(3)} extra=${(inc -- full).take(3)}")
  }
}
