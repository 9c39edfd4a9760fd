package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.text.Bpe

/** Pins the large-vocab BPE kernel (broadcast merge loop,
  * `BpeTokenCount`) to the replace-chain contract: equal counts on the
  * official 40-rule table AND on a generated 300-rule table — the
  * standard sequential-pass == priority-loop BPE equivalence the kernel
  * scaladoc argues. */
class BpeMergeSpec extends SparkSpec {

  /** Deterministic well-formed merge table of size n: each side is a
    * base char or the product of an earlier rule (the defining BPE
    * property — also what makes sequential-pass == priority-loop). */
  def syntheticMerges(n: Int): Seq[(String, String)] = {
    val pool = scala.collection.mutable.ArrayBuffer[String](
      (('a' to 'z') ++ ('0' to '9')).map(_.toString): _*)
    (0 until n).map { i =>
      val a = pool((i * 7 + 3) % pool.size)
      val b = pool((i * 13 + 5) % pool.size)
      pool += (a + b)
      (a, b)
    }
  }

  /** Compile an arbitrary well-formed table to the replace-chain form —
    * the [[Bpe.compiled]] construction with a CJK symbol plane (one
    * distinct single char per rule, outside the word alphabet). */
  def replaceChain(merges: Seq[(String, String)], textCol: Column): Column = {
    val sym = scala.collection.mutable.Map[String, String]()
    val rules = merges.zipWithIndex.map { case ((a, b), i) =>
      def of(t: String): String = if (t.length == 1) t else sym(t)
      val s = (0x4E00 + i).toChar.toString
      val rule = (of(a) + of(b), s)
      sym(a + b) = s
      rule
    }
    val symClass = (0x4E00 until (0x4E00 + merges.size)).map(_.toChar).mkString
    val merged = rules.foldLeft(lower(textCol)) { case (acc, (p, s)) =>
      replace(acc, lit(p), lit(s))
    }
    length(regexp_replace(merged, "[^a-z0-9'" + symClass + "]", "")).cast("long")
  }

  test("kernel token counts equal the 40-rule replace chain on documents") {
    val docs = Tables.documents(spark, sfDir)
    val diff = docs.select(
        Bpe.tokenCount(col("text")).as("chain"),
        Bpe.tokenCountLargeVocab(spark, col("text")).as("kernel"))
      .filter(col("chain") =!= col("kernel"))
    assert(diff.count() == 0)
    val total = docs.select(sum(Bpe.tokenCountLargeVocab(spark, col("text"))))
      .head.getLong(0)
    assert(total > 0)
  }

  test("kernel equals the replace chain on a generated 300-rule table") {
    val merges = syntheticMerges(300)
    val docs = Tables.documents(spark, sfDir)
    val diff = docs.select(
        replaceChain(merges, col("text")).as("chain"),
        Bpe.tokenCountLargeVocab(spark, col("text"), merges).as("kernel"))
      .filter(col("chain") =!= col("kernel"))
    assert(diff.count() == 0)
  }

  test("kernel merge loop hand-check: priority order and leftmost-first ties") {
    import spark.implicits._
    // official table: (t,h) is rank 0, (th,e) rank 1 → "the" = 1 token;
    // "tthh" → th + t? no: pass for (t,h): leftmost-first gives th,th →
    // 2 tokens; "in going" → in + g? (i,n)=2, (in,g)=3: "going" g,o,in..
    val rows = Seq("the", "tthh", "in going", "", "  ", "don't").toDF("text")
      .select(Bpe.tokenCountLargeVocab(spark, col("text")).as("n"),
        Bpe.tokenCount(col("text")).as("chain"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    rows.foreach { case (n, chain) => assert(n == chain, s"$n != $chain") }
    assert(rows.head._1 == 1L) // "the" merges to a single token
  }

  test("trainMerges equals an exact naive Sennrich recompute (r15)") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val k = 15
    val got = Bpe.trainMerges(docs, k).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    // naive: same word counts, same overlapping pair stats, same
    // (count desc, symbol-pair asc) winner, same leftmost
    // non-overlapping replace — all in plain Scala collections
    var wordCounts: Map[String, Long] = docs.select(col("text")).collect()
      .flatMap(_.getString(0).toLowerCase.split("\\s+"))
      .filter(_.matches("^[a-z0-9']+$"))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val symbols = "ABCDEFGHIJKLMNOPQRSTUVWXYZÀÁÂÃÄÅÆÇÈÉÊËÌÍÎÏ"
    val symToTok = scala.collection.mutable.Map[Char, String]()
    def tokOf(c: Char): String = symToTok.getOrElse(c, c.toString)
    val naive = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    for (i <- 0 until k) {
      val stats = scala.collection.mutable.Map[String, Long]()
      wordCounts.foreach { case (w, n) =>
        (0 until w.length - 1).foreach { j =>
          val p = w.substring(j, j + 2)
          stats(p) = stats.getOrElse(p, 0L) + n
        }
      }
      val (best, n) = stats.toSeq.minBy { case (p, c) => (-c, p) }
      val symc = symbols(i)
      symToTok(symc) = tokOf(best(0)) + tokOf(best(1))
      naive += ((i + 1L, tokOf(best(0)), tokOf(best(1)), n))
      wordCounts = wordCounts.map { case (w, c) =>
        w.replace(best, symc.toString) -> c
      }
    }
    assert(got == naive.toSeq,
      s"first divergence: ${got.zip(naive).find(p => p._1 != p._2)}")
    // the defining BPE property: every side is a base char or a
    // previously-produced token
    val produced = scala.collection.mutable.Set[String]()
    got.foreach { case (_, l, r, _) =>
      Seq(l, r).foreach(s =>
        assert(s.length == 1 || produced.contains(s), s"side '$s' unproduced"))
      produced += (l + r)
    }
    // and the learned table is corpus-adapted: multi-char sides appear
    assert(got.exists(m => m._2.length > 1 || m._3.length > 1))
  }
}
