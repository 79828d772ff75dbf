package graft.fraud

import java.sql.Date
import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Property tests for the rule engine against a straightforward
  * driver-side reference implementation (SURVEY §5: tag-order
  * invariance, permutation invariance, rule semantics). */
object RuleEngineSpec {
  /** top-level so Spark can derive an Encoder; `name` and `aadhaar`
    * may be null (a malformed cell read PERMISSIVE) */
  case class C(name: String, aadhaar: java.lang.Long, amount: Double, date: String)

  /** Driver-side reference, one tag per row in input order: the pandas
    * semantics of run_pipeline.py:21-43. pandas' groupby drops NaN keys
    * and `nunique` ignores NaN values, so a NULL key never matches
    * another and a NULL value is no distinct value. */
  def expectedTags(rows: Seq[C]): Seq[String] = {
    val namesPerAad = rows.filter(_.aadhaar != null).groupBy(_.aadhaar)
      .map { case (k, v) => k -> v.map(_.name).filter(_ != null).distinct.size }
    val aadPerName = rows.filter(_.name != null).groupBy(_.name)
      .map { case (k, v) => k -> v.map(_.aadhaar).filter(_ != null).distinct.size }
    // pandas linear-interpolation p99
    val sorted = rows.map(_.amount).sorted
    val rank = 0.99 * (sorted.size - 1)
    val (lo, hi) = (sorted(rank.toInt), sorted(math.min(rank.toInt + 1, sorted.size - 1)))
    val p99 = lo + (rank - rank.toInt) * (hi - lo)
    // FrequentClaims: per aadhaar sorted by date (stable), diff ≤ 7 days
    val freq = rows.zipWithIndex
      .filter(_._1.aadhaar != null)
      .groupBy(_._1.aadhaar)
      .flatMap { case (_, g) =>
        val sortedG = g.sortBy { case (c, i) => (c.date, i.toLong) } // stable by input order
        sortedG.zip(None +: sortedG.map(Some(_))).collect {
          case ((c, i), Some((prev, _)))
            if Date.valueOf(c.date).toLocalDate.toEpochDay -
               Date.valueOf(prev.date).toLocalDate.toEpochDay <= 7 => i
        }
      }.toSet
    rows.zipWithIndex.map { case (c, i) =>
      val tags =
        (if (namesPerAad.getOrElse(c.aadhaar, 0) > 1) "DuplicateAadhaar;" else "") +
        (if (aadPerName.getOrElse(c.name, 0) > 1) "MultiAadhaar;" else "") +
        (if (c.amount > p99) "HighClaimAmount;" else "") +
        (if (freq(i)) "FrequentClaims;" else "")
      if (tags.isEmpty) "Normal" else tags
    }
  }
}

class RuleEngineSpec extends AnyFunSuite {
  import RuleEngineSpec.{C, expectedTags}

  private type Key = (String, java.lang.Long, Double, String)

  private def referenceTags(rows: Seq[C]): Map[Key, String] =
    rows.map(c => (c.name, c.aadhaar, c.amount, c.date)).zip(expectedTags(rows)).toMap

  private def run(rows: Seq[C]): Map[Key, String] = {
    val spark = SparkSpec.spark
    import spark.implicits._
    val df = rows.toDF("Name", "Aadhaar", "ClaimAmount", "DateStr")
      .withColumn("Date", to_date(col("DateStr"), "yyyy-MM-dd")).drop("DateStr")
    RuleEngine.withRuleTags(df)
      .select("Name", "Aadhaar", "ClaimAmount", "Date", "RuleFraud")
      .collect()
      .map(r => (r.getString(0), r.getAs[java.lang.Long](1), r.getDouble(2), r.getDate(3).toString) ->
        r.getString(4))
      .toMap
  }

  /** `nullShare` of the names and, independently, of the Aadhaars are
    * NULL; with the default 0 the draws (and corpora) are those of a
    * generator without NULLs. */
  private def randomClaims(seed: Long, n: Int, nullShare: Double = 0.0): Seq[C] = {
    val rng = new Random(seed)
    def orNull[T >: Null](v: T): T = if (nullShare > 0 && rng.nextDouble() < nullShare) null else v
    Seq.fill(n)(C(
      orNull(s"name${rng.nextInt(8)}"),
      orNull(java.lang.Long.valueOf(100L + rng.nextInt(10))),
      rng.nextInt(100000).toDouble,
      f"2025-07-${1 + rng.nextInt(28)}%02d"))
  }

  /** distinct (name, aadhaar, amount, date) keys, so a map compare is sound */
  private def distinctKeys(rows: Seq[C]): Seq[C] =
    rows.groupBy(c => (c.name, c.aadhaar, c.amount, c.date)).map(_._2.head).toSeq

  test("tags match the reference semantics on random corpora") {
    for (seed <- 1 to 3) {
      val rows = randomClaims(seed, 60)
      // distinct (name,aadhaar,amount,date) keys so map compare is sound
      val uniq = rows.groupBy(c => (c.name, c.aadhaar, c.amount, c.date))
        .map(_._2.head).toSeq
      assert(run(uniq) === referenceTags(uniq), s"seed=$seed")
    }
  }

  test("tags are invariant under input permutation (given distinct dates per key)") {
    val rows = randomClaims(99, 50)
      .groupBy(c => (c.aadhaar, c.date)).map(_._2.head).toSeq // kill lag ties
    val a = run(rows)
    val b = run(new Random(7).shuffle(rows))
    assert(a === b)
  }

  test("p99 strict inequality: a single-amount corpus never fires HighClaimAmount") {
    val rows = Seq.tabulate(20)(i => C(s"n$i", 200L + i, 5000.0, "2025-07-01"))
    assert(run(rows).values.forall(!_.contains("HighClaimAmount")))
  }

  test("tags match the reference semantics on random corpora with NULL keys") {
    for (seed <- 11 to 13) {
      val uniq = distinctKeys(randomClaims(seed, 60, nullShare = 0.2))
      assert(uniq.exists(_.name == null) && uniq.exists(_.aadhaar == null))
      assert(run(uniq) === referenceTags(uniq), s"seed=$seed")
    }
  }

  test("NULL keys never match: no rule fires between NULL Aadhaars or NULL Names") {
    // every pair below would fire if NULL = NULL held in the windows
    val rows = Seq(
      C("a", null, 10.0, "2025-07-01"), C("b", null, 10.0, "2025-07-03"), // Dup + Freq
      C(null, 301L, 10.0, "2025-07-10"), C(null, 302L, 10.0, "2025-07-20")) // Multi
    assert(run(rows).values.toSet === Set("Normal"))
    assert(referenceTags(rows).values.toSet === Set("Normal"))
  }

  test("the approx-percentile scale switch tracks the exact p99") {
    val spark = SparkSpec.spark
    val li = graft.ops.Tables.orders(spark, "/root/testdata/sf0.001")
      .withColumnRenamed("o_totalprice", "ClaimAmount")
    val exact = RuleEngine.p99Amount(li, exact = true)
    val approx = RuleEngine.p99Amount(li, exact = false)
    assert(math.abs(approx - exact) / exact < 0.01,
      s"approx=$approx exact=$exact") // 10k-bucket sketch stays within 1%
  }
}
