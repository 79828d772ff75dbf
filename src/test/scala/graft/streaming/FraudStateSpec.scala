package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.streaming.StreamingFraud.{ClaimEvent, TaggedClaim}

/** The fraud twins' flat keyed state: the same tags as the set-shaped
  * state it replaced, with and without Spark's trailing no-data
  * micro-batch, and keys still expire. Seeded random trials (the offline
  * cache has no scalatest↔scalacheck bridge). */
class FraudStateSpec extends AnyFunSuite {

  private val NoDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val DayMs = 86400000L
  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  private type Twin = Dataset[ClaimEvent] => Dataset[TaggedClaim]
  private def aadhaarTwin(thr: Double): Twin = StreamingFraud.withRuleTags(_, thr)
  private val nameTwin: Twin = StreamingFraud.withNameRuleTags

  private final case class Run(tags: Seq[TaggedClaim], stateRows: Seq[Long], batches: Int)

  /** Feeds each of `batches` as one arrival through `twin`, in a query
    * started with no-data micro-batches on or off. The setting is scoped
    * to this query: `start()` clones the session, after which the shared
    * session's own value is restored. `stateRows` is the state store's
    * row count once each arrival is processed; `batches` counts every
    * micro-batch the query ran. */
  private def run(twin: Twin, batches: Seq[Seq[ClaimEvent]], noData: Boolean): Run = {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ClaimEvent]
    val out = new ConcurrentLinkedQueue[TaggedClaim]()
    val shared = spark.conf.getAll.get(NoDataKey) // None: Spark's default
    spark.conf.set(NoDataKey, noData.toString)
    val query =
      try twin(input.toDS()).writeStream.foreachBatch { (ds: Dataset[TaggedClaim], _: Long) =>
          out.addAll(ds.collect().toSeq.asJava); ()
        }.start()
      finally shared.fold(spark.conf.unset(NoDataKey))(spark.conf.set(NoDataKey, _))
    val stateRows = ArrayBuffer[Long]()
    try batches.foreach { b =>
      input.addData(b)
      query.processAllAvailable()
      stateRows += query.lastProgress.stateOperators.head.numRowsTotal
    } finally query.stop()
    Run(out.asScala.toSeq, stateRows.toSeq, query.recentProgress.length)
  }

  private def sorted(tags: Seq[TaggedClaim]) =
    tags.sortBy(t => (t.Aadhaar, t.Date.getTime, String.valueOf(t.Name), t.RuleFraud))

  /** Every claim's tags from a driver-side fold of a twin's own state
    * machine, one batch of each key's claims per arrival, no expiry. */
  private def folded[K, S](batches: Seq[Seq[ClaimEvent]], key: ClaimEvent => K)(
      tag: (K, Option[S], Seq[ClaimEvent]) => (Option[S], Seq[TaggedClaim])): Seq[TaggedClaim] = {
    val state = collection.mutable.Map[K, S]()
    batches.flatMap(_.groupBy(key).toSeq.flatMap { case (k, rows) =>
      val (st, out) = tag(k, state.get(k), rows)
      st.foreach(state(k) = _)
      out
    })
  }
  private def foldedAadhaar(batches: Seq[Seq[ClaimEvent]], thr: Double) =
    folded[Long, StreamingFraud.AadhaarState](batches, _.Aadhaar)(
      StreamingFraud.tagClaims(_, _, _, thr))
  private def foldedName(batches: Seq[Seq[ClaimEvent]]) =
    folded(batches, _.Name)(StreamingFraud.tagNameClaims)

  // the MemoryStream cases of StreamingFraudSpec, plus NULL and alternating names
  private val aadhaarCases: Seq[(Double, Seq[Seq[ClaimEvent]])] = Seq(
    50000.0 -> Seq(
      Seq(ClaimEvent("Asha", 1L, 1000.0, "LPG", ts("2025-07-01")),
        ClaimEvent("Ravi", 2L, 99999.0, "Housing", ts("2025-07-01"))),
      Seq(ClaimEvent("Asha Devi", 1L, 2000.0, "LPG", ts("2025-07-04")),
        ClaimEvent("Ravi", 2L, 100.0, "Housing", ts("2025-08-30")))),
    1e12 -> Seq(Seq(ClaimEvent("X", 7L, 10.0, "LPG", ts("2025-07-10")),
      ClaimEvent("X", 7L, 10.0, "LPG", ts("2025-07-12")))),
    90000.0 -> Seq(Seq(ClaimEvent("Asha", 1L, 99999.0, "LPG", ts("2025-07-01")),
      ClaimEvent("Ravi", 2L, 100.0, "Education", ts("2025-07-01")))),
    1e12 -> Seq(
      Seq(ClaimEvent(null, 3L, 10.0, "LPG", ts("2025-07-01")),
        ClaimEvent("A", 4L, 10.0, "LPG", ts("2025-07-01")),
        ClaimEvent("A", 5L, 10.0, "LPG", ts("2025-07-01"))),
      Seq(ClaimEvent("A", 3L, 10.0, "LPG", ts("2025-07-03")),
        ClaimEvent("B", 4L, 10.0, "LPG", ts("2025-07-03")),
        ClaimEvent("A", 5L, 10.0, "LPG", ts("2025-07-20"))),
      Seq(ClaimEvent("A", 4L, 10.0, "LPG", ts("2025-07-05")),
        ClaimEvent(null, 5L, 10.0, "LPG", ts("2025-07-21")))))
  private val nameCases: Seq[Seq[Seq[ClaimEvent]]] = Seq(
    Seq(Seq(ClaimEvent("Ravi", 1L, 10.0, "LPG", ts("2025-07-01"))),
      Seq(ClaimEvent("Ravi", 2L, 10.0, "LPG", ts("2025-07-05")))),
    Seq(Seq(ClaimEvent(null, 1L, 10.0, "LPG", ts("2025-07-01")),
        ClaimEvent("Mala", 5L, 10.0, "LPG", ts("2025-07-01"))),
      Seq(ClaimEvent(null, 1L, 10.0, "LPG", ts("2025-07-02")),
        ClaimEvent("Mala", 6L, 10.0, "LPG", ts("2025-07-02"))),
      Seq(ClaimEvent(null, 2L, 10.0, "LPG", ts("2025-07-03")),
        ClaimEvent("Mala", 5L, 10.0, "LPG", ts("2025-07-03")))))

  test("withRuleTags: the same tags with and without no-data micro-batches") {
    aadhaarCases.foreach { case (thr, batches) =>
      val on = run(aadhaarTwin(thr), batches, noData = true)
      val off = run(aadhaarTwin(thr), batches, noData = false)
      assert(sorted(off.tags) === sorted(on.tags))
      assert(sorted(off.tags) === sorted(foldedAadhaar(batches, thr)))
      assert(off.batches === batches.size)
    }
  }

  test("withNameRuleTags: the same tags with and without no-data micro-batches") {
    nameCases.foreach { batches =>
      val on = run(nameTwin, batches, noData = true)
      val off = run(nameTwin, batches, noData = false)
      assert(sorted(off.tags) === sorted(on.tags))
      assert(sorted(off.tags) === sorted(foldedName(batches)))
      assert(off.batches === batches.size)
    }
  }

  test("a key idle past StateRetention claims again against no state, with or without no-data batches") {
    // keys 1 ("Ravi") and 2 ("Mala") claim and go idle; key 3's claim
    // moves the watermark to 2025-02-13, past both keys' expiry
    // (2025-01-31); then "Ravi" claims again under key 2: a new name for
    // key 2 and a new Aadhaar for "Ravi", both against expired state
    val batches = Seq(
      Seq(ClaimEvent("Ravi", 1L, 10.0, "LPG", ts("2025-01-01")),
        ClaimEvent("Mala", 2L, 10.0, "LPG", ts("2025-01-01"))),
      Seq(ClaimEvent("Uma", 3L, 10.0, "LPG", ts("2025-03-15"))),
      Seq(ClaimEvent("Ravi", 2L, 10.0, "LPG", ts("2025-03-16"))))
    for (noData <- Seq(true, false)) {
      val aadhaar = run(aadhaarTwin(1e12), batches, noData)
      val name = run(nameTwin, batches, noData)
      assert(aadhaar.tags.map(_.RuleFraud) === Seq.fill(4)("Normal"), s"noData=$noData")
      assert(name.tags.map(_.RuleFraud) === Seq.fill(4)("Normal"), s"noData=$noData")
      if (noData) assert(aadhaar.batches > batches.size)
      else {
        // one micro-batch per arrival; the idle keys leave the state
        // store with the first data batch past the watermark
        assert(aadhaar.batches === batches.size)
        assert(aadhaar.stateRows === Seq(2L, 3L, 2L)) // keys 2 and 3
        assert(name.stateRows === Seq(2L, 3L, 2L))    // "Ravi" and "Uma"
      }
      assert(aadhaar.stateRows.last === 2L && name.stateRows.last === 2L, s"noData=$noData")
    }
  }

  /** A key's claims over 40 days, split into 1–4 batches, with repeated,
    * alternating or random values from `pool`. */
  private def claimsOf[K](rnd: Random, pool: IndexedSeq[K])(claim: (K, Long) => ClaimEvent)
      : Seq[Seq[ClaimEvent]] = {
    val n = 1 + rnd.nextInt(8)
    val mode = rnd.nextInt(3)
    val (a, b) = (pool(rnd.nextInt(pool.size)), pool(rnd.nextInt(pool.size)))
    val keys = Seq.tabulate(n) { i =>
      mode match {
        case 0 => a
        case 1 => if (i % 2 == 0) a else b
        case _ => pool(rnd.nextInt(pool.size))
      }
    }
    val base = ts("2025-01-01").getTime
    val claims = keys.map(k => claim(k, base + rnd.nextInt(40) * DayMs))
    val cuts = (Seq.fill(rnd.nextInt(4))(rnd.nextInt(n + 1)) ++ Seq(0, n)).distinct.sorted
    cuts.zip(cuts.tail).map { case (i, j) => claims.slice(i, j) }
  }

  test("flat Aadhaar state tags as the set of names did, NULL names included") {
    val rnd = new Random(7)
    val names = IndexedSeq("A", "B", "C", null)
    for (_ <- 1 to 500) {
      val batches = claimsOf(rnd, names)((n, ms) =>
        ClaimEvent(n, 42L, rnd.nextInt(3) * 50.0, "LPG", new Timestamp(ms)))
      // the set-shaped state machine the flat state replaced
      var seen = Set.empty[String]
      var last = Long.MinValue
      val want = batches.flatMap(_.sortBy(_.Date.getTime).map { c =>
        val day = c.Date.getTime / DayMs
        seen += c.Name
        val freq = last != Long.MinValue && day >= last && day - last <= 7
        last = math.max(last, day)
        val tags = (if (seen.size > 1) "DuplicateAadhaar;" else "") +
          (if (c.ClaimAmount > 60.0) "HighClaimAmount;" else "") +
          (if (freq) "FrequentClaims;" else "")
        if (tags.isEmpty) "Normal" else tags
      })
      val got = foldedAadhaar(batches, 60.0).map(_.RuleFraud)
      assert(got === want, batches)
    }
    // a NULL name, then a name: two distinct names, as with a Set
    val nullThenA = Seq(Seq(ClaimEvent(null, 1L, 1.0, "LPG", ts("2025-01-01"))),
      Seq(ClaimEvent("A", 1L, 1.0, "LPG", ts("2025-03-01"))))
    assert(foldedAadhaar(nullThenA, 1e12).map(_.RuleFraud) === Seq("Normal", "DuplicateAadhaar;"))
  }

  test("flat Name state tags as the set of Aadhaars did") {
    val rnd = new Random(11)
    for (_ <- 1 to 500) {
      val batches = claimsOf(rnd, IndexedSeq(1L, 2L, 3L))((a, ms) =>
        ClaimEvent("Ravi", a, 10.0, "LPG", new Timestamp(ms)))
      var seen = Set.empty[Long]
      val want = batches.flatMap(_.sortBy(_.Date.getTime).map { c =>
        seen += c.Aadhaar
        if (seen.size > 1) "MultiAadhaar;" else "Normal"
      })
      assert(foldedName(batches).map(_.RuleFraud) === want, batches)
    }
  }
}
