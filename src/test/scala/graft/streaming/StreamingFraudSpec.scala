package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.streaming.StreamingFraud.ClaimEvent

/** Smoke test for the Structured-Streaming twin of the upload loop:
  * two micro-batches through the per-Aadhaar state, asserting the
  * prefix-semantics rule tags. */
class StreamingFraudSpec extends AnyFunSuite {

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  test("streaming dedup drops same-fingerprint docs within the watermark horizon") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val query = StreamingFraud.dedupDocStream(docs)
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, Timestamp.valueOf("2025-07-01 10:00:00"), "alpha beta gamma"),
        (2L, Timestamp.valueOf("2025-07-01 10:01:00"), "Alpha, beta GAMMA!"), // same canonical fp
        (3L, Timestamp.valueOf("2025-07-01 10:02:00"), "delta epsilon"))
      query.processAllAvailable()
      input.addData( // second batch: another copy of fp(alpha beta gamma), one new doc
        (4L, Timestamp.valueOf("2025-07-01 10:10:00"), "alpha beta gamma"),
        (5L, Timestamp.valueOf("2025-07-01 10:11:00"), "zeta eta"))
      query.processAllAvailable()
      val ids = spark.sql("select doc_id from dedup_stream")
        .collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 3L, 5L), s"got $ids")
    } finally query.stop()
  }

  test("two micro-batches tag DuplicateAadhaar/FrequentClaims/HighClaimAmount from state") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[ClaimEvent]
    val query = StreamingFraud.withRuleTags(input.toDS(), highClaimThreshold = 50000.0)
      .writeStream.format("memory").queryName("tagged")
      .outputMode("append").start()
    try {
      // batch 1: first sighting of each key — no history, no tags except high amount
      input.addData(
        ClaimEvent("Asha", 1L, 1000.0, "LPG", ts("2025-07-01")),
        ClaimEvent("Ravi", 2L, 99999.0, "Housing", ts("2025-07-01")))
      query.processAllAvailable()
      val b1 = spark.sql("select * from tagged").as[StreamingFraud.TaggedClaim]
        .collect().map(t => (t.Aadhaar, t.RuleFraud)).toMap
      assert(b1(1L) === "Normal")
      assert(b1(2L) === "HighClaimAmount;")

      // batch 2: same Aadhaar, different name, 3 days later → Duplicate + Frequent
      input.addData(
        ClaimEvent("Asha Devi", 1L, 2000.0, "LPG", ts("2025-07-04")),
        ClaimEvent("Ravi", 2L, 100.0, "Housing", ts("2025-08-30")))
      query.processAllAvailable()
      val all = spark.sql("select * from tagged").as[StreamingFraud.TaggedClaim]
        .collect()
      val batch2ByKey = all.filter(t => t.Date.after(ts("2025-07-02")))
        .map(t => (t.Aadhaar, t.RuleFraud)).toMap
      assert(batch2ByKey(1L) === "DuplicateAadhaar;FrequentClaims;")
      assert(batch2ByKey(2L) === "Normal") // 60 days later, same name, small amount
      assert(all.length === 4)
    } finally query.stop()
  }

  test("within-batch ordering: same key twice in one batch still fires FrequentClaims") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[ClaimEvent]
    val query = StreamingFraud.withRuleTags(input.toDS(), highClaimThreshold = 1e12)
      .writeStream.format("memory").queryName("tagged2")
      .outputMode("append").start()
    try {
      input.addData(
        ClaimEvent("X", 7L, 10.0, "LPG", ts("2025-07-10")),
        ClaimEvent("X", 7L, 10.0, "LPG", ts("2025-07-12")))
      query.processAllAvailable()
      val tags = spark.sql("select * from tagged2").as[StreamingFraud.TaggedClaim]
        .collect().sortBy(_.Date.getTime).map(_.RuleFraud).toSeq
      assert(tags === Seq("Normal", "FrequentClaims;"))
    } finally query.stop()
  }

  test("file-source landing dir end-to-end: two CSV drops, malformed row dropped") {
    val spark = SparkSpec.spark
    val base = java.nio.file.Files.createTempDirectory("landing")
    val landing = base.resolve("in"); val out = base.resolve("out")
    val ckpt = base.resolve("ckpt")
    java.nio.file.Files.createDirectories(landing)
    def drop(name: String, rows: String): Unit =
      java.nio.file.Files.writeString(landing.resolve(name),
        "Name,Aadhaar,ClaimAmount,SubsidyType,Date\n" + rows)
    drop("b1.csv", "Asha,1,1000,LPG,2025-07-01\n")
    val q = StreamingFraud.fileStream(
      spark, landing.toString, out.toString, ckpt.toString, 50000.0)
    try {
      q.processAllAvailable()
      // second drop: same Aadhaar 3 days later + a malformed row
      drop("b2.csv", "Asha Devi,1,2000,LPG,2025-07-04\nBad,notanumber,1,LPG,2025-07-05\n")
      q.processAllAvailable()
    } finally q.stop()
    import scala.collection.JavaConverters._
    val lines = java.nio.file.Files.walk(out).iterator().asScala
      .filter(_.toString.endsWith(".csv"))
      .flatMap(p => java.nio.file.Files.readAllLines(p).asScala.drop(1))
      .toSeq
    assert(lines.length === 2, s"malformed row must be dropped: $lines")
    val tagged = lines.find(_.startsWith("Asha Devi")).get
    assert(tagged.endsWith("DuplicateAadhaar;FrequentClaims;"), tagged)
  }

  test("name-keyed mirror stream tags MultiAadhaar across batches") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ClaimEvent]
    val query = StreamingFraud.withNameRuleTags(input.toDS())
      .writeStream.format("memory").queryName("tagged3")
      .outputMode("append").start()
    try {
      input.addData(ClaimEvent("Ravi", 1L, 10.0, "LPG", ts("2025-07-01")))
      query.processAllAvailable()
      input.addData(ClaimEvent("Ravi", 2L, 10.0, "LPG", ts("2025-07-05")))
      query.processAllAvailable()
      val tags = spark.sql("select * from tagged3").as[StreamingFraud.TaggedClaim]
        .collect().sortBy(_.Date.getTime).map(_.RuleFraud).toSeq
      assert(tags === Seq("Normal", "MultiAadhaar;"))
    } finally query.stop()
  }

  test("streaming session windows close after the watermark passes the gap") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")
    val query = StreamingFraud.sessionize(events)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    try {
      // user 1: two events 10 min apart (one session), then silence
      input.addData(
        (t("2025-07-01 10:00:00"), 1L, 5.0),
        (t("2025-07-01 10:10:00"), 1L, 7.0))
      query.processAllAvailable()
      // advance the watermark far past the session close
      input.addData((t("2025-07-01 14:00:00"), 2L, 1.0))
      query.processAllAvailable()
      input.addData((t("2025-07-01 18:00:00"), 2L, 1.0))
      query.processAllAvailable()
      val rows = spark.sql("select user_id, n_events, total_value from sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.contains((1L, 2L, 12.0)), s"expected user 1 session in $rows")
    } finally query.stop()
  }

  test("streaming sessionize replay equals batch q27 on the real events table (sf0.001)") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // batch truth: q27's (user, session) aggregates; session_idx is an
    // ordinal and session_window carries extents instead, so parity is
    // on the multiset of (user_id, n_events, total_value) triples —
    // same session CUTS ⇒ same multiset, any cut drift breaks counts
    val batch = graft.ops.RelationalQueries.sessionize(spark, sfDir)
      .select("user_id", "n_events", "total_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    val rows = graft.ops.Tables.events(spark, sfDir)
      .select("ts", "user_id", "value").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1.getTime)
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")
    val query = StreamingFraud.sessionize(events)
      .writeStream.format("memory").queryName("sessions_replay")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      // two sentinel batches far past the data: the first advances the
      // watermark beyond every real session close, the second triggers
      // the state-eviction batch that emits them in Append mode
      val maxTs = rows.map(_._1.getTime).max
      input.addData((new Timestamp(maxTs + 7L * 86400000L), -1L, 0.0))
      query.processAllAvailable()
      input.addData((new Timestamp(maxTs + 14L * 86400000L), -1L, 0.0))
      query.processAllAvailable()
      val got = spark.sql("select user_id, n_events, total_value from sessions_replay")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter(_._1 >= 0L).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(got === batch)
      assert(got.nonEmpty)
    } finally query.stop()
  }

  test("streaming as-of replay equals batch q32 on the real events table (sf0.001)") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    def opt[T](r: org.apache.spark.sql.Row, i: Int, get: Int => T): Option[T] =
      if (r.isNullAt(i)) None else Some(get(i))
    val batch = graft.ops.RelationalQueries.asofJoin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        opt(r, 2, r.getLong), opt(r, 3, r.getDouble))).toSet
    val rows = graft.ops.Tables.events(spark, sfDir)
      .select("event_id", "user_id", "ts", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3), r.getDouble(4)))
      .sortBy(_._3.getTime)
    val input = MemoryStream[(Long, Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("event_id", "user_id", "ts", "event_type", "value")
    val query = StreamingFraud.asofStream(events)
      .writeStream.format("memory").queryName("asof_replay")
      .outputMode("append").start()
    try {
      // two micro-batches (split mid-corpus) so cross-batch state carry
      // is exercised, then sentinel batches to ripen every real event
      val (first, second) = rows.splitAt(rows.length / 2)
      input.addData(first: _*)
      query.processAllAvailable()
      input.addData(second: _*)
      query.processAllAvailable()
      val maxTs = rows.map(_._3.getTime).max
      input.addData((-1L, -1L, new Timestamp(maxTs + 7L * 86400000L), "view", 0.0))
      query.processAllAvailable()
      input.addData((-2L, -1L, new Timestamp(maxTs + 14L * 86400000L), "view", 0.0))
      query.processAllAvailable()
      val got = spark.sql(
          "select event_id, user_id, purchase_id, purchase_value from asof_replay")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          opt(r, 2, r.getLong), opt(r, 3, r.getDouble)))
        .filter(_._2 >= 0L).toSet
      assert(got.size === batch.size)
      assert(got === batch)
    } finally query.stop()
  }

  test("streaming forward as-of replay equals batch q139 on the real events table (sf0.001)") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    def opt[T](r: org.apache.spark.sql.Row, i: Int, get: Int => T): Option[T] =
      if (r.isNullAt(i)) None else Some(get(i))
    val batch = graft.ops.RelationalQueries.asofForward(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        opt(r, 2, r.getLong), opt(r, 3, r.getLong))).toSet
    val rows = graft.ops.Tables.events(spark, sfDir)
      .select("event_id", "user_id", "ts", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3), r.getDouble(4)))
      .sortBy(_._3.getTime)
    val input = MemoryStream[(Long, Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("event_id", "user_id", "ts", "event_type", "value")
    // retention must EXCEED the corpus's max event→next-purchase wait
    // (~6 days at sf0.001): the r13 per-invocation retention flush
    // enforces the TTL for real, so a shorter retention would
    // (correctly) emit long-wait events as unmatched where the batch —
    // which has no TTL — matches them. Sentinels then sit PAST the
    // retention horizon so genuine no-later-purchase tails still flush.
    val query = StreamingFraud.asofForwardStream(events, retentionMs = 20L * 86400000L)
      .writeStream.format("memory").queryName("asof_fwd_replay")
      .outputMode("append").start()
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      input.addData(first: _*)
      query.processAllAvailable()
      input.addData(second: _*)
      query.processAllAvailable()
      val maxTs = rows.map(_._3.getTime).max
      input.addData((-1L, -1L, new Timestamp(maxTs + 30L * 86400000L), "view", 0.0))
      query.processAllAvailable()
      input.addData((-2L, -1L, new Timestamp(maxTs + 60L * 86400000L), "view", 0.0))
      query.processAllAvailable()
      val got = spark.sql(
          "select event_id, user_id, purchase_id, wait_us from asof_fwd_replay")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          opt(r, 2, r.getLong), opt(r, 3, r.getLong)))
        .filter(_._2 >= 0L).toSet
      assert(got.size === batch.size)
      assert(got === batch)
    } finally query.stop()
  }

  test("forward as-of flushes retention-stale pending for an ACTIVE never-purchasing user") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("event_id", "user_id", "ts", "event_type", "value")
    // 1-day retention: user 42 views every 3 days and NEVER purchases,
    // so the key is never idle long enough for the timeout flush — the
    // per-invocation retention flush must emit the old views unmatched
    val query = StreamingFraud.asofForwardStream(events, retentionMs = 86400000L)
      .writeStream.format("memory").queryName("asof_fwd_active")
      .outputMode("append").start()
    def t(d: Int) = Timestamp.valueOf(f"2025-07-${1 + d}%02d 12:00:00")
    try {
      // one view per micro-batch, 3 days apart: each batch advances the
      // watermark, ripens the previous view, and pushes the one before
      // THAT past the retention cutoff — all while rows keep arriving
      for (i <- 0 until 5) {
        input.addData((100L + i, 42L, t(3 * i), "view", 0.0))
        query.processAllAvailable()
      }
      val got = spark.sql("select event_id, purchase_id from asof_fwd_active")
        .collect().map(r => (r.getLong(0), r.isNullAt(1))).toMap
      // with 5 batches the first three views have ripened AND aged past
      // retention inside invocations where the key had fresh rows; old
      // code (idle-timeout-only flush) emits nothing here
      assert(Set(100L, 101L, 102L).subsetOf(got.keySet), s"got $got")
      assert(got.values.forall(identity), s"expected all unmatched, got $got")
    } finally query.stop()
  }

  test("streaming conversion-latency grid converges to the batch q139 wait recount (sf0.001)") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // batch truth at the grid grain: q139's non-null waits bucketed by
    // the stream's cell width, keyed by the event's own type
    val types = graft.ops.Tables.events(spark, sfDir)
      .select("event_id", "event_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = graft.ops.RelationalQueries.asofForward(spark, sfDir).collect()
      .filter(!_.isNullAt(3))
      .map(r => (types(r.getLong(0)), r.getLong(3) / StreamingFraud.LatBucketUs))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rows = graft.ops.Tables.events(spark, sfDir)
      .select("event_id", "user_id", "ts", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3), r.getDouble(4)))
      .sortBy(_._3.getTime)
    val input = MemoryStream[(Long, Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("event_id", "user_id", "ts", "event_type", "value")
    val query = StreamingFraud.conversionLatencyStream(events)
      .writeStream.format("memory").queryName("lat_grid")
      .outputMode("update").start()
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      input.addData(first: _*)
      query.processAllAvailable()
      input.addData(second: _*)
      query.processAllAvailable()
      // one sentinel ripens every real event; matched waits all emit
      val maxTs = rows.map(_._3.getTime).max
      input.addData((-1L, -1L, new Timestamp(maxTs + 7L * 86400000L), "view", 0.0))
      query.processAllAvailable()
      // Update mode re-emits cells: counts are monotone, keep the max
      val got = spark.sql("select event_type, wait_bucket, n_waits from lat_grid")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      assert(got === expect)
      assert(got.nonEmpty)
    } finally query.stop()
  }

  test("streaming session-conversion depth grid converges to batch q142 (sf0.001)") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val expect = graft.ops.RelationalQueries.sessionConversion(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val rows = graft.ops.Tables.events(spark, sfDir)
      .select("event_id", "user_id", "ts", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3), r.getDouble(4)))
      .sortBy(_._3.getTime)
    val input = MemoryStream[(Long, Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("event_id", "user_id", "ts", "event_type", "value")
    val query = StreamingFraud.sessionConversionStream(events)
      .writeStream.format("memory").queryName("sess_conv")
      .outputMode("update").start()
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      input.addData(first: _*)
      query.processAllAvailable()
      input.addData(second: _*)
      query.processAllAvailable()
      // sentinels: advance the watermark far enough to close every real
      // session, but keep BOTH sentinel rows inside one 10-minute gap —
      // the sentinel user's own session never closes, so the anonymous
      // depth grid carries real sessions only
      val maxTs = rows.map(_._3.getTime).max
      input.addData((-1L, -1L, new Timestamp(maxTs + 7L * 86400000L), "view", 0.0))
      query.processAllAvailable()
      input.addData((-2L, -1L, new Timestamp(maxTs + 7L * 86400000L + 600000L), "view", 0.0))
      query.processAllAvailable()
      // fold update re-emissions (monotone n_sessions per depth)
      val folded = spark.sql("select depth, n_sessions, n_converted from sess_conv")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
      val got = folded.map { case (d, (n, c)) => d -> ((n, c, c * 10000L / n)) }
      assert(got === expect)
      assert(got.nonEmpty)
    } finally query.stop()
  }

  test("streaming decayed activity: incremental state equals the batch formula") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")
    val query = StreamingFraud.decayedActivityStream(events)
      .writeStream.format("memory").queryName("activity")
      .outputMode("update").start()
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    val batch1 = Seq(
      (t("2025-06-01 10:00:00"), 1L, 5.0),
      (t("2025-06-15 10:00:00"), 1L, 7.0),
      (t("2025-06-20 10:00:00"), 2L, 3.0))
    val batch2 = Seq(
      (t("2025-07-01 10:00:00"), 1L, 2.0),
      (t("2025-06-05 10:00:00"), 2L, 9.0), // OUT OF ORDER: before user 2's batch-1 event
      (t("2025-07-02 10:00:00"), 3L, 4.0))
    try {
      input.addData(batch1: _*)
      query.processAllAvailable()
      input.addData(batch2: _*)
      query.processAllAvailable()
      // latest state per user, decayed to the global anchor
      val all = batch1 ++ batch2
      val anchorUs = all.map(_._1.getTime).max * 1000L
      val tauUs = graft.ops.RelationalQueries.DecayTauDays * 86400e6
      val expect = all.groupBy(_._2).map { case (uid, evs) =>
        uid -> evs.map { case (ts, _, v) =>
          v * math.exp(-(anchorUs - ts.getTime * 1000L) / tauUs)
        }.sum
      }
      val states = spark.sql(
        "select user_id, anchor_us, score, n_events from activity")
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getLong(3))))
        .groupBy(_._1).map { case (uid, rows) =>
          uid -> rows.map(_._2).maxBy(_._3) // latest state = highest n_events
        }
      assert(states.keySet === expect.keySet)
      states.foreach { case (uid, (aUs, score, _)) =>
        val atAnchor = score * math.exp(-(anchorUs - aUs) / tauUs)
        assert(math.abs(atAnchor - expect(uid)) <= 1e-9 * math.abs(expect(uid)),
          s"user $uid: stream $atAnchor vs batch ${expect(uid)}")
      }
    } finally query.stop()
  }

  test("streaming decayed activity: idle users are reaped at the TTL and restart fresh") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")
    val query = StreamingFraud.decayedActivityStream(events, idleTtlDays = 10.0)
      .writeStream.format("memory").queryName("activity_ttl")
      .outputMode("update").start()
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    try {
      input.addData((t("2025-01-01 00:00:00"), 1L, 5.0),
        (t("2025-01-02 00:00:00"), 1L, 3.0))
      query.processAllAvailable()
      // advance the watermark far past user 1's 10-day TTL (two
      // batches: the watermark computed from batch N applies in N+1)
      input.addData((t("2025-06-01 00:00:00"), 2L, 1.0))
      query.processAllAvailable()
      input.addData((t("2025-06-02 00:00:00"), 2L, 1.0))
      query.processAllAvailable()
      // user 1 re-appears AFTER the reap: state must restart at 1,
      // not resume at 3 — the evidence the timeout actually removed it
      input.addData((t("2025-06-03 00:00:00"), 1L, 7.0))
      query.processAllAvailable()
      val u1 = spark.sql(
        "select n_events, score from activity_ttl where user_id = 1 and anchor_us = unix_micros(timestamp'2025-06-03 00:00:00')")
        .collect()
      assert(u1.length == 1 && u1(0).getLong(0) == 1L && u1(0).getDouble(1) == 7.0,
        s"expected a fresh n_events=1 state, got ${u1.toSeq}")
    } finally query.stop()
  }

  test("streaming keep-best dedup: a later better duplicate displaces the survivor") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val docs = input.toDF().toDF("doc_id", "text", "n_chars")
    val query = StreamingFraud.keepBestDedupStream(docs)
      .writeStream.format("memory").queryName("bestdocs")
      .outputMode("update").start()
    try {
      // batch 1: short copy of A arrives first; B is a singleton
      input.addData((10L, "alpha beta", 10L), (20L, "other text", 10L))
      query.processAllAvailable()
      // batch 2: longer same-content copy of A (punctuation-only
      // variant, same fingerprint) must displace doc 10; a shorter
      // copy of B must NOT displace doc 20
      input.addData((11L, "ALPHA, beta!!", 13L), (21L, "other text", 9L))
      query.processAllAvailable()
      val state = spark.sql("select fp, doc_id, n_chars, n_seen from bestdocs")
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .groupBy(_._1).map { case (fp, rows) =>
          fp -> rows.map(_._2).maxBy(_._3) // latest update = highest n_seen
        }
      assert(state.size === 2, s"expected 2 content groups, got $state")
      val byId = state.values.toSeq.sortBy(_._1)
      assert(byId.contains((11L, 13L, 2L)),
        s"longer duplicate 11 must displace 10: $state")
      assert(byId.contains((20L, 10L, 2L)),
        s"shorter duplicate 21 must not displace 20: $state")
    } finally query.stop()
  }

  test("streaming k-means: decay=1 over two micro-batches equals the exact blob means") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(17)
    val dim = graft.sim.SimilarityQueries.Dim
    val centers = Array.fill(3)(Array.fill(dim)(rng.nextGaussian()))
    val members = for (b <- 0 until 3; j <- 0 until 30) yield {
      val v = centers(b).map(x => x + 0.05 * rng.nextGaussian())
      ((b * 30 + j).toLong, v.toSeq, b)
    }
    // seed with one member of each blob; interleave blobs across batches
    val init = Map(0L -> members(0)._2.toArray,
      1L -> members(30)._2.toArray, 2L -> members(60)._2.toArray)
    val input = MemoryStream[(Long, Seq[Double])]
    val vecs = input.toDF().toDF("vec_id", "e")
    val (query, handle) = StreamingFraud.kmeansStream(spark, vecs, init)
    try {
      val (b1, b2) = members.map(m => (m._1, m._2)).splitAt(45)
      input.addData(b1: _*)
      query.processAllAvailable()
      input.addData(b2: _*)
      query.processAllAvailable()
      // with w0 = 0 the seed vector has no weight, and stable
      // assignments make the decay=1 running mean EQUAL the exact
      // all-data blob mean regardless of the batch boundary
      val byBlob = members.groupBy(_._3)
      assert(handle.weights.values.toSeq.sorted === Seq(30.0, 30.0, 30.0))
      for ((cid, c) <- handle.centroids) {
        val blob = byBlob(cid.toInt).map(_._2)
        val mean = Array.tabulate(dim)(j => blob.map(_(j)).sum / blob.length)
        val maxErr = c.zip(mean).map { case (a, b) => math.abs(a - b) }.max
        assert(maxErr < 1e-9,
          s"centroid $cid deviates from the exact blob mean by $maxErr")
      }
    } finally query.stop()
  }

  test("streaming token budget: two micro-batches converge to a driver-side recount") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("text", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val input = MemoryStream[(String, String)]
    val stream = input.toDF().toDF("text", "lang")
    val query = StreamingFraud.tokenBudgetStream(stream)
      .writeStream.format("memory").queryName("tokbudget")
      .outputMode("update").start()
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      input.addData(b1: _*)
      query.processAllAvailable()
      input.addData(b2: _*)
      query.processAllAvailable()
      // independent driver-side recount: Scala md5 split + Scala regex
      // token count — NOT the Spark expressions under test
      val tokRe = java.util.regex.Pattern.compile("[a-z]+|[0-9]+|[^a-z0-9\\s]")
      def nTok(t: String): Long = {
        val m = tokRe.matcher(t); var n = 0L; while (m.find()) n += 1; n
      }
      def split(t: String): String = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val b = md.digest(t.getBytes("UTF-8"))(0) & 0xff
        if (b < graft.text.CorpusOps.TrainBuckets) "train"
        else if (b < graft.text.CorpusOps.TrainBuckets + graft.text.CorpusOps.ValBuckets) "val"
        else "test"
      }
      val expect = docs.groupBy(d => (split(d._1), d._2)).map { case (k, ds) =>
        k -> ((ds.length.toLong, ds.map(d => nTok(d._1)).sum))
      }
      // Update mode re-emits a cell on every touch: keep the LAST row
      // per (split, lang) — n_docs grows monotonically within a cell
      val got = spark.sql("select split, lang, n_docs, tokens from tokbudget")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
        .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).maxBy(_._1) }
      assert(got === expect, "streaming grid must converge to the batch answer")
    } finally query.stop()
  }

  test("streaming HLL registers: two micro-batches converge to the batch register table") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("text", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val input = MemoryStream[(String, String)]
    val stream = input.toDF().toDF("text", "lang")
    val query = StreamingFraud.hllRegistersStream(stream)
      .writeStream.format("memory").queryName("hllregs")
      .outputMode("update").start()
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      input.addData(b1: _*)
      query.processAllAvailable()
      input.addData(b2: _*)
      query.processAllAvailable()
      // batch ground truth: the SAME register pipeline over the full
      // corpus — max-only state means the stream must land on it exactly
      val expect = graft.ops.Sketches
        .tokenRegisters(graft.ops.Tables.documents(spark, sfDir), "lang")
        .groupBy("lang", "reg")
        .agg(org.apache.spark.sql.functions.max("rank").as("mrank"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
      // Update mode re-emits a cell on every ratchet: keep the MAX per
      // (lang, reg) — the register's final value
      val got = spark.sql("select lang, reg, mrank from hllregs")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2))
        .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).max }
      assert(got === expect,
        "streaming registers must converge to the batch sketch")
    } finally query.stop()
  }

  test("streaming keep-best dedup runs on the RocksDB state store (production posture)") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(confKey)
    spark.conf.set(confKey, StreamingFraud.RocksDbProvider)
    try {
      val input = MemoryStream[(Long, String, Long)]
      val docs = input.toDF().toDF("doc_id", "text", "n_chars")
      val query = StreamingFraud.keepBestDedupStream(docs)
        .writeStream.format("memory").queryName("bestdocs_rocks")
        .outputMode("update").start()
      try {
        input.addData((10L, "alpha beta", 10L), (20L, "other text", 10L))
        query.processAllAvailable()
        input.addData((11L, "ALPHA, beta!!", 13L), (21L, "other text", 9L))
        query.processAllAvailable()
        // same displacement semantics as the default-provider test —
        // the store swap must be behaviorally invisible
        val state = spark.sql("select fp, doc_id, n_chars, n_seen from bestdocs_rocks")
          .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
          .groupBy(_._1).map { case (fp, rows) =>
            fp -> rows.map(_._2).maxBy(_._3)
          }
        val byId = state.values.toSeq.sortBy(_._1)
        assert(byId.contains((11L, 13L, 2L)) && byId.contains((20L, 10L, 2L)),
          s"displacement semantics must hold under RocksDB: $state")
        // and the store in use really is RocksDB: the state operator's
        // progress carries rocksdb-prefixed custom metrics only when
        // that provider actually served the batches
        import scala.jdk.CollectionConverters._
        val metricKeys = query.lastProgress.stateOperators
          .flatMap(_.customMetrics.keySet.asScala)
        assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
          s"no rocksdb state metrics in progress: ${metricKeys.mkString(", ")}")
      } finally query.stop()
    } finally {
      saved match {
        case Some(v) => spark.conf.set(confKey, v)
        case None    => spark.conf.unset(confKey)
      }
    }
  }

  test("streaming heavy hitters: window candidates cover every heavy token across batches") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val tokens = input.toDF().toDF("ts", "w")
    val k = 8
    val query = StreamingFraud.heavyHittersStream(tokens, k = k)
      .writeStream.format("memory").queryName("hh")
      .outputMode("update").start()
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    // one window: 'hot' appears 40 times split across TWO micro-batches,
    // tail tokens once each — hot must survive the merge
    val mk = (word: String, i: Int) => (t("2025-07-01 10:00:01"), s"$word$i")
    try {
      input.addData((1 to 20).map(_ => (t("2025-07-01 10:00:01"), "hot")) ++
        (1 to 30).map(i => mk("tail_a", i)): _*)
      query.processAllAvailable()
      input.addData((1 to 20).map(_ => (t("2025-07-01 10:00:01"), "hot")) ++
        (1 to 30).map(i => mk("tail_b", i)): _*)
      query.processAllAvailable()
      val rows = spark.sql("select window_start, candidates, n_tokens from hh")
        .collect()
      val last = rows.maxBy(_.getLong(2))
      assert(last.getLong(2) === 100L)
      val cands = last.getSeq[String](1).toSet
      // hot freq 40 > 100/(k+1) ≈ 11 — the mergeable-summary guarantee
      assert(cands.contains("hot"), s"missed the heavy token in $cands")
      assert(cands.size <= k)
    } finally query.stop()
  }

  test("streaming hopping windows: closed (window, type) rows equal the batch aggregate row-for-row") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val query = StreamingFraud.hoppingWindowStream(events)
      .writeStream.format("memory").queryName("hop")
      .outputMode("append").start()
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    val rows = Seq(
      (t("2025-07-01 10:10:00"), "view", 1.25),
      (t("2025-07-01 10:50:00"), "view", 2.50),
      (t("2025-07-01 11:10:00"), "click", 4.00),
      (t("2025-07-01 12:20:00"), "view", 8.00))
    try {
      // split across micro-batches: the 2h windows overlapping 10:xx
      // stay open across the batch boundary and must keep merging
      input.addData(rows.take(2): _*)
      query.processAllAvailable()
      input.addData(rows.drop(2): _*)
      query.processAllAvailable()
      // advance the watermark far enough to close every window above
      input.addData((t("2025-07-01 23:00:00"), "view", 0.0))
      query.processAllAvailable()
      val streamed = spark.sql(
        "select window_start, event_type, n_events, total_value from hop")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = rows.toDF("ts", "event_type", "value")
        .groupBy(org.apache.spark.sql.functions.window($"ts", "2 hours", "1 hour"), $"event_type")
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_events"),
          org.apache.spark.sql.functions.round(org.apache.spark.sql.functions.sum($"value"), 2).as("total_value"))
        .select($"window.start", $"event_type", $"n_events", $"total_value")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed === batch, s"stream $streamed != batch $batch")
      // each event covers exactly two windows: 4 events → Σ n_events = 8
      assert(streamed.toSeq.map(_._3).sum === 8L)
    } finally query.stop()
  }

  test("streaming quality gate: grid converges to a driver-side recount across micro-batches") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    val input = MemoryStream[(Option[java.sql.Timestamp], Option[Long], Option[String], Option[Double])]
    val events = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val query = StreamingFraud.qualityGateStream(events)
      .writeStream.format("memory").queryName("qgate")
      .outputMode("update").start()
    val rows: Seq[(Option[java.sql.Timestamp], Option[Long], Option[String], Option[Double])] = Seq(
      (Some(t("2024-03-01 10:00:00")), Some(1L), Some("view"), Some(1.0)),     // clean
      (Some(t("2024-03-01 11:00:00")), None, Some("hover"), Some(-2.0)),       // null user, bad type, negative
      (Some(t("2023-12-31 23:59:59")), Some(2L), None, None),                  // early ts, null type+value
      (None, Some(3L), Some("purchase"), Some(4.5)),                           // null ts
      (Some(t("2025-06-01 00:00:00")), Some(4L), Some("click"), Some(0.0)))    // late ts
    try {
      input.addData(rows.take(2): _*)
      query.processAllAvailable()
      input.addData(rows.drop(2): _*)
      query.processAllAvailable()
      // Update mode re-emits a touched cell per batch: keep the last
      // (max-total) row per constraint
      val got = spark.sql("select check_name, col_name, violations, total_rows from qgate")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
        .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).maxBy(_._2) }
      // independent driver-side recount
      val accepted = Set("click", "error", "purchase", "signup", "view")
      val lo = t("2024-01-01 00:00:00"); val hi = t("2025-01-01 00:00:00")
      val n = rows.length.toLong
      val expect = Map(
        ("completeness", "user_id") -> ((rows.count(_._2.isEmpty).toLong, n)),
        ("completeness", "event_type") -> ((rows.count(_._3.isEmpty).toLong, n)),
        ("completeness", "value") -> ((rows.count(_._4.isEmpty).toLong, n)),
        ("accepted_values", "event_type") -> ((rows.count(r => r._3.forall(!accepted(_))).toLong, n)),
        ("non_negative", "value") -> ((rows.count(_._4.exists(_ < 0)).toLong, n)),
        ("ts_bounds", "ts") -> ((rows.count(r => r._1.forall(ts => ts.before(lo) || !ts.before(hi))).toLong, n)))
      assert(got === expect, s"stream $got != recount $expect")
    } finally query.stop()
  }

  test("streaming drift monitor: (dim, bin) grid converges to the batch recount") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val input = MemoryStream[(Long, String, Long)]
    val stream = input.toDF().toDF("doc_id", "lang", "n_chars")
    val query = StreamingFraud.distributionDriftStream(stream)
      .writeStream.format("memory").queryName("drift")
      .outputMode("update").start()
    try {
      val (b1, b2) = docs.splitAt(docs.length / 3)
      input.addData(b1.toIndexedSeq: _*)
      query.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      query.processAllAvailable()
      // independent driver recount of both dims
      val expect =
        docs.groupBy(d => ("lang", d._2)).view.mapValues(_.length.toLong).toMap ++
        docs.groupBy(d => ("n_chars_bin", (d._3 / graft.ops.Quality.PsiCharBin).toString))
          .view.mapValues(_.length.toLong).toMap
      // Update mode re-emits touched cells: keep the max count per cell
      val got = spark.sql("select dim, bin, n_docs from drift").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).max }
      assert(got === expect, "streaming grid must converge to the batch recount")
    } finally query.stop()
  }

  test("streaming blocklist screen converges to the batch screen's touched cells") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val input = MemoryStream[(String, String)]
    val stream = input.toDF().toDF("source", "text")
    val query = StreamingFraud.blocklistScreenStream(stream)
      .writeStream.format("memory").queryName("blscreen")
      .outputMode("update").start()
    try {
      // three uneven micro-batches: the additive cells must not care
      val (b1, rest) = docs.splitAt(docs.length / 4)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b.toIndexedSeq: _*)
        query.processAllAvailable()
      }
      // batch ground truth: q185's grid, restricted to touched cells
      val expect = graft.text.Scrub.blocklistScreen(spark, sfDir).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_occ"))))
        .filter(_._2._2 > 0L).toMap
      // Update mode re-emits a cell per touch: counts ratchet, keep max
      val got = spark.sql("select source, pattern, n_docs, n_occ from blscreen")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
        .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).maxBy(_._1) }
      assert(got === expect, "stream must converge to the batch screen")
    } finally query.stop()
  }

  test("streaming KMV source sketches converge to batch; pair algebra reproduces q182") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val input = MemoryStream[(String, String)]
    val stream = input.toDF().toDF("source", "text")
    val query = StreamingFraud.kmvSketchStream(stream)
      .writeStream.format("memory").queryName("kmvsk")
      .outputMode("update").start()
    try {
      val (b1, rest) = docs.splitAt(docs.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b.toIndexedSeq: _*)
        query.processAllAvailable()
      }
      // the k-min state only ratchets downward: the final sketch per
      // source is the elementwise (equivalently lexicographic) min of
      // its emitted rows
      import scala.math.Ordering.Implicits.seqOrdering
      val got = spark.sql("select source, ks from kmvsk").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1).toVector)
        .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).min }
      val batch = graft.ops.Sketches
        .kmvSourceSketches(graft.ops.Tables.documents(spark, sfDir))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1).toVector).toMap
      assert(got === batch, "stream state must converge to the batch sketches")
      // the sketch-sized half re-runs on the stream's final state and
      // must reproduce the registered q182 output exactly
      val fromState = graft.ops.Sketches
        .kmvPairAlgebra(got.toSeq.toDF("source", "ks")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2)).toMap
      val q182 = graft.ops.Sketches.kmvSetOps(spark, sfDir).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2)).toMap
      assert(fromState === q182)
    } finally query.stop()
  }

  test("streaming KS count grid converges to batch; ksFromCounts reproduces q198") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val input = MemoryStream[(String, Long)]
    val stream = input.toDF().toDF("source", "n_chars")
    val query = StreamingFraud.ksCountsStream(stream)
      .writeStream.format("memory").queryName("kscnt")
      .outputMode("update").start()
    try {
      val (b1, rest) = docs.splitAt(docs.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b.toIndexedSeq: _*)
        query.processAllAvailable()
      }
      // update mode re-emits a cell per touch; counts only ratchet up
      val state = spark.sql("select source, v, c from kscnt").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .groupBy(_._1).map { case (k, rs) => (k._1, k._2, rs.map(_._2).max) }
        .toSeq
      val batchGrid = graft.ops.Quality
        .ksCounts(graft.ops.Tables.documents(spark, sfDir)).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(state.toSet === batchGrid, "stream state must equal the batch grid")
      // the value-grain tail re-runs on the snapshot and must equal q198
      val fromState = graft.ops.Quality
        .ksFromCounts(state.toDF("source", "v", "c")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2)).toMap
      val q198 = graft.ops.Quality.ksDrift(spark, sfDir).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2)).toMap
      assert(fromState === q198)
      // the SAME snapshot answers the location question too: the q216
      // Mann–Whitney tail over it equals the registered batch query
      val mwuFromState = graft.ops.Quality
        .mwuFromCounts(state.toDF("source", "v", "c")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2)).toMap
      val q216 = graft.ops.Quality.mannWhitneyDrift(spark, sfDir).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2)).toMap
      assert(mwuFromState === q216)
    } finally query.stop()
  }

  test("streaming (type, day) grid replays q240, q251, q264, q280 and q283 from one snapshot") {
    import org.apache.spark.sql.functions.{col, expr}
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val ev = graft.ops.Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts)").as("tsus"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("tsus", "event_type")
      .select(expr("timestamp_micros(tsus)").as("ts"), col("event_type"))
    val query = StreamingFraud.typeDayCountsStream(stream)
      .writeStream.format("memory").queryName("tdgrid")
      .outputMode("update").start()
    try {
      val (b1, rest) = ev.splitAt(ev.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b.toIndexedSeq: _*)
        query.processAllAvailable()
      }
      val state = spark.sql(
          "select event_type, day, cast(x as bigint) as x from tdgrid")
        .collect()
        .map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2))
        .groupBy(_._1).map { case (k, rs) => (k._1, k._2, rs.map(_._2).max) }
        .toSeq
      val snap = state
        .map { case (t, d, x) => (t, java.sql.Date.valueOf(d), x) }
        .toDF("event_type", "day", "x").localCheckpoint(true)
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.toSeq.head -> r.toSeq.tail).toMap
      assert(m(graft.ops.Quality.seasonalBacktestFromCounts(snap)) ===
        m(graft.ops.Quality.seasonalBacktest(spark, sfDir)))
      assert(m(graft.ops.Quality.theilSenFromCounts(snap)) ===
        m(graft.ops.Quality.theilSenTrend(spark, sfDir)))
      val outFromState = graft.ops.Quality.seasonalOutliersFromCounts(snap)
        .collect().map(r => (r.getString(0), r.getDate(1).toString)).toSet
      val q264 = graft.ops.Quality.seasonalOutliers(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getDate(1).toString)).toSet
      assert(outFromState === q264)
      // ... and the r17 trend family reads the SAME state: q283's
      // Mann–Kendall test per type, and (summed over types) q280's
      // changepoint segmentation — live alarms, not just batch audits
      assert(m(graft.ops.Changepoint.mannKendallFrom(snap)) ===
        m(graft.ops.Changepoint.mannKendall(spark, sfDir)))
      assert(m(graft.ops.Changepoint.changepointsFromCounts(snap)) ===
        m(graft.ops.Changepoint.changepoints(spark, sfDir)))
    } finally query.stop()
  }

  test("streaming HLL-DAU register grid replays q262 from a snapshot") {
    import org.apache.spark.sql.functions.{col, expr}
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val ev = graft.ops.Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts)").as("tsus"), col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val input = MemoryStream[(Long, Long)]
    val stream = input.toDF().toDF("tsus", "user_id")
      .select(expr("timestamp_micros(tsus)").as("ts"), col("user_id"))
    val query = StreamingFraud.hllDauRegistersStream(stream)
      .writeStream.format("memory").queryName("hlldau")
      .outputMode("update").start()
    try {
      val (b1, rest) = ev.splitAt(ev.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b.toIndexedSeq: _*)
        query.processAllAvailable()
      }
      // update mode re-emits a cell per touch; max-ranks only ratchet up
      val state = spark.sql(
          "select day, reg, cast(mrank as bigint) as mrank from hlldau")
        .collect()
        .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2))
        .groupBy(_._1).map { case (k, rs) => (k._1, k._2, rs.map(_._2).max) }
        .toSeq
      val snap = state.map { case (d, r, m) => (java.sql.Date.valueOf(d), r, m) }
        .toDF("day", "reg", "mrank")
      val fromState = graft.ops.Sketches.hllDauFromRegisters(snap).collect()
        .map(r => r.getDate(0).toString -> r.toSeq.drop(1)).toMap
      val q262 = graft.ops.Sketches.hllDau(spark, sfDir).collect()
        .map(r => r.getDate(0).toString -> r.toSeq.drop(1)).toMap
      assert(fromState === q262)
    } finally query.stop()
  }

  test("streaming good-rate grid replays q242 and the q243 BH decision from a snapshot") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val input = MemoryStream[(String, String)]
    val stream = input.toDF().toDF("source", "text")
    val query = StreamingFraud.goodRateCountsStream(stream)
      .writeStream.format("memory").queryName("goodrate")
      .outputMode("update").start()
    try {
      val (b1, rest) = docs.splitAt(docs.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b.toIndexedSeq: _*)
        query.processAllAvailable()
      }
      // update mode re-emits a cell per touch; counters only ratchet up
      val state = spark.sql("select source, n_g, x_g from goodrate").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
        .map { case (src, rs) => (src, rs.map(_._2._1).max, rs.map(_._2._2).max) }
        .toSeq
      val batchGrid = graft.ops.Inference
        .goodRateCounts(graft.ops.Tables.documents(spark, sfDir)).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(state.toSet === batchGrid, "stream state must equal the batch grid")
      val snap = state.toDF("source", "n_g", "x_g").localCheckpoint(true)
      val zFromState = graft.ops.Inference.twoPropZFromCounts(snap).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2)).toMap
      val q242 = graft.ops.Inference.twoPropZ(spark, sfDir).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2)).toMap
      assert(zFromState === q242)
      val bhFromState = graft.ops.Inference.bhFdrFromCounts(snap).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2)).toMap
      val q243 = graft.ops.Inference.bhFdr(spark, sfDir).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2)).toMap
      assert(bhFromState === q243)
    } finally query.stop()
  }

  test("streaming CUSUM day grid replays the full q217 alarm table from a state snapshot") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val ts = graft.ops.Tables.events(spark, sfDir)
      .select("ts").collect().map(_.getTimestamp(0))
    val input = MemoryStream[java.sql.Timestamp]
    val stream = input.toDF().toDF("ts")
    val query = StreamingFraud.cusumCountsStream(stream)
      .writeStream.format("memory").queryName("cuscnt")
      .outputMode("update").start()
    try {
      val (b1, b2) = ts.splitAt(ts.length / 2)
      Seq(b1, b2).foreach { b =>
        input.addData(b.toIndexedSeq: _*)
        query.processAllAvailable()
      }
      // update mode re-emits a cell per touch; counts only ratchet up
      val state = spark.sql("select day, x from cuscnt").collect()
        .map(r => r.getDate(0) -> r.getLong(1))
        .groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).max }.toSeq
      val batchGrid = graft.ops.Quality
        .dailyCounts(graft.ops.Tables.events(spark, sfDir)).collect()
        .map(r => r.getDate(0) -> r.getLong(1)).toSet
      assert(state.toSet === batchGrid, "stream state must equal the batch day grid")
      // the day-grain tail re-runs on the snapshot and must equal q217
      val fromState = graft.ops.Quality
        .cusumFromCounts(state.toDF("day", "x")).collect()
        .map(r => r.getDate(0) -> r.toSeq.drop(1)).toMap
      val q217 = graft.ops.Quality.cusumDrift(spark, sfDir).collect()
        .map(r => r.getDate(0) -> r.toSeq.drop(1)).toMap
      assert(fromState === q217)
      // the SAME day-grid snapshot also replays the q226 OLS trend —
      // one piece of bounded state feeds both volume monitors
      def olsOf(df: org.apache.spark.sql.DataFrame) = {
        val daily = df.localCheckpoint(true)
        val d0 = daily.agg(org.apache.spark.sql.functions.min("day").as("d0"))
        import org.apache.spark.sql.functions._
        daily.crossJoin(broadcast(d0))
          .select(datediff(col("day"), col("d0")).cast("long").as("t"), col("x"))
          .agg(count(lit(1)), sum("t"), sum("x"),
            sum(expr("t * t")), sum(expr("t * x")))
          .collect().head.toSeq
      }
      assert(olsOf(state.toDF("day", "x")) ===
        olsOf(graft.ops.Quality.dailyCounts(
          graft.ops.Tables.events(spark, sfDir))))
    } finally query.stop()
  }

  test("streaming Benford digit grid converges to the batch audit's observed counts") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val amounts = graft.ops.Tables.orders(spark, sfDir)
      .select("o_totalprice").collect().map(_.getDouble(0))
    val input = MemoryStream[Double]
    val stream = input.toDF().toDF("amount")
    val query = StreamingFraud.benfordCountsStream(stream)
      .writeStream.format("memory").queryName("benf")
      .outputMode("update").start()
    try {
      val (b1, b2) = amounts.splitAt(amounts.length / 2)
      Seq(b1, b2).foreach { b =>
        input.addData(b.toIndexedSeq: _*)
        query.processAllAvailable()
      }
      // update mode re-emits per touch; counts only ratchet up
      val state = spark.sql("select digit, o from benf").collect()
        .map(r => r.getInt(0) -> r.getLong(1))
        .groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).max }
      val batch = graft.ops.Quality.benfordAudit(spark, sfDir).collect()
        .map(r => r.getAs[Int]("digit") -> r.getAs[Long]("o"))
        .filter(_._2 > 0).toMap
      assert(state === batch, "stream state must equal the batch digit grid")
    } finally query.stop()
  }

  test("streaming KMV distinct-users: exact below k, merges across micro-batches") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val query = StreamingFraud.distinctUsersStream(events)
      .writeStream.format("memory").queryName("ukmv")
      .outputMode("append").start()
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    try {
      // window 10:00-11:00 — users 1,2,3 across TWO micro-batches, with
      // repeats (the sketch must dedup across batch boundaries)
      input.addData((t("2025-07-01 10:00:00"), 1L), (t("2025-07-01 10:05:00"), 2L))
      query.processAllAvailable()
      input.addData((t("2025-07-01 10:20:00"), 2L), (t("2025-07-01 10:30:00"), 3L))
      query.processAllAvailable()
      // advance the watermark past the window close to emit it
      input.addData((t("2025-07-01 14:00:00"), 9L))
      query.processAllAvailable()
      input.addData((t("2025-07-01 18:00:00"), 9L))
      query.processAllAvailable()
      val rows = spark.sql("select k_used, est_distinct_users from ukmv")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(rows.contains((3L, 3.0)), s"expected exact 3 distinct users in ${rows.toSeq}")
    } finally query.stop()
  }

  test("scoreStream applies the fitted model per micro-batch, rules win over ML") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val train = graft.fraud.Claims.readCsv(
      spark, "/root/reference/data/raw/train.csv")
    val model = graft.fraud.FraudModel(
      graft.fraud.FeaturePipeline.fit(train),
      graft.ml.PtWeights.loadAutoencoder(
        "/root/reference/models/fraud_autoencoder.pt"))
    val input = MemoryStream[ClaimEvent]
    val tagged = StreamingFraud.withRuleTags(input.toDS(), highClaimThreshold = 90000.0)
    val query = StreamingFraud.scoreStream(tagged, model, mlThreshold = 1e9)
      .writeStream.format("memory").queryName("scored")
      .outputMode("append").start()
    try {
      input.addData(
        ClaimEvent("Asha", 1L, 99999.0, "LPG", ts("2025-07-01")),
        ClaimEvent("Ravi", 2L, 100.0, "Education", ts("2025-07-01")))
      query.processAllAvailable()
      val rows = spark.sql("select Name, ReconstructionError, FraudType from scored")
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getString(2))).toMap
      assert(rows("Asha")._2 === "HighClaimAmount;") // rule wins
      assert(rows("Ravi")._2 === "Normal")           // under the fitted threshold
      assert(rows.values.forall(v => v._1 > 0 && !v._1.isNaN))
    } finally query.stop()
  }

  test("scoreStream with a model trained on a claims table built here: rules win over ML, Suspicious above the fitted threshold") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(5)
    val subsidies = Seq("Education", "Farming", "Housing", "LPG")
    val start = java.time.LocalDate.of(2024, 12, 1)
    val train = spark.createDataFrame(
      java.util.Arrays.asList(Seq.tabulate(200)(i => org.apache.spark.sql.Row(
        s"n$i", 100000L + i, math.rint(rng.nextDouble() * 5000000) / 100,
        subsidies(rng.nextInt(4)), java.sql.Date.valueOf(start.plusDays(rng.nextInt(120))))): _*),
      graft.fraud.Claims.schema)
    val model = graft.fraud.FraudPipeline.train(spark, train, graft.ml.Trainer.Config(epochs = 5))
    // the fitted threshold: mean + 2σ (ddof=0) of the training errors
    val trainErr = graft.fraud.FraudPipeline.withReconstructionError(spark,
      graft.fraud.FeaturePipeline.transform(train, model.params,
        fixedOrigin = Some(model.params.trainDateOrigin)), model.net)
      .select("ReconstructionError").as[Double].collect()
    val mean = trainErr.sum / trainErr.length
    val thr = mean + 2 * math.sqrt(trainErr.map(e => (e - mean) * (e - mean)).sum / trainErr.length)

    val input = MemoryStream[ClaimEvent]
    val tagged = StreamingFraud.withRuleTags(input.toDS(), highClaimThreshold = 450000.0)
    val query = StreamingFraud.scoreStream(tagged, model, mlThreshold = thr)
      .writeStream.format("memory").queryName("scored_hermetic")
      .outputMode("append").start()
    try {
      // far outside the training amounts (at most 50 000): one above the
      // rule's threshold, one below it; the rest look like training claims
      input.addData(
        ClaimEvent("Asha", 1L, 500000.0, "LPG", ts("2025-01-15")) +:
        ClaimEvent("Bala", 2L, 400000.0, "Housing", ts("2025-01-15")) +:
        Seq.tabulate(20)(i => ClaimEvent(s"m$i", 10L + i, 1000.0 + 2000.0 * i,
          subsidies(i % 4), ts(start.plusDays(5L * i).toString))): _*)
      query.processAllAvailable()
      val rows = spark.sql("select Name, ReconstructionError, FraudType from scored_hermetic")
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getString(2))).toMap
      assert(rows.size === 22)
      assert(rows.values.forall { case (e, _) => e > 0 && !e.isNaN && !e.isInfinite })
      assert(rows("Asha")._1 > thr && rows("Asha")._2 === "HighClaimAmount;") // rule wins
      assert(rows("Bala")._1 > thr && rows("Bala")._2 === "Suspicious")
      (rows - "Asha").values.foreach { case (e, t) =>
        assert(t === (if (e > thr) "Suspicious" else "Normal"), s"error $e, threshold $thr")
      }
      assert(rows.values.count(_._2 == "Normal") > 0)
    } finally query.stop()
  }

  test("streaming incremental dedup: 2 micro-batches match the batch q71 verdicts") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.col
    import graft.dedup.DedupQueries

    // the batch query's "today's crawl" slice, replayed as a stream
    val batchDocs = graft.ops.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % DedupQueries.IncBatchMod === DedupQueries.IncBatchRem)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(batchDocs.length >= 2, "need at least 2 docs to form 2 micro-batches")
    val (first, second) = batchDocs.splitAt(batchDocs.length / 2)

    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val query = StreamingFraud.incrementalDedupStream(spark, sfDir, docs,
      (verdicts, _) => verdicts.collect().foreach(r =>
        got.add(r.getLong(0) -> r.getString(1))))
    try {
      input.addData(first.toSeq)
      query.processAllAvailable()
      input.addData(second.toSeq)
      query.processAllAvailable()
    } finally query.stop()

    val expect = DedupQueries.incrementalDedup(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    import scala.jdk.CollectionConverters._
    assert(got.size === expect.size, "one verdict per streamed doc")
    assert(got.asScala.toSet === expect)
  }

  test("streaming span decontamination: 2 micro-batches match the batch q128 spans") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.col
    import graft.dedup.DedupQueries

    val batchDocs = graft.ops.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % DedupQueries.IncBatchMod === DedupQueries.IncBatchRem)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(batchDocs.length >= 2, "need at least 2 docs to form 2 micro-batches")
    val (first, second) = batchDocs.splitAt(batchDocs.length / 2)

    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val query = graft.streaming.StreamingFraud.spanDecontamStream(spark, sfDir, docs,
      (spans, _) => spans.collect().foreach(r =>
        got.add((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))))
    try {
      input.addData(first.toSeq)
      query.processAllAvailable()
      input.addData(second.toSeq)
      query.processAllAvailable()
    } finally query.stop()

    // island merge is per-doc and docs never straddle micro-batches,
    // so the union over batches must equal the one-shot batch answer
    val expect = graft.text.Scrub.incrementalSpans(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet === expect)
    assert(got.size === expect.size)
  }

  test("crawl loop with write-back: a doc repeated across micro-batches is new once, dup after") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // the write-back MUTATES the index → private corpus snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft-crawl-loop").toString
    (0L until 20L).map(i => (i, (1 to 12).map(j => s"c${i}_$j").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")

    val freshText  = (1 to 12).map(j => s"n1_$j").mkString(" ")
    val fresh2Text = (1 to 12).map(j => s"n2_$j").mkString(" ")
    val corpusText = (1 to 12).map(j => s"c3_$j").mkString(" ") // already in corpus
    val batch1 = Seq((100L, freshText), (101L, corpusText))
    // 102 repeats batch1's NEW text → dup only via the write-back
    val batch2 = Seq((102L, freshText), (103L, fresh2Text))

    val got = scala.collection.mutable.Map.empty[Long, (Long, String)]
    val input = MemoryStream[(Long, String)]
    val query = StreamingFraud.crawlDedupStream(spark, dir,
      input.toDF().toDF("doc_id", "text"),
      (verdicts, batchId) => verdicts.collect().foreach(r =>
        got(r.getLong(0)) = (batchId, r.getString(1))))
    try {
      input.addData(batch1)
      query.processAllAvailable()
      input.addData(batch2)
      query.processAllAvailable()
    } finally query.stop()

    assert(got(100L)._2 === "new")
    assert(got(101L)._2 === "exact_dup", "text already in the snapshot corpus")
    assert(got(102L)._2 === "exact_dup",
      "batch1's admitted doc must dedup batch2 via the write-back")
    assert(got(103L)._2 === "new")
  }

  test("streaming ANN labeling: 2 micro-batches match the batch q76 verdicts") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.col
    import graft.sim.SimilarityQueries

    // q76's query subset, replayed as a stream of raw embedding rows
    val queryVecs = graft.ops.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 100 === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(queryVecs.length >= 2, "need at least 2 vectors to form 2 micro-batches")
    val (first, second) = queryVecs.splitAt(queryVecs.length / 2)

    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Any, Any, Long)]()
    val input = MemoryStream[(Long, Seq[Double])]
    val vecs = input.toDF().toDF("vec_id", "embedding")
    val query = StreamingFraud.knnLabelStream(spark, sfDir, vecs,
      (verdicts, _) => verdicts.collect().foreach(r =>
        got.add((r.getLong(0), r.get(1), r.get(2), r.getLong(3)))))
    try {
      input.addData(first.toSeq)
      query.processAllAvailable()
      input.addData(second.toSeq)
      query.processAllAvailable()
    } finally query.stop()

    val expect = SimilarityQueries.knnLabelIvfIndexed(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2), r.getLong(3))).toSet
    import scala.jdk.CollectionConverters._
    assert(got.size === expect.size, "one verdict per streamed vector")
    assert(got.asScala.toSet === expect)
  }

  test("streaming CDC merge replay equals batch q152 under an out-of-order 3-batch split (sf0.001)") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // batch truth: the q152 copy-on-write MERGE
    val batch = graft.ops.Maintenance.mergeUpsert(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSet
    // the same records as a CDC feed: base rows at seq 0, the
    // deterministic change-set at seq 1
    val base = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source", "n_chars").collect()
      .map(r => StreamingFraud.CdcChange(0L, r.getLong(0), "I",
        r.getString(1), r.getString(2), r.getLong(3)))
    val off = base.map(_.doc_id).max + 1L
    val changes = base.flatMap { b =>
      b.doc_id % 10 match {
        case 3 => Some(StreamingFraud.CdcChange(1L, b.doc_id, "U", b.lang, "curated", b.n_chars))
        case 7 => Some(StreamingFraud.CdcChange(1L, b.doc_id, "D", null, null, 0L))
        case 5 => Some(StreamingFraud.CdcChange(1L, b.doc_id + off, "I", "xx", "synthetic", b.n_chars + 1L))
        case _ => None
      }
    }
    val input = MemoryStream[StreamingFraud.CdcChange]
    val query = StreamingFraud.cdcMergeStream(input.toDS())
      .writeStream.format("memory").queryName("cdc_merge")
      .outputMode("update").start()
    try {
      // out-of-order split: half the seq-1 changes arrive BEFORE their
      // seq-0 base rows (batch 1), bases land in batch 2, the rest of
      // the changes in batch 3 — last-writer-wins must make the split
      // invisible
      val (early, late) = changes.partition(_.doc_id % 2 == 0)
      input.addData(early.toIndexedSeq)
      query.processAllAvailable()
      input.addData(base.toIndexedSeq)
      query.processAllAvailable()
      input.addData(late.toIndexedSeq)
      query.processAllAvailable()
      val got = spark.sql("select * from cdc_merge").collect()
        .map(r => (r.getLong(0), (r.getString(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5), r.getLong(6))))
        .groupBy(_._1).map { case (id, rows) => id -> rows.map(_._2).maxBy(_._6) }
        .filter(!_._2._5) // drop tombstones
        .map { case (id, (lang, src, nc, seq, _, _)) =>
          (id, lang, src, nc, if (seq >= 1L) 2L else 1L)
        }.toSet
      assert(got === batch)
      assert(got.nonEmpty)
    } finally query.stop()
  }

  test("streaming CDC merge: stale updates never clobber, deletes never resurrect") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingFraud.CdcChange]
    val query = StreamingFraud.cdcMergeStream(input.toDS())
      .writeStream.format("memory").queryName("cdc_ooo")
      .outputMode("update").start()
    try {
      input.addData(
        StreamingFraud.CdcChange(0L, 1L, "I", "en", "web", 10L),
        StreamingFraud.CdcChange(2L, 1L, "U", "en", "curated", 12L),
        StreamingFraud.CdcChange(3L, 2L, "D", null, null, 0L))
      query.processAllAvailable()
      // both arrive LATE: seq 1 < 2 for key 1, seq 2 < 3 for key 2
      input.addData(
        StreamingFraud.CdcChange(1L, 1L, "U", "en", "stale", 11L),
        StreamingFraud.CdcChange(2L, 2L, "U", "de", "resurrect", 9L))
      query.processAllAvailable()
      val got = spark.sql("select * from cdc_ooo").collect()
        .map(r => (r.getLong(0), (r.getString(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5), r.getLong(6))))
        .groupBy(_._1).map { case (id, rows) => id -> rows.map(_._2).maxBy(_._6) }
      assert(got(1L) === (("en", "curated", 12L, 2L, false, 3L)))
      assert(got(2L)._5 === true, s"deleted key resurrected: ${got(2L)}")
    } finally query.stop()
  }

  test("streaming attribution replay equals batch q155 on the real events table (sf0.001)") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val batch = graft.ops.RelationalQueries.intervalAttribution(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val rows = graft.ops.Tables.events(spark, sfDir)
      .select("ts", "user_id", "event_id", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1.getTime)
    val input = MemoryStream[(Timestamp, Long, Long, String)]
    val events = input.toDF().toDF("ts", "user_id", "event_id", "event_type")
    val query = StreamingFraud.attributionStream(events)
      .writeStream.format("memory").queryName("attribution")
      .outputMode("append").start()
    try {
      // two micro-batches split mid-stream: matches can straddle the cut
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1.toIndexedSeq)
      query.processAllAvailable()
      input.addData(h2.toIndexedSeq)
      query.processAllAvailable()
      val got = spark.sql("select view_id, purchase_id, user_id, wait_ms from attribution")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === batch)
      assert(got.nonEmpty)
    } finally query.stop()
  }

  test("streaming IVF append: 2 micro-batch splits equal one batch append, lists and search") {
    val spark = SparkSpec.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.sim.SimilarityQueries

    // deterministic 64-dim base corpus; the write-back MUTATES the
    // index, so each leg gets its own private snapshot
    def vec(i: Long): Seq[Float] =
      (0 until 64).map(j => ((i * 31 + j * 7) % 97).toFloat / 97f)
    def writeCorpus(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-ivf-stream").toString
      (0L until 100L).map(i => (i, vec(i), (i % 3).toInt))
        .toDF("vec_id", "embedding", "label")
        .write.parquet(s"$dir/embeddings.parquet")
      dir
    }
    val newVecs = (1000L until 1020L).map(i => (i, vec(i * 13 + 5), (i % 3).toInt))
    val (first, second) = newVecs.splitAt(7)

    // leg A: the stream, two arbitrary micro-batch splits
    val dirA = writeCorpus()
    val sunk = new java.util.concurrent.atomic.AtomicLong(0)
    val input = MemoryStream[(Long, Seq[Float], Int)]
    val query = StreamingFraud.ivfAppendStream(spark, dirA,
      input.toDF().toDF("vec_id", "embedding", "label"),
      (hits, _) => sunk.addAndGet(hits.count()))
    try {
      input.addData(first)
      query.processAllAvailable()
      input.addData(second)
      query.processAllAvailable()
    } finally query.stop()
    assert(sunk.get() > 0, "search-as-you-insert readback produced no rows")

    // leg B: the same vectors appended in ONE batch call
    val dirB = writeCorpus()
    SimilarityQueries.ivfIndex(spark, dirB)
    SimilarityQueries.appendToIvfIndex(spark, dirB,
      newVecs.toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("e")))

    def lists(dir: String) = {
      val (_, listTbl) = SimilarityQueries.ivfIndex(spark, dir)
      spark.table(listTbl).select("cent_id", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(lists(dirA) === lists(dirB))

    // probe-all search parity over the grown indexes
    val queries = newVecs.take(4).toDF("vec_id", "embedding", "label")
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qe"))
    def hits(dir: String) =
      SimilarityQueries.ivfProbeIndexed(spark, dir, queries, 5, Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Number](2).longValue())).toSet
    assert(hits(dirA) === hits(dirB))
  }
}
