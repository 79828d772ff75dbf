package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (Spark startup dominates
  * test wall-clock; suites must not call spark.stop()).
  *
  * It keeps Spark's streaming defaults on purpose, unlike
  * `graft.Sessions.local`: no-data micro-batches stay on and two state
  * versions stay in memory, so the streaming twins' specs pin the
  * behaviour a caller gets from a plain session. A spec that needs
  * another streaming setting scopes it to one query (set it, `start()`,
  * restore it), since every suite shares this session. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // mirror Sessions.local: NTZ-written events.ts must read as
      // TimestampType (identical instants under UTC) — see Tables.events
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
