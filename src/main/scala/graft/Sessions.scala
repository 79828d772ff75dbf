package graft

import org.apache.spark.sql.SparkSession

/** The one local-session builder every main shares: local[$SPARK_GRAFT_CPUS],
  * shuffle partitions = cores, UTC, UI off, nanos-as-long for the events
  * table. `extra` adds per-tool configs (warehouse dir, join thresholds).
  *
  * The default width is the MACHINE's core count (the deployment
  * target is local[32] with shuffle partitions 32), overridable via
  * SPARK_GRAFT_CPUS. It was a hardcoded "4" through r17 — which is the
  * r14→r17 "pair-family creep" the round verdicts chased: benches run
  * from a shell that exported SPARK_GRAFT_CPUS=32 (r14) measured
  * CPU-bound queries ~3.4× faster than benches that didn't (r15–r17),
  * with code, data and output bit-identical (q166 at sf1: 25.0 s at
  * width 32 vs 85.7 s at width 4, measured back-to-back on an idle
  * machine, r18). Deriving the default from the machine removes the
  * env-dependent measurement mode entirely.
  *
  * Two streaming settings make one arrival cost one micro-batch:
  *  - `noDataMicroBatches.enabled=false`: no trailing batch without data
  *    after each data batch. That batch only advances the watermark; on
  *    the fraud twins it emits nothing and cost about a third of a
  *    5×10⁴-row batch. State expiry moves to the next data batch, which
  *    also times keys out. For an Append-mode twin that emits on the
  *    watermark (a closed session or window, a ripe as-of row), the row
  *    comes out with the next data batch instead of right after the
  *    batch that closed it.
  *  - `maxBatchesToRetainInMemory=1`: the state store keeps one version
  *    in memory, not two, so the previous batch's state map is released
  *    when a batch commits. Only a retried batch reloads its state from
  *    the checkpoint's delta files.
  * Batch queries read neither. A streaming query reads them from the
  * session clone it takes in `start()`, so a caller that needs the
  * trailing batch passes `extra = Map(
  * "spark.sql.streaming.noDataMicroBatches.enabled" -> "true")`. */
object Sessions {
  def local(defaultCpus: String =
              String.valueOf(Runtime.getRuntime.availableProcessors),
            extra: Map[String, String] = Map.empty): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The driver's events.parquet writer has shipped ts as nanos-as-long
      // AND as Timestamp(isAdjustedToUTC=false): without this, the latter
      // reads as TIMESTAMP_NTZ and unix_millis/unix_micros fail analysis
      // (r11 broke q27/q32/q92 this way). Session TZ is UTC, so reading
      // NTZ micros as TimestampType yields identical instants.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // registers graft's custom planner strategies (native as-of join)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // ObjectHashAggregate (typed Aggregators like TopKAggregator,
      // collect_list/collect_set) falls back to SORT-BASED aggregation
      // once a task sees more than this many distinct keys — default
      // 128. The r19 sf3 ANN record caught the cliff this causes for
      // the bounded top-k family: cosineTopK's per-qid TopKByScore
      // holds ≤ k rows per key, but with |Q| > 128 qids per task the
      // fallback sorts the ENTIRE |Q|·N scored stream (evaluating the
      // BigDecimal-backed round(cos,6) into the sorter) and spills —
      // one task was observed merging spill files for minutes at sf3
      // while 31 cores idled. 8192 keeps every eval-family aggregate
      // on the hash path at any replayed SF (|Q| = 1500 at sf3, 5000
      // at sf10) while bounding the worst unbounded-buffer case (doc-
      // grain collect_list at ~5 KB/key) to ~40 MB per task. At 100 TB
      // the eval set is pinned (q265's argument) so |Q| stays well
      // under this; a deployment that exceeds it degrades to exactly
      // today's sort-based behavior, never OOM.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "8192")
      // Shuffle/spill block codec (guide §2.3). Parameterised for the
      // A/B the r19 verdict queued: lz4 stays the default — the r20
      // sf1 A/B measured zstd at no net win on this engine's shuffle
      // volumes (see OPTIMIZATION_r20.md §codec) — and a deployment
      // with 100 TB shuffles re-measures with its own data via the env.
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"))
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.sql.streaming.maxBatchesToRetainInMemory", "1")
    val s = extra.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
