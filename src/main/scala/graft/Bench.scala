package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Per-round benchmark: times every registered query at the env-selected
  * scale factor and emits ONE machine-readable JSON line — to stdout AND
  * to a file (sbt log noise made the stdout line unparseable in r1).
  *
  * Each query is forced to FULL materialization by hashing every output
  * column into one aggregate (`count()` lets Catalyst prune deterministic
  * projections, under-measuring per-row compute — VERDICT r1 §wrong-5).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // one row out, every column computed: xor-fold of per-row hashes
    // (bit_xor, not sum — ANSI mode makes a sum of hashes overflow)
    def materialize(df: org.apache.spark.sql.DataFrame): Unit = {
      df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
        .agg(bit_xor(col("h"))).head()
      // queries may persist small intermediates (e.g. candidate pair
      // sets); drop them so residue never accumulates across the run
      spark.catalog.clearCache()
    }
    // optional comma-separated name filter for targeted timing runs
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None        => SparkEntry.queries
    }
    // Untimed warmup: runs every SELECTED query shape once at a smaller
    // SF so JIT + codegen + file-index costs don't land on the first
    // timed queries (q01 carried ~3.5 s of session warmup in r1/r2
    // numbers). Warmup tier is sf0.01, NOT sf0.001: the r4 bench showed
    // 6-19s of C2/janino warmup landing on whichever query first
    // exercised a hot UDF path at scale (q31 "14x regression", q19
    // 20.9 s first / 5.5 s warm — same plan), and sf0.001's 10x-smaller
    // row counts neither trigger C2 compilation nor AQE's at-scale join
    // choices. Measured: with sf0.01 warmup q21/q31 both time ~1.1 s;
    // with sf0.001 warmup whichever runs first costs 6.6 s. Timed
    // results below still include each query's own full execution.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", {
      val p = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01")
      if (p.isDirectory && p.getPath != sfDir)
        p.getPath
      else new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001").getPath
    })
    if (new java.io.File(warmDir).isDirectory) {
      selected.foreach { case (_, fn) =>
        try materialize(fn(spark, warmDir)) catch { case _: Throwable => () }
      }
    }
    // One-time index-build cost, timed SEPARATELY from the probes:
    // q75/q78 exist to amortize the build across nightly runs, so their
    // per-query numbers must reflect the probe alone (VERDICT r7 item
    // 8). Each timed index's existing files and catalog tables for this
    // snapshot are removed first so the build is genuinely timed — the
    // builds then leave catalog entries behind, making the timed
    // q75/q78 runs pure probes. BENCH.json carries the split as
    // "index_build", one key per spec that names one.
    // SPARK_GRAFT_BENCH_SKIP_INDEX=1 skips the fresh index builds —
    // for BENCH_ONLY subset probes of queries that touch no durable
    // index (an index-needing query selected under the flag still
    // works: DurableIndex build-once fires inside its timing).
    val skipIndex = sys.env.get("SPARK_GRAFT_BENCH_SKIP_INDEX").contains("1")
    val indexBuilds =
      if (skipIndex) Seq.empty[(String, Double)]
      else SparkEntry.durableIndexes.flatMap { spec =>
        spec.benchKey.map(_ -> graft.ops.DurableIndex.rebuild(spark, sfDir, spec))
      }
    // 1-minute loadavg, sampled per query as well as before/after the
    // run: a loaded machine inflates full-run times up to 10x per query
    // (VERDICT r6 — every apparent r6 "regression" was load noise), so
    // the artifact must carry the evidence needed to tell plan changes
    // from machine noise QUERY BY QUERY (VERDICT r9 item 4).
    def loadavg(): Double =
      try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    def time(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): (String, Double, Boolean, Double) = {
      val t0 = System.nanoTime()
      val ok =
        try { materialize(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      (name, (System.nanoTime() - t0) / 1e9, ok, loadavg())
    }
    val loadStart = loadavg()
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) => time(name, fn) }
    val loadEnd = loadavg()
    // Isolated re-timing: the full sequential run accumulates heap/GC
    // pressure (PERF_NOTES: 1-2 s/query) and is exposed to machine load,
    // which makes round-over-round regressions hard to attribute (plan
    // change vs methodology). Re-time after a cache drop + forced GC so
    // BENCH.json carries BOTH numbers. Selection (VERDICT r9 item 4 —
    // the hand-picked cuts kept missing outliers): top-5, plus every
    // query over 3 s full-run (r6: q53 10.6 s loaded / 0.67 s isolated),
    // plus every query over max(0.5 s, 2x the run median) — the r8 q68
    // shape (1.35 s in-run / 0.67 s isolated) sits below the 3 s bar
    // but 2x-median flags it. Any query whose in-run time is ≥2x its
    // isolated time is, by construction of the threshold, in this set
    // unless both numbers are sub-noise (<0.5 s). Skipped for targeted
    // BENCH_ONLY runs — those are already isolated.
    val isolated =
      if (only.isDefined) Seq.empty
      else {
        val ok = results.filter(_._3)
        val med = {
          val ts = ok.map(_._2).sorted
          if (ts.isEmpty) 0.0 else ts(ts.size / 2)
        }
        val outlierBar = math.max(0.5, 2.0 * med)
        val names = (ok.sortBy(-_._2).take(5) ++ ok.filter(_._2 > 3.0) ++
          ok.filter(_._2 > outlierBar))
          .map(_._1).distinct
        names.map { name =>
          spark.catalog.clearCache()
          System.gc()
          time(name, SparkEntry.queries(name))
        }
      }
    // 3-decimal times / 2-decimal loads: sub-ms digits are noise and the
    // driver's stdout capture keeps only a ~2 KB tail (ADVICE r10 — the
    // full-precision r10 line outgrew it and the round record was lost)
    def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def r2(v: Double): String = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    def toJson(rs: Seq[(String, Double, Boolean, Double)]): String =
      rs.map { case (k, v, _, _) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val qs = toJson(results)
    val loads = results
      .map { case (k, _, _, l) => "\"" + k + "\":" + r2(l) }.mkString("{", ",", "}")
    // A query that throws must not read as a speedup: its time is excluded
    // from `total` and its name lands in `errors` (empty on a clean run).
    val total = results.collect { case (_, v, true, _) => v }.sum
    val errs = results.collect { case (k, _, false, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val builds = indexBuilds
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // Round-over-round comparison fields (VERDICT r8 item 7): the query
    // count, and the total with each isolated re-timing substituted for
    // its loaded full-run time — the load-adjusted number a judge can
    // diff across rounds without tail-parsing per-query maps.
    val isoMap = isolated.collect { case (k, v, true, _) => k -> v }.toMap
    val totalAdj = results.collect { case (k, v, true, _) => isoMap.getOrElse(k, v) }.sum
    // n_timed counts only queries whose time entered `total`: an erroring
    // round must not masquerade as a speedup when diffed against a clean
    // one (VERDICT r11 item 7 — r11's 131-query total wore n_queries=134).
    val nTimed = results.count(_._3)
    val json =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"n_timed":$nTimed,"total_isolated_adjusted":${r3(totalAdj)},"queries":$qs,"queries_isolated":${toJson(isolated)},"loadavg_per_query":$loads,"index_build":$builds,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"errors":$errs,"sf":"$sfDir"}"""
    Files.writeString(
      Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")), json)
    // Tracked twin of the gitignored BENCH.json: the driver snapshots only
    // a ~2 KB stdout tail per round, so the full per-query record must
    // live in a committable file (ADVICE r10 medium). Committed at the
    // start of the NEXT round, preserving each round's complete bench.
    Files.writeString(Paths.get("BENCH_FULL.json"), json)
    println(json)
    // Compact summary printed LAST so the driver's fixed-size tail always
    // ends with one complete, parseable JSON object: headline totals, the
    // slowest in-run queries, and the isolated re-timings for them. Sized
    // to stay under ~1.5 KB even with sbt's [success] trailer behind it.
    val isoByName = isolated.map { case (k, v, _, _) => k -> v }.toMap
    val slow = results.filter(_._3).sortBy(-_._2).take(10)
    val slowJson = slow
      .map { case (k, v, _, _) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val slowIsoJson = slow.collect { case (k, _, _, _) if isoByName.contains(k) =>
      "\"" + k + "\":" + r3(isoByName(k)) }.mkString("{", ",", "}")
    val summary =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"n_timed":$nTimed,"total_isolated_adjusted":${r3(totalAdj)},"queries_top":$slowJson,"queries_top_isolated":$slowIsoJson,"index_build":$builds,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"errors":$errs,"sf":"$sfDir","full":"BENCH_FULL.json"}"""
    println(summary)
    spark.stop()
  }
}
