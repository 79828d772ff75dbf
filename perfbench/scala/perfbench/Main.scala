package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import com.sun.management.GarbageCollectionNotificationInfo

import graft.Sessions
import graft.fraud.{Claims, FeaturePipeline, FraudModel, FraudPipeline, RuleEngine}
import graft.ml.MLP
import graft.streaming.StreamingFraud
import graft.streaming.StreamingFraud.ClaimEvent

/** Runs one benchmark workload in its own JVM and writes `result.json`
  * into the output directory: the set-up end time, every timed op in
  * order (duration, rows written or received, failure cause), CPU and
  * heap readings, the fitted model, and — when traced — per-layer
  * figures. The Python side (run.py) checks the outputs and derives the
  * metrics.
  *
  * Usage: Main <workload> <inputDir> <outputDir> <seconds> <trace 0|1>
  *
  * Every layer is reached through the program's public functions; the
  * traced run adds Spark listeners and times each layer on a cached copy
  * of its input after the timed ops, so the untraced run carries no
  * tracing cost.
  */
object Main {

  final class Op(val input: String) {
    var ms = 0.0
    var rows = 0L
    var cause: String = ""
    var digest: String = ""
    var startMs = 0.0
    var jitMs = 0.0
    var allocMb = 0.0
    var codegen = 0L
  }

  // untimed warm-up ops before the first timed op, timed rounds, and the stream's batch size
  private val UploadWarmOps = 18
  private val WarmThreads = 3
  private val BulkWarmOps = 5
  private val StreamWarmBatches = 4
  private val StreamBatchRows = 50000
  private val RegistryWarmPasses = 9
  private val RegistryRoundPasses = 10

  private val result = mutable.LinkedHashMap[String, Any]()
  private val layers = mutable.LinkedHashMap[String, Double]()
  /** Set-up steps and the JVM uptime (s) at which each ended, for the report. */
  private val setupMarks = mutable.LinkedHashMap[String, Any]()
  private def mark(step: String): Unit =
    setupMarks(step) = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jitBean = ManagementFactory.getCompilationMXBean
  private val threadBean = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** Highest heap in use after a collection that ended while `watchHeap`. */
  @volatile private var peakHeapBytes = 0L
  @volatile private var watchHeap = false
  @volatile private var timedGcs = 0
  private val heapAfterGcs = ArrayBuffer[Double]()
  private var opCpuNs = 0L
  private var liveHeapMb = 0.0
  /** Keeps the forward-pass probe's results live, so none is optimized away. */
  @volatile private var blackhole = 0.0

  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, outDir, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    watchCollections()

    val t = System.nanoTime()
    val spark = Sessions.local()
    layers("session.start_ms") = (System.nanoTime() - t) / 1e6
    mark("session")
    val tracer = if (trace) Some(new Tracer(spark)) else None

    val ops = workload match {
      case "fraud_upload"  => fraudUpload(spark, inDir, outDir, seconds, tracer)
      case "fraud_bulk"    => fraudBulk(spark, inDir, outDir, seconds, tracer)
      case "fraud_stream"  => fraudStream(spark, inDir, outDir, seconds, tracer)
      case "registry_core" => registryCore(spark, inDir, outDir, seconds, tracer)
      case other => sys.error(s"unknown workload $other")
    }

    result("ops") = ops.map { o =>
      mutable.LinkedHashMap[String, Any]("input" -> o.input, "ms" -> o.ms, "rows" -> o.rows,
        "cause" -> o.cause, "digest" -> o.digest, "start_ms" -> o.startMs,
        "jit_ms" -> o.jitMs, "codegen" -> o.codegen, "alloc_mb" -> o.allocMb)
    }.toSeq
    result("op_cpu_s") = opCpuNs / 1e9
    result("peak_heap_mb") = peakHeapBytes / 1048576.0
    result("live_heap_mb") = liveHeapMb
    result("timed_gcs") = timedGcs
    result("timed_gc_heap_after_mb") = heapAfterGcs.synchronized(heapAfterGcs.toSeq)
    result("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    result("cores") = spark.sparkContext.defaultParallelism
    if (trace) result("layers") = layers
    result("end_epoch_ms") = System.currentTimeMillis().toDouble
    Files.writeString(Paths.get(outDir, "result.json"), Json.render(result))
    spark.stop()
  }

  // ---------------------------------------------------------------- timing

  /** Listens for the end of every collection and, during the timed ops,
    * keeps the highest heap in use right after one. */
  private def watchCollections(): Unit = {
    val listener = new NotificationListener {
      override def handleNotification(n: Notification, handback: Any): Unit =
        if (watchHeap && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          timedGcs += 1
          heapAfterGcs.synchronized(heapAfterGcs += after / 1048576.0)
          peakHeapBytes = math.max(peakHeapBytes, after)
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Times ops in whole rounds of `roundSize` until `seconds` have passed
    * (or `maxOps` ran out); a round is the same ops in every run, so the
    * failed share and the ops behind each median do not depend on timing.
    * The set-up end is stamped before the first; `after` runs untimed
    * after each op (output scans, clean-up). The heap peak covers the
    * first `heapOps` ops only, the same work in every run, so that a
    * faster program fitting more ops does not read higher. */
  private def timedLoop(seconds: Double, roundSize: Int, maxOps: Int, heapOps: Int,
                        after: (Int, Op) => Unit = (_, _) => ())(op: Int => Op): ArrayBuffer[Op] = {
    val ops = ArrayBuffer[Op]()
    mark("warm_up")
    peakHeapBytes = 0L
    result("setup_end_epoch_ms") = System.currentTimeMillis().toDouble
    result("setup_marks") = setupMarks
    watchHeap = true
    val start = System.nanoTime()
    var i = 0
    while (i < maxOps && (i % roundSize != 0 || (System.nanoTime() - start) / 1e9 < seconds)) {
      val c0 = osBean.getProcessCpuTime
      val j0 = jitBean.getTotalCompilationTime
      val g0 = ListenerDrain.codegenCompiles
      val a0 = threadBean.getTotalThreadAllocatedBytes
      val t0 = System.nanoTime()
      val o = op(i)
      val t1 = System.nanoTime()
      opCpuNs += osBean.getProcessCpuTime - c0
      o.ms = (t1 - t0) / 1e6
      o.jitMs = (jitBean.getTotalCompilationTime - j0).toDouble
      o.codegen = ListenerDrain.codegenCompiles - g0
      o.allocMb = (threadBean.getTotalThreadAllocatedBytes - a0) / 1048576.0
      o.startMs = (t0 - start) / 1e6
      ops += o
      after(i, o)
      i += 1
      if (i == heapOps) watchHeap = false
    }
    watchHeap = false
    // what the program still holds once the timed ops are done; the pause
    // between two full collections lets Spark's context cleaner release the
    // broadcasts and shuffles the first one found unreachable
    System.gc()
    Thread.sleep(500)
    System.gc()
    liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    ops
  }

  /** Runs `n` untimed warm-up ops on `WarmThreads` threads at once: the
    * JIT sees the op's code paths about twice as often per second of
    * set-up as in a serial warm-up, so the timed ops start nearer to
    * compiled code. */
  private def warmUp(n: Int)(op: Int => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmThreads)
    try (0 until n).map(i => pool.submit(new Runnable { def run(): Unit = op(i) })).foreach(_.get())
    finally pool.shutdownNow()
  }

  private def guarded(o: Op)(body: => Unit): Op = {
    try body catch {
      case e: Throwable =>
        o.cause = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
          .linesIterator.nextOption().getOrElse("").take(300)
    }
    o
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median wall time of `reps` runs of `body`, in ms. */
  private def probe(reps: Int)(body: => Unit): Double =
    median((1 to reps).map { _ => val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e6 })

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // ------------------------------------------------------------ fraud setup

  private def csvFiles(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".csv")).map(_.getPath).sorted

  /** Rows and an order-free digest of the CSV part files an op wrote. */
  private def scanOutput(dir: String): (Long, String) = {
    var rows = 0L
    var digest = 0L
    csvFiles(dir).foreach { f =>
      val it = Files.lines(Paths.get(f), StandardCharsets.UTF_8).iterator().asScala
      if (it.hasNext) it.next() // header
      it.foreach { line =>
        rows += 1
        val h = scala.util.hashing.MurmurHash3.stringHash(line, 0x3c6ef372).toLong << 32 |
          (scala.util.hashing.MurmurHash3.stringHash(line, 0x1b873593).toLong & 0xffffffffL)
        digest += h
      }
    }
    (rows, java.lang.Long.toHexString(digest))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))

  /** Fits the model once, as the app does before serving uploads. */
  private def fitModel(spark: SparkSession, inDir: String): (DataFrame, FraudModel) = {
    val train = Claims.readCsv(spark, s"$inDir/train.csv", withLabel = true)
    val t = System.nanoTime()
    val model = FraudPipeline.train(spark, train)
    layers("train_ms") = (System.nanoTime() - t) / 1e6
    mark("model")
    val p = model.params
    result("model") = mutable.LinkedHashMap[String, Any](
      "dims" -> model.net.dims.toSeq.map(_.toDouble),
      "flat" -> MLP.toFlat(model.net).toSeq,
      "categories" -> p.categories,
      "amount_mean" -> p.amountMean, "amount_std" -> p.amountStd,
      "days_mean" -> p.daysMean, "days_std" -> p.daysStd,
      "train_origin" -> p.trainDateOrigin.toString)
    (train, model)
  }

  /** Per-layer probes on cached copies of one claims input (traced runs). */
  private def fraudLayers(spark: SparkSession, claimsPath: String, train: DataFrame,
                          model: FraudModel, outDir: String, singleFile: Boolean): Unit = {
    layers("claims.read_ms") = probe(3)(noop(Claims.readCsv(spark, claimsPath, withLabel = true)))
    val claims = RuleEngine.withRowId(Claims.readCsv(spark, claimsPath, withLabel = true)).cache()
    layers("claims.rows_in") = claims.count().toDouble
    layers("claims.null_key_rows") = claims.filter(col("Aadhaar").isNull).count().toDouble
    layers("rules.p99_ms") = probe(3)(RuleEngine.p99Amount(claims))
    layers("rules.window_ms") = probe(3)(noop(RuleEngine.withRuleTags(claims)))
    val ruled = RuleEngine.withRuleTags(claims).cache()
    val tagCounts = ruled.groupBy("RuleFraud").count().collect()
    Seq("DuplicateAadhaar", "MultiAadhaar", "HighClaimAmount", "FrequentClaims").foreach { r =>
      layers(s"rules.fired.$r") =
        tagCounts.filter(_.getString(0).contains(r + ";")).map(_.getLong(1)).sum.toDouble
    }
    layers("features.fit_ms") = probe(3)(FeaturePipeline.fit(train))
    layers("features.origin_ms") = probe(3)(FeaturePipeline.dateOrigin(ruled))
    layers("features.transform_ms") = probe(3)(noop(FeaturePipeline.transform(ruled, model.params)))
    val feat = FeaturePipeline.transform(ruled, model.params).cache()
    feat.count()
    layers("ae.score_ms") = probe(3)(noop(FraudPipeline.withReconstructionError(spark, feat, model.net)))
    val rows = feat.select("features").limit(20000).collect().map(_.getSeq[Double](0).toArray)
    layers("ae.forward_ns_per_row") = probe(5) {
      rows.foreach(r => blackhole += model.net.reconstructionError(r))
    } * 1e6 / rows.length
    val scored = FraudPipeline.score(spark, claims, model, preserveInputOrder = singleFile).cache()
    scored.count()
    layers("claims.write_ms") = probe(3)(Claims.writeCsv(scored, s"$outDir/layer_write", singleFile))
    deleteTree(Paths.get(s"$outDir/layer_write"))
    Seq(scored, feat, ruled, claims).foreach(_.unpersist())
  }

  // -------------------------------------------------------------- workloads

  /** One client uploading distinct ~10^4-row CSVs, each scored in
    * golden-parity mode and written as one CSV (the app's upload path).
    * A round is 12 distinct normal uploads and each of the two fixed
    * fault uploads twice. */
  def fraudUpload(spark: SparkSession, inDir: String, outDir: String, seconds: Double,
                  tracer: Option[Tracer]): ArrayBuffer[Op] = {
    val (train, model) = fitModel(spark, inDir)
    val uploads = csvFiles(s"$inDir/uploads")
    val round = Seq.fill(2)(Seq.fill(3)("") ++ Seq(s"$inDir/faults/header_only.csv") ++
      Seq.fill(3)("") ++ Seq(s"$inDir/faults/malformed_aadhaar.csv")).flatten
    def score(path: String, dest: String): Unit = {
      val scored = FraudPipeline.score(spark, Claims.readCsv(spark, path, withLabel = true), model)
      Claims.writeCsv(scored, dest)
    }
    val warm = csvFiles(s"$inDir/warm")
    warmUp(UploadWarmOps)(i => score(warm(i % warm.size), s"$outDir/warm/w$i"))
    deleteTree(Paths.get(s"$outDir/warm"))
    var normal = 0
    def scan(i: Int, o: Op): Unit = {
      val (rows, digest) = scanOutput(f"$outDir/ops/op$i%04d")
      o.rows = rows; o.digest = digest
    }
    val ops = timedLoop(seconds, round.size, Int.MaxValue, round.size, scan) { i =>
      val path = round(i % round.size) match {
        case "" => val p = uploads(normal % uploads.size); normal += 1; p
        case p  => p
      }
      tracer.foreach(_.begin())
      val o = guarded(new Op(path))(score(path, f"$outDir/ops/op$i%04d"))
      tracer.foreach(_.end())
      o
    }
    tracer.foreach { tr =>
      tr.report(layers, ops.count(_.cause.isEmpty))
      fraudLayers(spark, uploads.head, train, model, outDir, singleFile = true)
    }
    ops
  }

  /** One large file scored repeatedly at scale settings: no order
    * restore, partitioned write. Only the last op's output is kept; every
    * op's output digest is recorded. */
  def fraudBulk(spark: SparkSession, inDir: String, outDir: String, seconds: Double,
                tracer: Option[Tracer]): ArrayBuffer[Op] = {
    val (train, model) = fitModel(spark, inDir)
    val path = s"$inDir/bulk.csv"
    def score(dest: String): Unit = {
      val scored = FraudPipeline.score(spark, Claims.readCsv(spark, path, withLabel = true), model,
        preserveInputOrder = false)
      Claims.writeCsv(scored, dest, singleFile = false)
    }
    (0 until BulkWarmOps).foreach(_ => score(s"$outDir/warm"))
    deleteTree(Paths.get(s"$outDir/warm"))
    def dest(i: Int): String = f"$outDir/ops/op$i%04d"
    def scan(i: Int, o: Op): Unit = {
      val (rows, digest) = scanOutput(dest(i))
      o.rows = rows; o.digest = digest
      if (i > 0) deleteTree(Paths.get(dest(i - 1)))
    }
    val ops = timedLoop(seconds, 1, Int.MaxValue, 2, scan) { i =>
      tracer.foreach(_.begin())
      val o = guarded(new Op(path))(score(dest(i)))
      tracer.foreach(_.end())
      o
    }
    tracer.foreach { tr =>
      tr.report(layers, ops.size)
      fraudLayers(spark, path, train, model, outDir, singleFile = false)
    }
    ops
  }

  /** The bulk claims in date order as fixed-size micro-batches through the
    * keyed-state rule twin and the stream scorer. The sink aggregates each
    * batch once: its row count, the count of rows left Normal although
    * their error is above the threshold, and every non-Normal row. */
  def fraudStream(spark: SparkSession, inDir: String, outDir: String, seconds: Double,
                  tracer: Option[Tracer]): ArrayBuffer[Op] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (train, model) = fitModel(spark, inDir)
    val highThr = RuleEngine.p99Amount(train)
    val e = FraudPipeline.withReconstructionError(spark,
      FeaturePipeline.transform(train, model.params, fixedOrigin = Some(model.params.trainDateOrigin)),
      model.net).agg(avg("ReconstructionError"), stddev_pop("ReconstructionError")).head()
    val mlThr = e.getDouble(0) + 2.0 * e.getDouble(1)
    result("high_threshold") = highThr
    result("ml_threshold") = mlThr
    val events = Claims.readCsv(spark, s"$inDir/stream.csv", withLabel = true).collect().map { r =>
      ClaimEvent(r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3),
        new Timestamp(r.getDate(4).getTime))
    }
    val batches = events.grouped(StreamBatchRows).toArray
    mark("events")
    val warmOps = math.min(StreamWarmBatches, batches.length)

    val sinkRows = new java.util.concurrent.atomic.AtomicLong()
    val flagged = ArrayBuffer[Row]()
    var normalAbove = 0L
    val input = MemoryStream[ClaimEvent]
    val scored = StreamingFraud.scoreStream(StreamingFraud.withRuleTags(input.toDS(), highThr), model, mlThr)
    val query = scored.writeStream
      .option("checkpointLocation", s"$outDir/checkpoint")
      .foreachBatch { (df: DataFrame, _: Long) =>
        val r = df.agg(count(lit(1)),
          sum(when(col("FraudType") === "Normal" && col("ReconstructionError") > lit(mlThr), 1)
            .otherwise(0)),
          collect_list(when(col("FraudType") =!= "Normal",
            struct(col("Name"), col("Aadhaar"), col("Date"), col("ClaimAmount"),
              col("SubsidyType"), col("ReconstructionError"), col("FraudType"))))).head()
        sinkRows.addAndGet(r.getLong(0))
        if (!r.isNullAt(1)) normalAbove += r.getLong(1)
        flagged ++= r.getSeq[Row](2)
        ()
      }.start()
    try {
      (0 until warmOps).foreach { i =>
        input.addData(batches(i).toSeq)
        query.processAllAvailable()
      }
      flagged.clear(); normalAbove = 0L
      result("stream_first_timed_batch") = warmOps
      result("stream_batch_rows") = StreamBatchRows
      // one round is every batch left after the warm-up
      val ops = timedLoop(seconds, batches.length - warmOps, batches.length - warmOps, 4) { i =>
        val b = batches(warmOps + i)
        tracer.foreach(_.begin())
        val before = sinkRows.get()
        val o = guarded(new Op(s"batch${warmOps + i}")) {
          input.addData(b.toSeq)
          query.processAllAvailable()
        }
        tracer.foreach(_.end())
        o.rows = sinkRows.get() - before
        o
      }
      result("stream_normal_above_threshold") = normalAbove.toDouble
      result("stream_flagged") = flagged.toSeq.map { r =>
        Seq[Any](r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4),
          r.getDouble(5), r.getString(6))
      }
      tracer.foreach { tr =>
        tr.report(layers, ops.size)
        tr.reportStream(layers, ops.size)
        // the probes read one micro-batch's worth of the claims: header plus its rows
        val batchCsv = Paths.get(outDir, "layer_batch.csv")
        val lines = Files.lines(Paths.get(inDir, "stream.csv"))
        try Files.write(batchCsv, lines.limit(StreamBatchRows + 1L).iterator().asScala.toSeq.asJava)
        finally lines.close()
        fraudLayers(spark, batchCsv.toString, train, model, outDir, singleFile = false)
      }
      ops
    } finally query.stop()
  }

  /** A fixed slice of the query registry over generated tables, each
    * query fully materialized (as graft.Bench does); one op is one pass.
    * `queries.txt` names each query and the generated table it reads; a
    * pass counts that table's rows, so rows/s does not depend on how many
    * rows a seed's data makes a query return. */
  def registryCore(spark: SparkSession, inDir: String, outDir: String, seconds: Double,
                   tracer: Option[Tracer]): ArrayBuffer[Op] = {
    val slice = Files.readAllLines(Paths.get(inDir, "queries.txt")).asScala.map(_.trim)
      .filter(_.nonEmpty).map(_.split("\\s+")).map { case Array(q, table) => q -> table }.toSeq
    val names = slice.map(_._1)
    val dataDir = s"$inDir/tables"
    val fns = names.map(n => n -> graft.SparkEntry.queries(n))
    val rowsPerPass = slice.map { case (_, table) => spark.read.parquet(s"$dataDir/$table.parquet").count() }.sum
    def materialize(df: DataFrame, clearCache: Boolean = true): Long = {
      val r = df.select(xxhash64(struct(df.columns.map(col): _*)).as("h")).agg(bit_xor(col("h"))).head()
      if (clearCache) spark.catalog.clearCache()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val perQuery = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
    val hashes = mutable.LinkedHashMap[String, mutable.Set[Long]]()
    val shuffle = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
    // q221 probes an ORC copy of documents kept through ops.DurableIndex;
    // calling the query builds it, so build it once here, timed, and the
    // passes measure probes only (as graft.Bench does)
    if (names.contains("q221_orc_roundtrip")) {
      val t = System.nanoTime()
      graft.ops.Formats.orcRoundTrip(spark, dataDir)
      layers("index.orc_docs_build_ms") = (System.nanoTime() - t) / 1e6
    }
    mark("indexes")
    // concurrent passes must not drop each other's cached data: clear once after
    warmUp(RegistryWarmPasses)(_ => fns.foreach { case (_, f) => materialize(f(spark, dataDir), clearCache = false) })
    spark.catalog.clearCache()
    val ops = timedLoop(seconds, RegistryRoundPasses, Int.MaxValue, 3) { i =>
      val o = new Op(s"pass$i")
      guarded(o) {
        fns.foreach { case (n, f) =>
          tracer.foreach(_.begin())
          val t = System.nanoTime()
          val h = materialize(f(spark, dataDir))
          perQuery.getOrElseUpdate(n, ArrayBuffer()) += (System.nanoTime() - t) / 1e6
          tracer.foreach { tr =>
            tr.end()
            shuffle.getOrElseUpdate(n, ArrayBuffer()) += tr.lastShuffleWriteBytes / 1048576.0
          }
          hashes.getOrElseUpdate(n, mutable.Set()) += h
        }
        o.rows = rowsPerPass
      }
    }
    result("query_hashes") = hashes.map { case (n, hs) => n -> hs.toSeq.map(_.toString) }
    // one untimed copy of every output, for the oracle comparison
    fns.foreach { case (n, f) =>
      f(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/registry/$n")
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      Json.render(mutable.LinkedHashMap[String, Any](names.map(n => n -> graft.SparkEntry.oracleSql(n)): _*)))
    tracer.foreach { tr =>
      tr.report(layers, ops.size * names.size)
      perQuery.foreach { case (n, xs) => layers(s"registry.${n.takeWhile(_ != '_')}_ms") = median(xs.toSeq) }
      shuffle.foreach { case (n, xs) => layers(s"registry.${n.takeWhile(_ != '_')}_shuffle_mb") = median(xs.toSeq) }
    }
    ops
  }

  // ----------------------------------------------------------------- tracer

  /** Listener totals over the timed ops of a traced run. */
  final class Tracer(spark: SparkSession) {
    private val totals = mutable.Map[String, Double]().withDefaultValue(0.0)
    private var inOp = false
    private var shuffleAtBegin = 0.0
    var lastShuffleWriteBytes = 0.0
    private val progress = ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()

    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inOp) totals.synchronized(totals("jobs") += 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (inOp && e.taskMetrics != null) totals.synchronized {
          val m = e.taskMetrics
          totals("tasks") += 1
          totals("executor_cpu_ns") += m.executorCpuTime
          totals("gc_ms") += m.jvmGCTime
          totals("shuffle_write") += m.shuffleWriteMetrics.bytesWritten
          totals("spill") += m.memoryBytesSpilled + m.diskBytesSpilled
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (inOp) totals.synchronized(totals("actions") += 1)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        if (inOp) totals.synchronized(totals("actions") += 1)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (inOp) progress.synchronized(progress += e.progress)
    })

    def begin(): Unit = {
      ListenerDrain(spark.sparkContext)
      shuffleAtBegin = totals.synchronized(totals("shuffle_write"))
      inOp = true
    }
    def end(): Unit = {
      ListenerDrain(spark.sparkContext)
      inOp = false
      lastShuffleWriteBytes = totals.synchronized(totals("shuffle_write")) - shuffleAtBegin
    }

    def report(out: mutable.Map[String, Double], nOps: Int): Unit = {
      val n = math.max(1, nOps).toDouble
      out("pipeline.actions_per_op") = totals("actions") / n
      out("spark.jobs_per_op") = totals("jobs") / n
      out("spark.tasks_per_op") = totals("tasks") / n
      out("spark.shuffle_write_mb_per_op") = totals("shuffle_write") / 1048576.0 / n
      out("spark.spill_mb_per_op") = totals("spill") / 1048576.0 / n
      out("spark.executor_cpu_s_per_op") = totals("executor_cpu_ns") / 1e9 / n
      out("spark.jvm_gc_ms_per_op") = totals("gc_ms") / n
    }

    def reportStream(out: mutable.Map[String, Double], nOps: Int): Unit = {
      val data = progress.filter(_.numInputRows > 0).toSeq
      def dur(k: String): Double = median(data.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
      out("stream.batch_ms") = dur("triggerExecution")
      out("stream.nodata_batch_ms") = median(progress.filter(_.numInputRows == 0).toSeq
        .map(p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)))
      out("stream.batches_per_op") = progress.size.toDouble / math.max(1, nOps)
      out("stream.add_batch_ms") = dur("addBatch")
      out("stream.query_planning_ms") = dur("queryPlanning")
      out("stream.wal_commit_ms") = dur("walCommit")
      out("stream.commit_offsets_ms") = dur("commitOffsets")
      val st = data.flatMap(_.stateOperators.headOption)
      out("stream.state_rows") = median(st.map(_.numRowsTotal.toDouble))
      out("stream.state_mem_mb") = median(st.map(_.memoryUsedBytes / 1048576.0))
      out("stream.state_commit_ms") = median(st.map(_.commitTimeMs.toDouble))
    }
  }
}

/** Minimal JSON writer for the result document. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
