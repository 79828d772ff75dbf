package graft.fraud

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, ScalaUDF}
import org.apache.spark.sql.execution.{ProjectExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.fraud.RuleEngineSpec.{C, expectedTags}
import graft.ml.Trainer

/** `FraudPipeline.score` end to end on claims CSVs this suite writes
  * itself: rule tags against the driver-side reference, input order, the
  * ML threshold, per-upload constants kept out of the generated code,
  * the one query an upload runs, parity against scale mode, a multi-file
  * upload's order, and the empty upload. */
class FraudPipelineSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private val header = "Name,Aadhaar,ClaimAmount,SubsidyType,Date"
  private val subsidies = Seq("Education", "Farming", "Housing", "LPG")
  private lazy val dir: Path = Files.createTempDirectory("fraud-pipeline-spec")

  /** `n` claims from `start` over 120 days with amounts up to `scale`;
    * keys drawn from 10·n values, so every rule fires on a few rows, and
    * one Name and one Aadhaar cell in 40 left empty (read as NULL). */
  private def claims(seed: Long, n: Int, start: LocalDate, scale: Double): Seq[(C, String)] = {
    val rng = new Random(seed)
    def orNull[T >: Null](v: T): T = if (rng.nextInt(40) == 0) null else v
    Seq.fill(n)(C(
      orNull(s"n${rng.nextInt(10 * n)}"),
      orNull(java.lang.Long.valueOf(100000L + rng.nextInt(10 * n))),
      math.rint(rng.nextDouble() * scale * 100) / 100,
      start.plusDays(rng.nextInt(120)).toString) -> subsidies(rng.nextInt(subsidies.size)))
  }

  private def writeCsv(name: String, rows: Seq[(C, String)]): String = {
    val lines = header +: rows.map { case (c, s) =>
      Seq(Option(c.name).getOrElse(""), Option(c.aadhaar).map(_.toString).getOrElse(""),
        c.amount.toString, s, c.date).mkString(",")
    }
    val p = dir.resolve(name)
    Files.write(p, lines.asJava)
    p.toString
  }

  private lazy val model: FraudModel = {
    val spark = SparkSpec.spark
    val train = writeCsv("train.csv", claims(1, 200, LocalDate.of(2024, 12, 1), 50000))
    FraudPipeline.train(spark, Claims.readCsv(spark, train), Trainer.Config(epochs = 5))
  }

  private def score(path: String): DataFrame =
    FraudPipeline.score(SparkSpec.spark, Claims.readCsv(SparkSpec.spark, path), model)

  private val uploadA = claims(2, 400, LocalDate.of(2025, 1, 1), 100000)
  private val uploadB = claims(3, 300, LocalDate.of(2025, 3, 15), 300000)

  test("tags match the driver-side reference, input order is kept, MLFraud is above mean + 2σ") {
    val out = score(writeCsv("a.csv", uploadA)).collect()
    assert(out.length === uploadA.size)
    assert(out.map(r => (r.getString(0), r.getAs[java.lang.Long](1), r.getString(4))).toSeq ===
      uploadA.map { case (c, _) => (c.name, c.aadhaar, c.date) })
    val err = out.map(_.getDouble(5))
    val mean = err.sum / err.length
    val thr = mean + 2 * math.sqrt(err.map(e => (e - mean) * (e - mean)).sum / err.length) // ddof=0
    val want = expectedTags(uploadA.map(_._1)).zip(err).map {
      case ("Normal", e) => if (e > thr) "Suspicious" else "Normal"
      case (tag, _) => tag
    }
    assert(out.map(_.getString(6)).toSeq === want)
    Seq("DuplicateAadhaar;", "MultiAadhaar;", "HighClaimAmount;", "FrequentClaims;", "Suspicious")
      .foreach(t => assert(want.exists(_.contains(t)), s"no row is $t"))
  }

  test("uploads with different p99, date origin and threshold share their generated code") {
    val spark = SparkSpec.spark
    val paths = Seq(writeCsv("code_a.csv", uploadA), writeCsv("code_b.csv", uploadB))
    val scalars = paths.map { p =>
      val in = Claims.readCsv(spark, p)
      (RuleEngine.p99Amount(in), FeaturePipeline.dateOrigin(in))
    }
    assert(scalars.distinct.size === 2)
    val code = paths.map { p =>
      val df = score(p)
      df.collect()
      df.queryExecution.debug.codegenToSeq().map(_._2)
    }
    assert(code.head.nonEmpty)
    assert(code.head === code(1))
  }

  test("an upload is one query: one shuffle, one UDF pass, each window once") {
    val spark = SparkSpec.spark
    val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
    val plans = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plans.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    def isSentinel(qe: QueryExecution) = qe.analyzed.toString.contains(sentinel)
    spark.listenerManager.register(listener)
    try {
      score(writeCsv("plan.csv", uploadA)).collect()
      spark.range(1).select(lit(sentinel)).collect()
      // listener events arrive asynchronously but in order: once the
      // sentinel query is seen, every query of the upload has been
      val deadline = System.nanoTime() + 30e9.toLong
      while (!plans.asScala.exists(isSentinel) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(plans.asScala.exists(isSentinel), "the sentinel query was not seen")
    } finally spark.listenerManager.unregister(listener)
    val queries = plans.asScala.filterNot(isSentinel).map(_.executedPlan).toSeq
    assert(queries.size === 1, queries.mkString("\n"))
    val plan = queries.head
    val shown = plan.toString
    assert(collect(plan) { case e: Exchange => e }.size === 1, shown)
    val windows = collect(plan) { case w: WindowExec => w }
    def partitionedBy(c: String) =
      windows.count(_.partitionSpec.map(_.references.map(_.name).toSeq) == Seq(Seq(c)))
    assert(partitionedBy("Aadhaar") === 1, shown)
    assert(partitionedBy("Name") === 1, shown)
    assert(windows.count(_.windowExpression.exists(_.toString.contains("percentile"))) === 1, shown)
    val errors = collect(plan) { case p: ProjectExec => p }.flatMap(_.projectList).count {
      case Alias(_: ScalaUDF, "ReconstructionError") => true
      case _ => false
    }
    assert(errors === 1, shown)
  }

  test("parity and scale modes give the same rows") {
    val spark = SparkSpec.spark
    val in = RuleEngine.withRowId(Claims.readCsv(spark, writeCsv("modes.csv", uploadA)))
    def rows(parity: Boolean) = FraudPipeline
      .scoreWithColumns(spark, in, model, Seq("_row_id"), preserveInputOrder = parity)
      .collect().toSeq
    val parity = rows(parity = true)
    val scale = rows(parity = false).sortBy(_.getLong(7))
    assert(parity.map(_.getLong(7)) === scale.map(_.getLong(7)))
    assert(parity.size === uploadA.size)
    // ReconstructionError and FraudType: the threshold, p99 and origin
    // agree whether taken over a window or collected
    assert(parity.map(r => (r.getDouble(5), r.getString(6))) ===
      scale.map(r => (r.getDouble(5), r.getString(6))))
  }

  test("an upload read from two part files comes back in row-id order") {
    val spark = SparkSpec.spark
    val parts = Files.createDirectories(dir.resolve("parts"))
    val files = Seq(uploadA.take(150), uploadA.drop(150)).zipWithIndex.map { case (rows, i) =>
      Files.move(Paths.get(writeCsv(s"part-$i.csv", rows)), parts.resolve(s"part-$i.csv"))
      rows.map { case (c, _) => (c.name, c.aadhaar, c.date) }
    }
    val in = Claims.readCsv(spark, parts.toString)
    assert(in.rdd.getNumPartitions === 2)
    val want = RuleEngine.withRowId(in).orderBy("_row_id").collect()
      .map(r => (r.getString(0), r.getAs[java.lang.Long](1), r.getDate(4).toString)).toSeq
    assert(want === files.flatten || want === files.reverse.flatten)
    val out = FraudPipeline.score(spark, in, model).collect()
    assert(out.map(r => (r.getString(0), r.getAs[java.lang.Long](1), r.getString(4))).toSeq === want)
  }

  test("a header-only upload scores to a header-only CSV") {
    val out = dir.resolve("empty_out").toString
    Claims.writeCsv(score(writeCsv("empty.csv", Seq.empty)), out)
    val parts = Files.list(dir.resolve("empty_out")).iterator().asScala
      .filter(_.toString.endsWith(".csv")).toSeq
    assert(parts.size === 1)
    assert(Files.readAllLines(parts.head).asScala.toSeq ===
      Seq("Name,Aadhaar,ClaimAmount,SubsidyType,Date,ReconstructionError,FraudType"))
  }
}
