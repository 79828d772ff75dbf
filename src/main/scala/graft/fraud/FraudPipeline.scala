package graft.fraud

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ml.{MLP, Trainer}

/** The hybrid rule+ML pipeline end-to-end (reference: scripts/
  * run_pipeline.py:11-101) as ONE lazy Spark plan. In parity mode (the
  * upload path) its only action is the caller's write: p99, the date
  * origin and the error mean+2σ are whole-upload window columns. At
  * scale two tiny scalar actions collect them first — p99 and the origin
  * fused into one aggregate over the input, then the error mean+2σ.
  *
  * Scoring a small upload is mostly fixed cost per Spark job and per
  * compiled class, so [[scoreWithColumns]] keeps both down:
  *  - in parity mode the input is parsed once and gathered by one
  *    shuffle to a single partition, where every window runs in one
  *    task and a partition-local sort restores input order;
  *  - no per-upload value is a literal in the plan (window columns, or
  *    [[PlanConstant]]s at scale), so every upload reuses the classes
  *    codegen compiled for the previous one (and their JIT-compiled code).
  *
  * Deliberate divergence from the reference (documented, SURVEY §2.7):
  *  - ReconstructionError stays in the row lineage, so it is attached to
  *    the right rows (the reference's positional assignment at
  *    run_pipeline.py:86 misaligns it after the sort at :38).
  *  - One architecture (no output Sigmoid) for both train and score
  *    (§2.7-1 mismatch resolved toward the *trained* net).
  */
final case class FraudModel(params: FeatureParams, net: MLP)

object FraudPipeline {

  /** P10: rule label wins, else ML label, else Normal (run_pipeline.py:
    * 70-78) — shared by the batch and streaming score paths. */
  def combineFraudType: org.apache.spark.sql.Column =
    when(col("RuleFraud") =!= "Normal", col("RuleFraud"))
      .when(col("MLFraud") =!= "Normal", col("MLFraud"))
      .otherwise("Normal")

  /** E3 (train.py): fit features, train the autoencoder on the driver
    * over collected features (30-row reference corpus; sample first at
    * scale — or use Trainer.fitDistributed). */
  def train(spark: SparkSession, claims: DataFrame,
            cfg: Trainer.Config = Trainer.Config()): FraudModel = {
    val params = FeaturePipeline.fit(claims)
    val feats = FeaturePipeline
      .transform(claims, params, fixedOrigin = Some(params.trainDateOrigin))
      .select("features").collect()
      .map(_.getAs[Seq[Double]](0).toArray)
    val net = Trainer.fit(feats, MLP.autoencoderDims(params.featureDim), cfg)
    FraudModel(params, net)
  }

  /** E3 at corpus scale: identical feature fit/transform, but the
    * autoencoder trains with [[Trainer.fitDistributed]] over the
    * feature column AS AN RDD — the corpus never materializes on the
    * driver (the `collect()` in [[train]] is the documented
    * reference-parity path; this is its 100 TB shape). Epoch-loss
    * parity with the driver trainer is pinned by
    * DistributedTrainerParitySpec. */
  def trainDistributed(spark: SparkSession, claims: DataFrame,
                       cfg: Trainer.Config = Trainer.Config(epochs = 200)): FraudModel = {
    val params = FeaturePipeline.fit(claims)
    val feats = FeaturePipeline
      .transform(claims, params, fixedOrigin = Some(params.trainDateOrigin))
      .select("features").rdd
      .map(_.getAs[scala.collection.Seq[Double]](0).toArray)
    val net = Trainer.fitDistributed(feats, MLP.autoencoderDims(params.featureDim), cfg)
    FraudModel(params, net)
  }

  /** Appends `ReconstructionError` by scoring `features` against the
    * broadcast net (one UDF call per row over a ~9K-param model — the
    * only non-codegen expression in the plan, M4/M5). */
  def withReconstructionError(spark: SparkSession, df: DataFrame, net: MLP): DataFrame = {
    val bc = spark.sparkContext.broadcast(net)
    val errUdf = udf { (v: Seq[Double]) => bc.value.reconstructionError(v.toArray) }
    df.withColumn("ReconstructionError", errUdf(col("features")))
  }

  /** E2 (run_pipeline.py): rules + ML score + combine + output schema.
    * Output columns match the golden sink (run_pipeline.py:82-88):
    * Name, Aadhaar, ClaimAmount, SubsidyType, Date(yyyy-MM-dd),
    * ReconstructionError, FraudType. */
  def score(spark: SparkSession, claims: DataFrame, model: FraudModel,
            exactQuantile: Boolean = true,
            preserveInputOrder: Boolean = true): DataFrame =
    scoreWithColumns(spark, claims, model, Seq.empty, exactQuantile, preserveInputOrder)

  /** [[score]] with extra input columns carried through to the output —
    * e.g. the eval corpus's FraudLabel (never a reference feature, so it
    * must bypass the feature/rule path untouched). An input without rows
    * gives an output without rows.
    *
    * `preserveInputOrder` is golden/parity mode, for small files: the
    * three per-upload values are columns over one whole-input window, so
    * the plan has one shuffle (to a single partition, where the rule
    * windows and the threshold also run), one pass of the autoencoder
    * UDF, no action before the caller's, and a partition-local sort to
    * input order. At scale pass `false`: the whole input in one task does
    * not scale, so p99 and the origin are collected by one aggregate and
    * the threshold by a second pass that recomputes the scoring plan
    * (keeping a 100 TB table spills and leaks executor storage across
    * invocations, r1 advice); they enter the plan as [[PlanConstant]]s
    * and the output stays partitioned. */
  def scoreWithColumns(spark: SparkSession, claims: DataFrame, model: FraudModel,
            passthrough: Seq[String],
            exactQuantile: Boolean = true,
            preserveInputOrder: Boolean = true): DataFrame = {
    val input = RuleEngine.withRowId(claims)
    val upload = Window.partitionBy()
    val (p99, origin) =
      if (preserveInputOrder) (RuleEngine.p99Column(exactQuantile).over(upload), min("Date").over(upload))
      else {
        // p99 and the date origin depend only on the input: one action for both
        val stats = input.agg(RuleEngine.p99Column(exactQuantile), min("Date")).head()
        (PlanConstant(RuleEngine.doubleOrNaN(stats, 0)), FeaturePipeline.originConstant(stats.getDate(1)))
      }
    val ruled = RuleEngine.withRuleTagsAt(input, p99)
    val feat = FeaturePipeline.transformAt(ruled, model.params, origin)
    val scored = withReconstructionError(spark, feat, model.net)
    val err = col("ReconstructionError")
    // M7: mean + 2σ (ddof=0) of the error, null without rows, over the
    // upload window or collected. The scale path's threshold pass prunes
    // the rule windows, since the error does not depend on the tags.
    def meanPlus2Sd(scope: Column => Column) = scope(avg(err)) + lit(2.0) * scope(stddev_pop(err))
    val thr =
      if (preserveInputOrder) meanPlus2Sd(_.over(upload))
      else PlanConstant(RuleEngine.doubleOrNaN(scored.agg(meanPlus2Sd(identity)).head(), 0))
    val combined = scored
      .withColumn("MLFraud", when(err > thr, "Suspicious").otherwise("Normal"))
      .withColumn("FraudType", combineFraudType)
    // pandas-index order parity: the whole-input window already gathered
    // the rows into one partition, so a partition-local sort restores it
    val ordered = if (preserveInputOrder) combined.sortWithinPartitions("_row_id") else combined
    val outCols = Seq(
      col("Name"), col("Aadhaar"), col("ClaimAmount"), col("SubsidyType"),
      date_format(col("Date"), "yyyy-MM-dd").as("Date"),
      col("ReconstructionError"), col("FraudType")) ++ passthrough.map(col)
    ordered.select(outCols: _*)
  }

  /** train-then-score on the same table — the reference's self-scoring
    * mode (train.py:88-101). */
  def run(spark: SparkSession, claims: DataFrame): DataFrame =
    score(spark, claims, train(spark, claims))
}
