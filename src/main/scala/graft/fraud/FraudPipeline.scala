package graft.fraud

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.{MLP, Trainer}

/** The hybrid rule+ML pipeline end-to-end (reference: scripts/
  * run_pipeline.py:11-101) as ONE lazy Spark plan with two tiny scalar
  * actions — p99 and date origin fused into one aggregate over the input,
  * then the error mean+2σ — and a final write.
  *
  * Scoring a small upload is mostly fixed cost per Spark job and per
  * compiled class, so [[scoreWithColumns]] keeps both down:
  *  - the three per-upload values enter the plan as [[PlanConstant]]s,
  *    not literals, so every upload reuses the classes codegen compiled
  *    for the previous one (and their JIT-compiled code);
  *  - in parity mode the input is parsed once (a lazy local checkpoint,
  *    filled by the first aggregate) and input order is restored by one
  *    shuffle to a single partition plus a partition-local sort.
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
    * parsed input is kept once in executor storage (released by Spark's
    * context cleaner once the result is unreachable) instead of being
    * re-read by each of the three passes, and the output is gathered
    * into one partition. At scale pass `false`: each pass then re-reads
    * the input, since keeping a 100 TB table spills and leaks executor
    * storage across invocations (r1 advice), and the output stays
    * partitioned. */
  def scoreWithColumns(spark: SparkSession, claims: DataFrame, model: FraudModel,
            passthrough: Seq[String],
            exactQuantile: Boolean = true,
            preserveInputOrder: Boolean = true): DataFrame = {
    val rowed = RuleEngine.withRowId(claims)
    val input = if (preserveInputOrder) rowed.localCheckpoint(eager = false) else rowed
    // p99 and the date origin depend only on the input: one action for both
    val stats = input.agg(RuleEngine.p99Column(exactQuantile), min("Date")).head()
    val ruled = RuleEngine.withRuleTagsAt(input, RuleEngine.doubleOrNaN(stats, 0))
    val feat = FeaturePipeline.transform(ruled, model.params, fixedOrigin = Some(stats.getDate(1)))
    // The threshold pass (M7) recomputes the linear scoring plan rather
    // than caching it; the rule windows are pruned from it, since the
    // error does not depend on the tags.
    val scored = withReconstructionError(spark, feat, model.net)
    val thr = mlThreshold(scored)
    val combined = scored
      .withColumn("MLFraud",
        when(col("ReconstructionError") > PlanConstant(thr), "Suspicious").otherwise("Normal"))
      .withColumn("FraudType", combineFraudType)
    // pandas-index order parity: one partition sorted by row id, without
    // the sampling job and range shuffle of a global sort
    val ordered =
      if (preserveInputOrder) combined.repartition(1).sortWithinPartitions("_row_id") else combined
    val outCols = Seq(
      col("Name"), col("Aadhaar"), col("ClaimAmount"), col("SubsidyType"),
      date_format(col("Date"), "yyyy-MM-dd").as("Date"),
      col("ReconstructionError"), col("FraudType")) ++ passthrough.map(col)
    ordered.select(outCols: _*)
  }

  /** M7: mean + 2σ (ddof=0) of `ReconstructionError`; NaN without rows. */
  private def mlThreshold(scored: DataFrame): Double = {
    val r = scored.agg(avg("ReconstructionError"), stddev_pop("ReconstructionError")).head()
    RuleEngine.doubleOrNaN(r, 0) + 2.0 * RuleEngine.doubleOrNaN(r, 1)
  }

  /** train-then-score on the same table — the reference's self-scoring
    * mode (train.py:88-101). */
  def run(spark: SparkSession, claims: DataFrame): DataFrame =
    score(spark, claims, train(spark, claims))
}
