package graft.fraud

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Fitted feature-encoding parameters — the transparent replacement for
  * the reference's pickled sklearn encoder/scaler (train.py:35-36,
  * run_pipeline.py:49-50).
  *
  * Exact sklearn semantics (SURVEY §2.6):
  *  - categories sorted lexicographically (OneHotEncoder default);
  *  - unknown category → ALL-ZEROS row (handle_unknown='ignore');
  *  - z-scaling with POPULATION std (ddof=0) — hence hand-assembled
  *    `avg`/`stddev_pop` expressions rather than MLlib StandardScaler
  *    (which is ddof=1);
  *  - zero-variance feature → scale 1.0 (sklearn's guard).
  */
final case class FeatureParams(
    categories: Seq[String],
    amountMean: Double, amountStd: Double,
    daysMean: Double, daysStd: Double,
    trainDateOrigin: Date) {
  def featureDim: Int = 2 + categories.size
}

object FeaturePipeline {

  /** Days since the dataset-min date (P5; train.py:19, run_pipeline.py:47).
    * NOTE reference quirk §2.7-3: the origin is recomputed from the
    * CURRENT dataset at transform time; pass `fixedOrigin` to pin it.
    * Null on a dataset without dates (no row then needs it). */
  def dateOrigin(df: DataFrame): Date =
    df.agg(min("Date")).head().getDate(0)

  /** A collected origin as a [[PlanConstant]], not a literal: it changes
    * with every scored upload, and a literal would make each upload's
    * generated code new. */
  private[fraud] def originConstant(origin: Date): Column =
    PlanConstant(Option(origin).map(_.toLocalDate).orNull)

  /** Days from `origin` — an [[originConstant]], or `min(Date)` over a
    * whole-input window so that no action collects it first. */
  private def daysSince(origin: Column): Column =
    datediff(col("Date"), origin).cast("double")

  private def guardStd(s: Double): Double = if (s == 0.0 || s.isNaN) 1.0 else s

  def fit(df: DataFrame): FeatureParams = {
    val cats = df.select("SubsidyType").distinct().collect()
      .map(_.getString(0)).sorted.toSeq
    val origin = dateOrigin(df)
    val days = daysSince(originConstant(origin))
    val r: Row = df.agg(
      avg(col("ClaimAmount")), stddev_pop(col("ClaimAmount")),
      avg(days), stddev_pop(days)).head()
    FeatureParams(cats,
      r.getDouble(0), guardStd(r.getDouble(1)),
      r.getDouble(2), guardStd(r.getDouble(3)), origin)
  }

  /** Appends `features: array<double>` = [amount_z, days_z, onehot…].
    * Codegen'd expressions — no per-row model UDF, no MLlib vector
    * boxing. Without `fixedOrigin` this runs one action for the
    * dataset's origin; a caller that already has it passes it here. */
  def transform(df: DataFrame, p: FeatureParams,
                fixedOrigin: Option[Date] = None): DataFrame =
    transformAt(df, p, originConstant(fixedOrigin.getOrElse(dateOrigin(df))))

  /** [[transform]] against an origin column; lazy. */
  private[fraud] def transformAt(df: DataFrame, p: FeatureParams, origin: Column): DataFrame = {
    val days = daysSince(origin)
    val amountZ = (col("ClaimAmount") - lit(p.amountMean)) / lit(p.amountStd)
    val daysZ = (days - lit(p.daysMean)) / lit(p.daysStd)
    val oneHot: Seq[Column] =
      p.categories.map(c => when(col("SubsidyType") === c, 1.0).otherwise(0.0))
    df.withColumn("features", array(amountZ +: daysZ +: oneHot: _*))
  }

  // ------------------------------------------------------- persistence
  // Params persist as a one-row parquet (readable anywhere) instead of
  // opaque pickles (train.py:35-36).

  def save(spark: SparkSession, p: FeatureParams, path: String): Unit = {
    import spark.implicits._
    Seq((p.categories, p.amountMean, p.amountStd, p.daysMean, p.daysStd,
        p.trainDateOrigin.toString))
      .toDF("categories", "amountMean", "amountStd", "daysMean", "daysStd", "origin")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def load(spark: SparkSession, path: String): FeatureParams = {
    val r = spark.read.parquet(path).head()
    // parquet arrays come back as mutable ArraySeq; the case-class field
    // is immutable Seq — convert, don't cast (CCE otherwise)
    FeatureParams(r.getAs[scala.collection.Seq[String]]("categories").toSeq,
      r.getAs[Double]("amountMean"), r.getAs[Double]("amountStd"),
      r.getAs[Double]("daysMean"), r.getAs[Double]("daysStd"),
      Date.valueOf(r.getAs[String]("origin")))
  }
}
