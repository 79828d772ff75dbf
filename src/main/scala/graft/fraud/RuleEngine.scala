package graft.fraud

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The four fraud rules (reference: scripts/run_pipeline.py:21-43) as one
  * declarative plan.
  *
  * Reference shape vs ours:
  *  - DuplicateAadhaar / MultiAadhaar: the reference collects flagged-key
  *    lists to the driver and replays them via `isin`
  *    (run_pipeline.py:24-31). We test key multiplicity in windows —
  *    `min(k) <> max(k)` over the key's rows, which for non-null values is
  *    "more than one distinct value" without building a set — with no
  *    driver state and no broadcast of an unbounded key list. The
  *    Aadhaar test shares FrequentClaims' window (same partitioning and
  *    order, whole-partition frame), so the rules cost two window
  *    shuffles: one by Aadhaar, one by Name.
  *  - HighClaimAmount: strict `>` against exact p99 (run_pipeline.py:34-35,
  *    pandas linear-interpolation quantile — Spark `percentile` matches).
  *    At 100 TB pass `exactQuantile = false` for `approx_percentile`.
  *  - FrequentClaims: lag over (Aadhaar, Date) with `_row_id` tie-break
  *    replacing pandas' stable-sort file order (run_pipeline.py:38-41);
  *    null lag never fires, matching NaN `<= 7` == False.
  *  - NULL keys (e.g. a malformed Aadhaar cell read PERMISSIVE) never
  *    match each other: pandas' groupby drops NaN keys, so a row with a
  *    NULL Aadhaar gets neither DuplicateAadhaar nor FrequentClaims, one
  *    with a NULL Name no MultiAadhaar, and NULL values are not counted
  *    as a distinct key.
  *
  * Tag string: fixed order `DuplicateAadhaar;MultiAadhaar;HighClaimAmount;
  * FrequentClaims`, each suffixed `;`, empty → `Normal`
  * (run_pipeline.py:26,31,35,41,43).
  */
object RuleEngine {
  /** Deterministic input-order row id; call once right after the scan. */
  def withRowId(df: DataFrame): DataFrame =
    if (df.columns.contains("_row_id")) df
    else df.withColumn("_row_id", monotonically_increasing_id())

  /** p99 of `ClaimAmount` as an aggregate column, so callers can fuse it
    * with other scalars over the same input or take it over a window. */
  private[fraud] def p99Column(exact: Boolean = true): Column =
    expr(if (exact) "percentile(ClaimAmount, 0.99)"
         else "approx_percentile(ClaimAmount, 0.99, 10000)")

  /** NaN when no row has an amount (e.g. an empty upload): Spark orders
    * NaN above every double, so no row is then `> p99`. */
  def p99Amount(df: DataFrame, exact: Boolean = true): Double =
    doubleOrNaN(df.agg(p99Column(exact)).head(), 0)

  private[fraud] def doubleOrNaN(r: Row, i: Int): Double =
    if (r.isNullAt(i)) Double.NaN else r.getDouble(i)

  /** Adds `RuleFraud` (and keeps `_row_id`); runs one action for p99. */
  def withRuleTags(df0: DataFrame, exactQuantile: Boolean = true): DataFrame = {
    val df = withRowId(df0)
    withRuleTagsAt(df, PlanConstant(p99Amount(df, exactQuantile)))
  }

  /** [[withRuleTags]] against a p99 column: a [[PlanConstant]] the caller
    * already collected, or [[p99Column]] over a whole-input window; lazy. */
  private[fraud] def withRuleTagsAt(df0: DataFrame, p99: Column): DataFrame = {
    val df = withRowId(df0)
    val byAadhaar = Window.partitionBy("Aadhaar").orderBy("Date", "_row_id")
    val wholeAadhaar = byAadhaar.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byName = Window.partitionBy("Name")
    def manyValues(c: String, w: WindowSpec): Column = min(col(c)).over(w) =!= max(col(c)).over(w)
    val hasAadhaar = col("Aadhaar").isNotNull
    val daysDiff = datediff(col("Date"), lag(col("Date"), 1).over(byAadhaar))
    val tags = concat(
      when(hasAadhaar && manyValues("Name", wholeAadhaar), "DuplicateAadhaar;").otherwise(""),
      when(col("Name").isNotNull && manyValues("Aadhaar", byName), "MultiAadhaar;").otherwise(""),
      when(col("ClaimAmount") > p99, "HighClaimAmount;").otherwise(""),
      when(hasAadhaar && daysDiff <= 7, "FrequentClaims;").otherwise(""))
    // tags go in a column of their own before the empty check: used twice
    // in one expression, each window function would be computed twice
    df.withColumn("RuleFraud", tags)
      .withColumn("RuleFraud", when(col("RuleFraud") === "", "Normal").otherwise(col("RuleFraud")))
  }
}
