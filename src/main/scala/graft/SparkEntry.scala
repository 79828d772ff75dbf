package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.RelationalQueries

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2 (+ the training-data-pipeline extensions), each with a
  * DuckDB oracle where ANSI-SQL-expressible.
  */
object SparkEntry {

  /** Flagship: the reference's full rule-tag composition (P8/P9/P10 +
    * A1/A4/W2) on sf0.001 orders. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.ruleTags(spark, "/root/testdata/sf0.001")

  /** The per-package registration units. The registry is their
    * union; OracleSqlSpec pins that pack names are pairwise disjoint
    * and the union matches queries/oracleSql exactly. */
  val packs: Seq[QueryPack] = Seq(
    graft.ops.RelationalPack,
    graft.ops.OpsPack,
    graft.ml.MlPack,
    graft.dedup.DedupPack,
    graft.sim.SimPack,
    graft.text.TextPack,
    graft.multimodal.MultimodalPack,
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.iterator.flatMap(_.queries).toMap

  def oracleSql: Map[String, String] =
    packs.iterator.flatMap(_.oracleSql).toMap

  /** Every durable index the registry's queries build, in the order
    * `graft.Bench` times those that carry an `index_build` key. */
  def durableIndexes: Seq[graft.ops.DurableIndex.Spec] = Seq(
    graft.dedup.DedupQueries.CorpusIndex,
    graft.sim.SimilarityQueries.IvfIndex,
    graft.text.Scrub.SpanGrams,
    graft.sim.SimilarityQueries.IvfAppended,
    graft.dedup.DedupQueries.ClusterLabels,
    graft.sim.KMeans.Centroids,
    graft.dedup.DedupQueries.VerifiedPairs,
    graft.sim.SimilarityQueries.SemanticDrops,
    graft.sim.JlIvf.JlIvfIndex,
    graft.sim.RankFusion.RrfCandidates,
    graft.ops.Maintenance.MergeBase,
    graft.ops.Formats.OrcDocs,
    graft.ops.Formats.JsonDocs,
  )
}
