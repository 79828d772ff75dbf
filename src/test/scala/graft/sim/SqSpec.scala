package graft.sim

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** SQ8 scalar quantization: code validity, an independent driver-side
  * recompute of the full asymmetric search, and recall teeth on a
  * planted near-copy. */
class SqSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.01"

  /** Exact per-anchor top-k through the bounded
    * [[graft.ops.TopKAggregator.TopKByScore]] buffer over an explicit
    * (vec_id, e) frame — the registered q20 body — as the recall
    * reference. */
  private def topKAggFrom(embd: DataFrame, k: Int = 5): DataFrame = {
    val queries = embd.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    embd.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", SimilarityQueries.cosineExpr("qe", "e"))
      .groupBy("qid")
      .agg(graft.ops.TopKAggregator.topKByScore(k)(
        round(col("cos"), 6), col("vec_id"), col("cos"), lit(0)).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("rk", "e")))
      .select(col("qid"), col("e._2").as("neighbor_id"),
        (col("rk") + 1).as("rank"), round(col("e._3"), 4).as("cos"))
  }

  private def embOf(spark: org.apache.spark.sql.SparkSession) =
    graft.ops.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  test("codes are Dim ints in [0,255]; extrema rows hit the rails") {
    val spark = SparkSpec.spark
    val emb = embOf(spark)
    val codes = ScalarQuantization
      .sqEncode(emb, ScalarQuantization.sqBounds(emb))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.nonEmpty)
    assert(codes.values.forall(_.length == ScalarQuantization.Dim))
    assert(codes.values.forall(_.forall(c => c >= 0 && c <= 255)))
    // every dimension's min maps to 0 and max to 255 somewhere
    val byDim = (0 until ScalarQuantization.Dim).map(i => codes.values.map(_(i)))
    assert(byDim.forall(cs => cs.min == 0 && cs.max == 255))
  }

  test("q149 equals an independent driver-side recompute (sf0.01)") {
    val spark = SparkSpec.spark
    val vecs = embOf(spark).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val dim = ScalarQuantization.Dim
    val mins = (0 until dim).map(i => vecs.values.map(_(i)).min).toArray
    val maxs = (0 until dim).map(i => vecs.values.map(_(i)).max).toArray
    def decode(v: Array[Double]): Array[Double] = {
      (0 until dim).map { i =>
        val c = if (maxs(i) > mins(i))
          math.min(math.max(math.floor((v(i) - mins(i)) / (maxs(i) - mins(i)) * 255 + 0.5), 0.0), 255.0)
        else 0.0
        mins(i) + c / 255.0 * (maxs(i) - mins(i))
      }.toArray
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val decoded = vecs.map { case (id, v) => id -> decode(v) }
    val expect = vecs.keys.filter(_ % 100 == 0).flatMap { qid =>
      decoded.toSeq.filter(_._1 != qid)
        .map { case (id, ae) => (id, cos(vecs(qid), ae)) }
        .sortBy { case (id, c) => (-math.rint(c * 1e6), id) }
        .take(5).zipWithIndex
        .map { case ((id, c), rk) =>
          (qid, id, rk + 1) -> math.rint(c * 1e4) / 1e4 }
    }.toMap
    val got = ScalarQuantization.sqTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2) + 0) -> r.getDouble(3)).toMap
    assert(got.keySet === expect.keySet)
    got.foreach { case (k, c) => assert(math.abs(c - expect(k)) < 1e-9, s"$k") }
  }

  test("a planted near-copy wins SQ8 rank 1; recall vs exact is reported") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val rng = new Random(11)
    def vec(): Seq[Double] = Seq.fill(ScalarQuantization.Dim)(rng.nextDouble() * 2 - 1)
    val base = (0L until 260L).map(i => (i, vec()))
    val planted = base.map {
      case (259L, _) => (259L, base(200)._2.map(_ + 1e-4 * rng.nextDouble()))
      case other     => other
    }
    val emb = planted.toDF("vec_id", "e")
    val bounds = ScalarQuantization.sqBounds(emb)
    val sq = ScalarQuantization.sqTopKFrom(emb, ScalarQuantization.sqEncode(emb, bounds), bounds)
      .collect().map(r => ((r.getLong(0), r.getInt(2)), r.getLong(1))).toMap
    assert(sq((200L, 1)) === 259L, "the near-copy must win SQ8 rank 1")
    // recall@5 of SQ8 vs exact on the same frame (reported, not gated —
    // SQ8 on unit-range data is near-lossless, expect ≥ 0.9)
    val exact = topKAggFrom(emb)
    val sqSets = sq.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).toSet).toMap
    val exSets = exact.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = exSets.map { case (q, s) => sqSets(q).intersect(s).size.toDouble / s.size }
    val mean = recall.sum / recall.size
    info(f"SQ8 recall@5 vs exact: $mean%.2f")
    assert(mean >= 0.9, s"SQ8 recall@5 $mean")
  }
}
