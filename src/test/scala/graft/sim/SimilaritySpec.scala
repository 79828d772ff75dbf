package graft.sim

import scala.util.Random

import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Recall validation of the multi-table SRP-LSH candidate generator on
  * planted near-duplicates (the corpus itself has no high-cosine pairs —
  * see PERF_NOTES.md §LSH for the measured sweep behind the defaults). */
class SimilaritySpec extends AnyFunSuite {

  test("LSH defaults: recall >= 0.9 on planted cos≈0.9 near-dups, far fewer comparisons") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val rng = new Random(7)
    val dim = SimilarityQueries.Dim
    val n = 400
    val base = Array.fill(n)(Array.fill(dim)(rng.nextGaussian()))
    // plant 80 jittered copies at cos ≈ 0.9 (noise norm ≈ 0.484 · |v|)
    val planted = (0 until 80).map { k =>
      val src = k * 5
      val v = base(src)
      val noise = Array.fill(dim)(rng.nextGaussian())
      val vn = math.sqrt(v.map(x => x * x).sum)
      val nn = math.sqrt(noise.map(x => x * x).sum)
      val jit = v.zip(noise).map { case (a, b) => a + b * (vn * 0.484 / nn) }
      (n + k, src, jit)
    }
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) } ++
      planted.map { case (id, _, v) => (id.toLong, v.toSeq) }
    val emb = rows.toSeq.toDF("vec_id", "e")
    val cand = SimilarityQueries.lshCandidatePairs(emb)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = planted.count { case (id, src, _) =>
      cand.contains((src.toLong, id.toLong))
    }
    val recall = hits.toDouble / planted.size
    val allPairs = (n + 80).toLong * (n + 79) / 2
    assert(recall >= 0.9, s"recall=$recall (${hits}/${planted.size})")
    assert(cand.size < allPairs / 10,
      s"candidates ${cand.size} not <10% of all-pairs $allPairs")
  }

  test("q88 semantic dedup: planted ε-ball copies drop to their source, boundary misses only") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val rng = new Random(11)
    val dim = SimilarityQueries.Dim
    val n = 400
    val base = Array.fill(n)(Array.fill(dim)(rng.nextGaussian()))
    // 80 jittered copies at cos ≈ 0.99 (noise norm ≈ 0.1425 · |v|)
    val planted = (0 until 80).map { k =>
      val src = k * 5
      val v = base(src)
      val noise = Array.fill(dim)(rng.nextGaussian())
      val vn = math.sqrt(v.map(x => x * x).sum)
      val nn = math.sqrt(noise.map(x => x * x).sum)
      val jit = v.zip(noise).map { case (a, b) => a + b * (vn * 0.1425 / nn) }
      (n + k, src, jit)
    }
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) } ++
      planted.map { case (id, _, v) => (id.toLong, v.toSeq) }
    val emb = rows.toSeq.toDF("vec_id", "e")
    val drops = SimilarityQueries.semanticDedupFrom(emb, thr = 0.9).collect()
    val dropOf = drops.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // random gaussians never reach cos 0.9, so ONLY planted copies can
    // drop, and a dropped copy's sole ε-mate is its source
    assert(drops.forall(_.getLong(0) >= n), "a base vector dropped")
    assert(drops.forall(r => r.getLong(1) < r.getLong(0)))
    assert(drops.forall(_.getDouble(3) >= 0.9))
    val hits = planted.count { case (id, src, _) =>
      dropOf.get(id.toLong).contains(src.toLong)
    }
    val recall = hits.toDouble / planted.size
    info(f"SemDeDup planted recall: $recall%.2f ($hits/${planted.size})")
    // misses can ONLY be copy/source pairs straddling a cell boundary —
    // the cost SemDeDup accepts by design; demand it stays rare
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("IVF top-k: every probed-list neighbor ranks correctly and recall@5 vs exact is reported") {
    val spark = SparkSpec.spark
    val sfDir = "/root/testdata/sf0.01"
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(SimilarityQueries.cosineTopK(spark, sfDir))
    val ivf   = pairs(SimilarityQueries.ivfTopK(spark, sfDir))
    assert(ivf.nonEmpty)
    val recall = (exact intersect ivf).size.toDouble / exact.size
    info(f"IVF recall@5 vs exact: $recall%.2f (nProbe=${SimilarityQueries.NProbe})")
    // nProbe=4 of ~14 lists: exact search inside the probed lists can
    // only miss neighbors whose list wasn't probed — demand a sane floor
    assert(recall >= 0.5, s"recall=$recall")
    // probing ALL lists must reproduce the exact result identically
    val nLists = 500 / SimilarityQueries.CentStride + 1
    val full = pairs(SimilarityQueries.ivfTopK(spark, sfDir, nProbe = nLists))
    assert(full === exact, "IVF with nProbe=all lists must equal brute force")
  }

  test("IVF-backed label propagation: probe-all equals exact; agreement at nProbe=4 is reported") {
    val spark = SparkSpec.spark
    val sfDir = "/root/testdata/sf0.01"
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.get(1), r.get(2), r.getLong(3))).toMap
    val exact = verdicts(SimilarityQueries.knnLabel(spark, sfDir))
    // probe-all (the registered q76 default) must reproduce q72 exactly
    val full = verdicts(SimilarityQueries.knnLabelIvf(spark, sfDir))
    assert(full === exact, "probe-all IVF label propagation must equal q72")
    // the production setting: nProbe << nlist — measure prediction agreement
    val approx = verdicts(
      SimilarityQueries.knnLabelIvf(spark, sfDir, nProbe = SimilarityQueries.NProbe))
    assert(approx.keySet === exact.keySet, "every query must still get a verdict")
    val agree = exact.count { case (q, (_, pred, _)) => approx(q)._2 == pred }
    val rate = agree.toDouble / exact.size
    info(f"pred_label agreement at nProbe=${SimilarityQueries.NProbe}: $rate%.2f ($agree/${exact.size})")
    assert(rate >= 0.5, s"agreement=$rate")
  }

  test("q78: persisted-index IVF search equals the inline computation at every nProbe") {
    val spark = SparkSpec.spark
    val sfDir = "/root/testdata/sf0.01"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    for (nProbe <- Seq(SimilarityQueries.NProbe, Int.MaxValue)) {
      assert(rows(SimilarityQueries.ivfTopKIndexed(spark, sfDir, nProbe = nProbe)) ===
        rows(SimilarityQueries.ivfTopK(spark, sfDir, nProbe = nProbe)),
        s"persisted-index search diverged from inline at nProbe=$nProbe")
    }
    // ... and so does the label propagation composed over it
    assert(SimilarityQueries.knnLabelIvfIndexed(spark, sfDir).collect().toSet ===
      SimilarityQueries.knnLabelIvf(spark, sfDir).collect().toSet)
  }

  test("q284: probe-all JL-IVF equals the brute projected-space search; production recall reported") {
    val spark = SparkSpec.spark
    val sfDir = "/root/testdata/sf0.01"
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // probe-ALL in the projected space scans every list ⇒ must equal
    // the brute projected-space search exactly (the q113 discipline:
    // the composition is oracle-equivalent at the exhaustive setting)
    assert(pairs(SimilarityQueries.jlTopKIvf(spark, sfDir, nProbe = Int.MaxValue)) ===
      pairs(SimilarityQueries.jlTopK(spark, sfDir)),
      "probe-all JL-IVF diverged from brute projected-space search")
    // at the production nProbe, report end-to-end recall vs the
    // full-dim exact truth (graded formally by q285 on the pinned set)
    val exact = SimilarityQueries.cosineTopK(spark, sfDir)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prod = SimilarityQueries.jlTopKIvf(spark, sfDir)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = prod.count(exact).toDouble / exact.size
    info(f"JL-IVF@nProbe=${SimilarityQueries.NProbe} recall vs full-dim exact: $recall%.2f")
    assert(prod.nonEmpty)
  }

  test("q20/q104 plans contain no window operator (bounded per-anchor top-k)") {
    val spark = SparkSpec.spark
    import org.apache.spark.sql.execution.window.WindowExec
    val sfDir = "/root/testdata/sf0.001"
    for ((name, df) <- Seq(
        "q20" -> SimilarityQueries.cosineTopK(spark, sfDir),
        "q104" -> SimilarityQueries.hardNegatives(spark, sfDir))) {
      val windows = df.queryExecution.executedPlan.collect { case w: WindowExec => w }
      assert(windows.isEmpty, s"$name: per-anchor window sort in plan: $windows")
    }
  }

  test("q109: probe-all IVF hard negatives equal brute-force q104; class filter is pre-rank") {
    val spark = SparkSpec.spark
    val sfDir = "/root/testdata/sf0.01"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getInt(4),
          r.getDouble(5))).toSet
    // probe-all over the persisted label-carrying lists ≡ the exact
    // brute-force mining — the q76/q78 discipline, now for q104
    assert(rows(SimilarityQueries.hardNegativesIvf(spark, sfDir)) ===
      rows(SimilarityQueries.hardNegatives(spark, sfDir)),
      "probe-all IVF hard negatives must equal q104 brute force")
    // restricted probing still returns k wrong-class rows per anchor
    // (the class filter runs BELOW the rank: ranks stay dense 1..k)
    val narrow = SimilarityQueries
      .hardNegativesIvf(spark, sfDir, nProbe = SimilarityQueries.NProbe)
      .collect()
    assert(narrow.forall(r => r.getInt(1) != r.getInt(3)),
      "a same-class vector survived the pre-rank filter")
    val byAnchor = narrow.groupBy(_.getLong(0))
    assert(byAnchor.values.forall(_.map(_.getInt(4)).sorted.sameElements(1 to 5)),
      "ranks must stay dense 1..k after the pre-rank class filter")
  }

  test("IVF index append: frozen-codebook assignment, appended vectors found, no rebuild") {
    val spark = SparkSpec.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // appending MUTATES the index, so use a private embeddings snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    val rng = new Random(11)
    def vec(): Seq[Float] = Seq.fill(SimilarityQueries.Dim)(rng.nextFloat() * 2 - 1)
    val base = (0L until 300L).map(i => (i, vec(), (i % 7).toInt))
    base.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    SimilarityQueries.ivfIndex(spark, dir)
    // the appended batch: near-copies of the query vectors, so they MUST
    // surface as top neighbors through the grown lists
    val queriesIds = Seq(0L, 100L, 200L)
    val baseMap = base.map { case (id, v, _) => id -> v }.toMap
    val extra = queriesIds.zipWithIndex.map { case (qid, j) =>
      (300L + j, baseMap(qid).map(x => x + 0.01f * rng.nextFloat()), 0)
    }
    val toD = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
    SimilarityQueries.appendToIvfIndex(spark, dir,
      toD(extra.toDF("vec_id", "embedding", "label")))
    // expected: the SAME frozen codebook (stride over the base file),
    // assignment of base ∪ extra, same search — computed inline
    val baseEmb = toD(base.toDF("vec_id", "embedding", "label"))
    val unionEmb = toD((base ++ extra).toDF("vec_id", "embedding", "label"))
    val cents = SimilarityQueries.ivfCentroids(baseEmb)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expect = rows(SimilarityQueries.ivfSearch(
      SimilarityQueries.ivfQueries(baseEmb),
      SimilarityQueries.ivfAssign(unionEmb, cents), cents,
      5, SimilarityQueries.NProbe))
    val got = rows(SimilarityQueries.ivfTopKIndexed(spark, dir,
      nProbe = SimilarityQueries.NProbe))
    assert(got === expect,
      "post-append persisted search must equal inline frozen-codebook search")
    // the near-copies really are reachable through the appended lists
    for ((qid, j) <- queriesIds.zipWithIndex)
      assert(got.exists { case (q, n, rank) => q == qid && n == 300L + j && rank == 1 },
        s"appended near-copy of query $qid must be its top neighbor")
    // ... and the PQ code leg grew in lockstep: the persisted ADC probe
    // equals the inline scan over base ∪ extra (adcSearchAll derives
    // its codebook from stride ids < 49, which are all in the base, so
    // it IS the index's frozen codebook)
    val expectPq = rows(ProductQuantization.adcSearchAll(
      SimilarityQueries.ivfQueries(baseEmb), unionEmb, 5))
    assert(rows(ProductQuantization.ivfPqTopKIndexed(spark, dir)) === expectPq,
      "post-append persisted IVF-PQ must equal inline frozen-codebook ADC")
  }

  /** Assert that `dataDir`'s forced-SMJ, AQE-off q78 plan reads the
    * persisted IVF list table with no exchange between the scan and its
    * nearest join — the worst case: if even the un-broadcast plan is
    * exchange-free, the bucketing (and its survival through append /
    * compaction) is doing its job. */
  private def assertListSideExchangeFree(spark: org.apache.spark.sql.SparkSession,
                                         dataDir: String): Unit = {
    val saved = Seq(
      "spark.sql.adaptive.enabled" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = SimilarityQueries.ivfTopKIndexed(spark, dataDir)
        .queryExecution.executedPlan
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec}
      def isListScan(p: SparkPlan): Boolean = p match {
        case sc: FileSourceScanExec =>
          sc.tableIdentifier.exists(_.table.startsWith("ivf_lists"))
        case _ => false
      }
      // root-to-scan path: the segment between the list scan and its
      // nearest join ancestor must be exchange-free
      def paths(p: SparkPlan, acc: List[SparkPlan]): Seq[List[SparkPlan]] = {
        val here = p :: acc
        if (isListScan(p)) Seq(here) else p.children.flatMap(c => paths(c, here))
      }
      val scanPaths = paths(plan, Nil)
      assert(scanPaths.nonEmpty, "q78 plan reads no persisted list table")
      assert(scanPaths.exists(_.exists(_.isInstanceOf[SortMergeJoinExec])),
        "forced-SMJ setup failed: no sort-merge join above the list scan")
      for (path <- scanPaths) {
        val toJoin = path.takeWhile(!_.isInstanceOf[BaseJoinExec])
        val shuffles = toJoin.filter(_.isInstanceOf[ShuffleExchangeExec])
        assert(shuffles.isEmpty,
          s"exchange between IVF list scan and its join:\n${path.head}")
      }
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q78 plan never shuffles or recomputes the persisted IVF lists") {
    assertListSideExchangeFree(SparkSpec.spark, "/root/testdata/sf0.01")
  }

  test("IVF index compaction: per-append files merge to one per bucket, search and plan unchanged") {
    val spark = SparkSpec.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // compaction MUTATES the index files, so use a private snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-compact").toString
    val rng = new Random(23)
    def vec(): Seq[Float] = Seq.fill(SimilarityQueries.Dim)(rng.nextFloat() * 2 - 1)
    val base = (0L until 300L).map(i => (i, vec(), (i % 7).toInt))
    base.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    SimilarityQueries.ivfIndex(spark, dir)
    val toD = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
    // three nightly appends — each lands its own file set per table
    for (r <- 0 until 3) {
      val extra = (0 until 10).map(j => (400L + 10 * r + j, vec(), 0))
      SimilarityQueries.appendToIvfIndex(spark, dir,
        toD(extra.toDF("vec_id", "embedding", "label")))
    }
    val loc = graft.ops.DurableIndex.locate(dir, SimilarityQueries.IvfIndex).loc
    def files(name: String) =
      graft.ops.DurableIndex.dataFiles(loc.resolve(name)).size
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val searchBefore = rows(SimilarityQueries.ivfTopKIndexed(spark, dir))
    val adcBefore = rows(ProductQuantization.ivfPqTopKIndexed(spark, dir))
    assert(files("lists") > SimilarityQueries.IvfIndexBuckets,
      s"precondition: appends should leave >1 file per bucket, got ${files("lists")}")
    SimilarityQueries.compactIvfIndex(spark, dir)
    assert(files("lists") <= SimilarityQueries.IvfIndexBuckets &&
      files("codes") <= SimilarityQueries.IvfIndexBuckets,
      s"compaction must leave at most one file per bucket: " +
        s"lists=${files("lists")} codes=${files("codes")}")
    assert(rows(SimilarityQueries.ivfTopKIndexed(spark, dir)) === searchBefore,
      "compaction must not change IVF search results")
    assert(rows(ProductQuantization.ivfPqTopKIndexed(spark, dir)) === adcBefore,
      "compaction must not change ADC search results")
    assertListSideExchangeFree(spark, dir)
  }

  test("q96 label audit flags a planted label flip and points at the true label") {
    val spark = SparkSpec.spark
    val dir = "/root/testdata/sf0.001"
    val emb = graft.ops.Tables.embeddings(spark, dir)
    // victim = the CLEAN audit's max-margin vector: its own-centroid
    // cosine beats every other centroid by the widest gap, so after a
    // flip (own := some wrong centroid, true centroid moves to the
    // "other" side) suspect=true and nearest_other=true label follow
    // from the margin alone — single-member centroid drift is noise
    // against it. An arbitrary victim has no such guarantee: plenty of
    // honest vectors sit nearer a foreign centroid (that is the point
    // of the audit).
    val clean = SimilarityQueries.labelAuditFrom(emb).collect()
    val victim = clean.filter(r => !r.getBoolean(5))
      .maxBy(r => r.getDouble(3) - r.getDouble(4))
    val (vid, trueLabel) = (victim.getLong(0), victim.getInt(1))
    val wrongLabel = (trueLabel + 1) % 10
    val flipped = emb.withColumn("label",
      when(col("vec_id") === vid, lit(wrongLabel)).otherwise(col("label")))
    val audit = SimilarityQueries.labelAuditFrom(flipped)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getBoolean(5))).toMap
    val (gotLabel, nearestOther, suspect) = audit(vid)
    assert(gotLabel === wrongLabel)
    assert(suspect, s"flipped vector $vid must be flagged suspect")
    assert(nearestOther === trueLabel,
      s"nearest other centroid should be the true label $trueLabel, got $nearestOther")
  }

  test("mmrSelect diversifies: a redundant near-copy of the first pick loses to a diverse candidate") {
    // query direction = e0. c1 is the best match; c2 is a near-copy of
    // c1 (slightly lower relevance, sim(c1,c2) ≈ 1); c3 is diverse
    // (lower relevance, near-orthogonal to c1). Pure top-3 relevance
    // order is c1,c2,c3 — MMR at λ=0.5 must flip c3 ahead of c2:
    // score(c2) ≈ .98 − .5·1 ≈ .48 < score(c3) ≈ .70 − .5·0 = .70.
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val c1 = unit(Array(1.0, 0.0, 0.0, 0.0))
    val c2 = unit(Array(1.0, 0.02, 0.0, 0.0))
    val c3 = unit(Array(0.0, 0.0, 1.0, 0.0)) // orthogonal to c1/c2
    val ids  = Array(10L, 20L, 30L)
    val rels = Array(1.0, 0.98, 0.70) // round-6 relevances to the query
    val sel = SimilarityQueries.mmrSelect(ids, rels, Array(c1, c2, c3),
      k = 3, lambda = SimilarityQueries.MmrLambda)
    assert(sel.map(_._1).toSeq === Seq(10L, 30L, 20L),
      s"expected diverse pick order, got ${sel.toSeq}")
    // step-1 mmr is the raw relevance; later steps are penalized
    assert(sel(0)._2 === 1.0)
    assert(sel(1)._2 > sel(2)._2)
  }

  test("mmrSelect is input-order independent (collect_list order must not matter)") {
    val rng = new Random(11)
    val dim = 8
    val n = 12
    val vecs = Array.fill(n)(Array.fill(dim)(rng.nextGaussian()))
    val ids = Array.tabulate(n)(i => (i * 7 + 3).toLong)
    val rels = Array.fill(n)(math.rint(rng.nextDouble() * 1e6) / 1e6)
    val perm = rng.shuffle((0 until n).toList).toArray
    val a = SimilarityQueries.mmrSelect(ids, rels, vecs, 5, 0.5)
    val b = SimilarityQueries.mmrSelect(perm.map(ids), perm.map(rels),
      perm.map(vecs), 5, 0.5)
    assert(a.toSeq === b.toSeq)
  }

  test("q143: rank-1 equals q20's rank-1 (step 1 is pure relevance); picks come from the pool") {
    val spark = SparkSpec.spark
    val sfDir = "/root/testdata/sf0.01"
    val mmr = SimilarityQueries.mmrRerank(spark, sfDir).collect()
    val top = SimilarityQueries.cosineTopK(spark, sfDir, k = SimilarityQueries.MmrPool)
      .collect()
    val mmrFirst = mmr.filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val topFirst = top.filter(_.getInt(2) == 1)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mmrFirst === topFirst)
    val pool = top.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mmr.forall(r => pool((r.getLong(0), r.getLong(2)))),
      "every MMR pick must come from the q20 top-m candidate pool")
    // k ranks per query, no repeats within a query
    mmr.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.length === SimilarityQueries.MmrK, s"qid $qid")
      assert(rows.map(_.getLong(2)).distinct.length === rows.length)
    }
  }
}
