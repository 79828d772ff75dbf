package graft.dedup

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** End-to-end checks of the banded near-dup pipeline against brute-force
  * ground truth on the small driver corpus. */
class DedupSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  test("minHashJaccardPairs finds exactly the brute-force J>=0.5 pairs (sf0.001)") {
    val spark = SparkSpec.spark
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // brute force on the driver (tiny corpus)
    val shingles: Seq[(Long, Array[String])] = docs.toSeq.map { case (id, t) =>
      id -> Hashing.wordShingles(t, DedupQueries.ShingleN)
    }
    // same round-to-4 as the query's emitted jaccard (0.49997 → 0.5)
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val truth = (for {
      (a, sa) <- shingles; (b, sb) <- shingles if a < b
      j = r4(Hashing.exactJaccard(sa, sb)) if j >= DedupQueries.MinJaccard
    } yield (a, b)).toSet
    val found = DedupQueries.minHashJaccardPairs(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found === truth,
      s"missed=${(truth -- found).take(5)} extra=${(found -- truth).take(5)}")
  }

  test("dedupClusters equals driver-side union-find over the emitted pairs (sf0.001)") {
    val spark = SparkSpec.spark
    val pairs = DedupQueries.minHashJaccardPairs(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0))
    // union-find ground truth
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = ids.map(i => i -> find(i)).toMap
    val got = DedupQueries.dedupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === truth)
    // clustering must be transitive even where the pair list isn't complete
    val byCluster = truth.groupBy(_._2)
    assert(byCluster.exists(_._2.size > 1), "corpus should have at least one real cluster")
  }

  test("identical texts share every MinHash band") {
    val spark = SparkSpec.spark
    val bands = DedupQueries.minHashBands(spark, sfDir).collect()
      .groupBy(_.getLong(0)).map { case (id, rows) =>
        id -> rows.sortBy(_.getInt(1)).map(_.getString(2)).toSeq
      }
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    for {
      (a, ta) <- docs; (b, tb) <- docs if a < b && ta == tb
    } assert(bands(a) == bands(b), s"dup docs $a/$b disagree on bands")
    // every doc has the full band fan-out
    assert(bands.values.forall(_.length == DedupQueries.MinHashBands))
  }

  test("simHash query blocks agree with the driver-side fingerprint") {
    val spark = SparkSpec.spark
    val fromQuery = DedupQueries.simHash(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(i => r.getInt(i)).toSeq).toMap
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
    docs.foreach { r =>
      val expect = Hashing.simHashBlocks(
        Hashing.simHash64(Hashing.tokens(r.getString(1)))).toSeq
      assert(fromQuery(r.getLong(0)) == expect)
    }
  }

  test("exact dedup groups equal texts") {
    val spark = SparkSpec.spark
    val docs = graft.ops.Tables.documents(spark, sfDir).count()
    val agg = DedupQueries.exactDedup(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum("n_copies")).head().getLong(0)
    assert(agg === docs) // every doc lands in exactly one group
  }

  test("large-star/small-star equals label propagation on random graphs") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 4) {
      val n = 24 + trial * 8
      val ids = (0L until n).toArray
      val edges = (for {
        _ <- 1 to n
        a = rnd.nextInt(n).toLong; b = rnd.nextInt(n).toLong if a != b
      } yield (math.min(a, b), math.max(a, b))).distinct
      val docsDf = ids.toSeq.toDF("doc_id")
      val edgesDf = edges.toDF("doc_a", "doc_b")
      val prop = DedupQueries.clustersFromEdges(docsDf, edgesDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val star = DedupQueries.clustersLargeSmallStar(docsDf, edgesDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star === prop, s"trial $trial: star != propagation")
    }
  }

  test("star contraction collapses a diameter-100 chain in O(log) rounds") {
    val spark = SparkSpec.spark
    import spark.implicits._
    // a 101-node path 0-1-2-…-100: worst case for propagation
    // (needs ~100 rounds, more than the default iteration cap)
    val ids = (0L to 100L).toSeq
    val edges = ids.init.map(i => (i, i + 1))
    val (labels, iters) = DedupQueries.clustersLargeSmallStarWithStats(
      ids.toDF("doc_id"), edges.toDF("doc_a", "doc_b"))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === ids.map(_ -> 0L).toMap, "every chain node labels to 0")
    assert(iters <= 12, s"expected O(log n) rounds on the chain, took $iters")
  }

  test("adversarial star+chain (10k nodes): propagation is diameter-bound, star contraction is not") {
    val spark = SparkSpec.spark
    import spark.implicits._
    // component 1: a 5001-node star (hub 0, leaves 1..5000) — diameter 2
    // component 2: a 4999-node chain 5001-…-9999 — diameter ~5000, the
    // shape that makes O(diameter) propagation unusable
    val starEdges = (1L to 5000L).map(i => (0L, i))
    val chainEdges = (5001L until 9999L).map(i => (i, i + 1))
    val docsDf = (0L to 9999L).toDF("doc_id")
    val edgesDf = (starEdges ++ chainEdges).toDF("doc_a", "doc_b")

    // star contraction: full convergence in O(log n) rounds, labels exact
    val (starLabels, starIters) =
      DedupQueries.clustersLargeSmallStarWithStats(docsDf, edgesDf)
    val got = starLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ((0L to 5000L).map(_ -> 0L) ++ (5001L to 9999L).map(_ -> 5001L)).toMap
    assert(got === want)
    assert(starIters <= 15, s"star contraction took $starIters rounds on the chain")

    // propagation: after 20 rounds labels are STILL changing — the
    // chain needs ~diameter rounds, which is exactly the swap criterion
    val (_, propIters, stillChanging) =
      DedupQueries.clustersFromEdgesWithStats(docsDf, edgesDf, maxIters = 20)
    assert(propIters === 20)
    assert(stillChanging > 0,
      "propagation should NOT converge on a 5k chain within 20 rounds")

    // …while on the shallow star alone (the real near-dup shape)
    // propagation converges immediately — why it stays the default
    val (_, starOnlyIters, done) = DedupQueries.clustersFromEdgesWithStats(
      (0L to 5000L).toDF("doc_id"), starEdges.toDF("doc_a", "doc_b"), maxIters = 20)
    assert(done === 0L && starOnlyIters <= 3,
      s"propagation on the shallow star: $starOnlyIters rounds, changing=$done")
  }

  test("char-5-gram Jaccard pairs: sound (all >= tau) and complete vs brute force at J >= 0.9") {
    val spark = SparkSpec.spark
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val truthStrong = (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      j = r4(Hashing.exactJaccard(
        Hashing.charShingles(ta, DedupQueries.CharGramN),
        Hashing.charShingles(tb, DedupQueries.CharGramN))) if j >= 0.9
    } yield (a, b)).toSet
    val found = DedupQueries.charNgramJaccardPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // soundness: every emitted pair really has exact J >= tau
    found.foreach { case (a, b, j) =>
      assert(j >= DedupQueries.CharGramMinJ, s"pair ($a,$b) below threshold: $j")
    }
    // completeness at J >= 0.9, where the 10x6 banding miss probability
    // is < 1e-3 per pair and the fixed corpus makes the check
    // deterministic either way
    val foundSet = found.map(t => (t._1, t._2)).toSet
    assert(truthStrong.subsetOf(foundSet),
      s"missed strong pairs: ${(truthStrong -- foundSet).take(5)}")
  }

  test("indexed incremental dedup (q75) emits exactly q71's verdicts") {
    val spark = SparkSpec.spark
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(DedupQueries.incrementalDedupIndexed(spark, sfDir)) ===
      rows(DedupQueries.incrementalDedup(spark, sfDir)))
  }

  /** Assert that in `session`'s forced-SMJ, AQE-off q75 plan, every
    * scan of the bucketed index tables reaches its nearest join with no
    * exchange in between — the worst case: if even the un-broadcast
    * plan leaves the index scans exchange-free, the bucketing (and, for
    * a reusing session, the external-table re-registration) is doing
    * its job. Later shuffles — candidate distinct, final assembly —
    * legitimately have the scan somewhere below them. */
  private def assertIndexSideExchangeFree(session: org.apache.spark.sql.SparkSession,
                                          dataDir: String = sfDir): Unit = {
    val saved = Seq("spark.sql.adaptive.enabled" -> session.conf.get("spark.sql.adaptive.enabled"),
      "spark.sql.autoBroadcastJoinThreshold" -> session.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    session.conf.set("spark.sql.adaptive.enabled", "false")
    session.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = DedupQueries.incrementalDedupIndexed(session, dataDir)
        .queryExecution.executedPlan
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      def isIndexScan(p: SparkPlan) = p match {
        case sc: FileSourceScanExec =>
          sc.tableIdentifier.exists(_.table.startsWith("inc_corpus"))
        case _ => false
      }
      def paths(p: SparkPlan, acc: List[SparkPlan]): Seq[List[SparkPlan]] = {
        val here = p :: acc // scan-first when we bottom out
        if (isIndexScan(p)) Seq(here) else p.children.flatMap(c => paths(c, here))
      }
      val scanPaths = paths(plan, Nil)
      assert(scanPaths.nonEmpty, "expected scans of the bucketed index tables")
      scanPaths.foreach { path =>
        val belowJoin = path.takeWhile(!_.isInstanceOf[BaseJoinExec])
        val shuffles = belowJoin.filter(_.isInstanceOf[ShuffleExchangeExec])
        assert(shuffles.isEmpty,
          s"exchange between corpus index scan and its join:\n${path.head}")
      }
    } finally saved.foreach { case (k, v) => session.conf.set(k, v) }
  }

  test("q75 plan never shuffles the persisted corpus index") {
    assertIndexSideExchangeFree(SparkSpec.spark)
  }

  test("a fresh session probes the persisted index without rebuilding it") {
    val spark = SparkSpec.spark
    // build (or find) the durable index and snapshot its files
    val ix = graft.ops.DurableIndex.open(spark, sfDir, DedupQueries.CorpusIndex)
    val hashTbl = ix.table("inc_corpus_hashes")
    val loc = ix.loc
    def fileState(): Map[String, Long] = {
      val st = java.nio.file.Files.walk(loc)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => p.toString ->
            java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
      } finally st.close()
    }
    val expect = DedupQueries.incrementalDedupIndexed(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val before = fileState()
    // The cross-session scenario: catalog entries die with the session,
    // the FILES must carry the index. saveAsTable registers into the
    // SparkContext-wide SharedState catalog (newSession() still sees
    // it), so simulate a fresh session's empty catalog by dropping the
    // EXTERNAL tables — entries go, files and completion marker stay.
    spark.sql(s"DROP TABLE $hashTbl")
    spark.sql(s"DROP TABLE ${ix.table("inc_corpus_bands")}")
    assert(java.nio.file.Files.exists(
      loc.resolve("hashes")) && fileState() === before,
      "DROP TABLE on the external index must not touch its files")
    val fresh = spark.newSession()
    assert(!fresh.catalog.tableExists(hashTbl))
    val got = DedupQueries.incrementalDedupIndexed(fresh, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === expect)
    assert(fileState() === before,
      "fresh session rewrote the persisted index instead of reusing it")
    // and the re-registered external tables still carry the bucket
    // spec — without it the probe would silently shuffle the corpus
    assertIndexSideExchangeFree(fresh)
    assert(fileState() === before)
  }

  test("index append: admitted docs probe as exact dups next run, plan stays exchange-free") {
    val spark = SparkSpec.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // appending MUTATES the index, so use a private corpus snapshot
    // (the shared sf-dir indexes must keep matching their oracles)
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-append").toString
    val docs = (0L until 40L).map { i =>
      // disjoint word sets per doc: no shared shingles, so the
      // precondition "every batch doc is new" holds by construction
      (i, (1 to 12).map(j => s"w${i}_$j").mkString(" "))
    }
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val batch = graft.ops.Tables.documents(spark, dir)
      .filter(col("doc_id") % DedupQueries.IncBatchMod === DedupQueries.IncBatchRem)
      .select("doc_id", "text")
    val before = DedupQueries.incrementalDedupIndexed(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(before.nonEmpty && before.values.forall(_ == "new"),
      s"precondition: every batch doc new, got $before")
    DedupQueries.appendToCorpusIndex(spark, dir, batch)
    val after = DedupQueries.incrementalDedupIndexed(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after.keySet === before.keySet)
    assert(after.values.forall(_ == "exact_dup"),
      s"appended docs must probe as exact dups: $after")
    // the appended files carry bucket ids — the probe must still read
    // the grown index without an exchange
    assertIndexSideExchangeFree(spark, dir)
  }

  test("index compaction: per-append files merge to one per bucket, verdicts and plan unchanged") {
    val spark = SparkSpec.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // compaction MUTATES the index files, so use a private snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-compact").toString
    val docs = (0L until 60L).map { i =>
      (i, (1 to 12).map(j => s"c${i}_$j").mkString(" "))
    }
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val loc = graft.ops.DurableIndex.open(spark, dir, DedupQueries.CorpusIndex).loc
    // three nightly appends — each lands its own file set per table
    val all = graft.ops.Tables.documents(spark, dir).select("doc_id", "text")
    for (r <- 1L to 3L)
      DedupQueries.appendToCorpusIndex(spark, dir,
        all.filter(col("doc_id") % 10 === r))
    def files(name: String) =
      graft.ops.DurableIndex.dataFiles(loc.resolve(name)).size
    val before = DedupQueries.incrementalDedupIndexed(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(files("hashes") > DedupQueries.IndexBuckets,
      s"precondition: appends should leave >1 file per bucket, got ${files("hashes")}")
    DedupQueries.compactCorpusIndex(spark, dir)
    assert(files("hashes") <= DedupQueries.IndexBuckets &&
      files("bands") <= DedupQueries.IndexBuckets,
      s"compaction must leave at most one file per bucket: " +
        s"hashes=${files("hashes")} bands=${files("bands")}")
    val after = DedupQueries.incrementalDedupIndexed(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after === before, "compaction must not change probe verdicts")
    // the rewritten files still carry bucket ids and the re-registered
    // tables still carry the bucket spec
    assertIndexSideExchangeFree(spark, dir)
  }

  test("pairs from a PERSISTED band table equal the inline computation") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("bands").toString + "/bands"
    DedupQueries.minHashBands(spark, sfDir).write.parquet(dir)
    val persisted = spark.read.parquet(dir)
    val docs = graft.ops.Tables.documents(spark, sfDir).select("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      DedupQueries.minHashJaccardPairsFromBands(df, docs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs(persisted) === pairs(DedupQueries.minHashBands(spark, sfDir)))
  }

  test("pageRank equals driver-side integer fixed-point iteration (sf0.001)") {
    val spark = SparkSpec.spark
    import DedupQueries.{PrScale, PrDampNum, PrDampDen, PrIters}
    val ids = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0))
    val pairs = DedupQueries.minHashJaccardPairs(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "test corpus must contain near-dup edges")
    // driver-side replica: same integer floor-division algebra, so the
    // distributed result must match EXACTLY (no tolerance)
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    val n = ids.length.toLong
    val base = (PrScale * (PrDampDen - PrDampNum) / PrDampDen) / n
    var pr = ids.map(_ -> PrScale / n).toMap
    for (_ <- 1 to PrIters) {
      val in = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (s, d) =>
        in(d) += pr(s) * PrDampNum / (PrDampDen * deg(s))
      }
      pr = ids.map(i => i -> (base + in(i))).toMap
    }
    val got = DedupQueries.pageRank(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === pr)
    // hubs outrank satellites: some node gained mass beyond teleport,
    // and no node fell below the teleport floor
    assert(got.values.max > base && got.values.min >= base)
  }

  private def bruteTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val vs = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val tris = for {
      a <- vs; b <- vs if a < b && es((a, b))
      c <- vs if b < c && es((b, c)) && es((a, c))
    } yield Seq(a, b, c)
    tris.flatten.groupBy(identity).map { case (v, xs) => v -> xs.length.toLong }
  }

  test("triangle counts on planted clique/chain/star equal brute force") {
    val spark = SparkSpec.spark
    import spark.implicits._
    // K5 on 1..5 (each vertex in C(4,2)=6 triangles), a 3-chain 10-11-12
    // (none), a 4-star around 20 (none), one wedge-closing edge 10-12
    // (one triangle) — exercises hubs, tails, and the closing probe
    val edges: Seq[(Long, Long)] =
      (for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)) ++
        Seq((10L, 11L), (11L, 12L), (10L, 12L),
          (20L, 21L), (20L, 22L), (20L, 23L), (20L, 24L))
    val pairs = edges.toDF("doc_a", "doc_b")
    val got = DedupQueries.triangleCountsFromPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === bruteTriangles(edges))
    assert(got(1L) === 6L && got(10L) === 1L && !got.contains(20L))
  }

  test("q121 equals brute force over the emitted near-dup pairs (sf0.001 + sf0.01)") {
    val spark = SparkSpec.spark
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val pairs = DedupQueries.minHashJaccardPairs(spark, dir)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val got = DedupQueries.triangleCounts(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === bruteTriangles(pairs), s"dir=$dir")
    }
  }

  test("q129 equals the driver-side composition of q45 clusters and q85 splits (sf0.01)") {
    val spark = SparkSpec.spark
    val dir = "/root/testdata/sf0.01"
    val clusters = DedupQueries.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val splits = graft.text.CorpusOps.deterministicSplit(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val truth = clusters.groupBy(_._2).map { case (cluster, members) =>
      // keys is a SET — map through toSeq or equal split labels collapse
      val ss = members.keys.toSeq.map(splits)
      val (tr, va, te) = (ss.count(_ == "train").toLong,
        ss.count(_ == "val").toLong, ss.count(_ == "test").toLong)
      cluster -> ((members.size.toLong, tr, va, te,
        Seq(tr, va, te).count(_ > 0) >= 2))
    }
    val got = DedupQueries.splitLeakage(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))).toMap
    assert(got === truth)
    // the content-hash split CANNOT leak exact dups, but near-dups
    // hash apart — the audit must catch real cases on this corpus
    assert(got.values.exists(_._5), "corpus must contain leaky near-dup clusters")
    assert(got.values.count(_._5) < got.size, "not everything can leak")
  }

  test("q138 banding recall equals a brute-force driver audit (sf0.001)") {
    val spark = SparkSpec.spark
    val sampled = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .filter { case (id, _) =>
        (Hashing.md5Lower64(s"audit:|$id") & Long.MaxValue) % DedupQueries.AuditMod == 0L }
    // brute force: every sampled pair's scaled-integer Jaccard over
    // base-hash shingle sets, and banding catch via the signature bands
    val hs = sampled.map { case (id, t) =>
      id -> Hashing.wordShingles(t, DedupQueries.ShingleN)
        .map(Hashing.shingleBaseHash).distinct.sorted }
      .filter(_._2.nonEmpty).toMap // pair universe = docs with ≥ 1 shingle (oracle's base-join convention)
    val bandVals = {
      import spark.implicits._
      DedupQueries.minHashBandsOf(sampled.toSeq.toDF("doc_id", "text"))
        .collect().groupBy(_.getLong(0)).view
        .mapValues(_.map(r => (r.getInt(1), r.getString(2))).toSet).toMap
    }
    val universe = sampled.filter(p => hs.contains(p._1))
    val truth = (for {
      (a, _) <- universe; (b, _) <- universe if a < b
      jx = Hashing.exactJaccardX10kSorted(hs(a), hs(b))
      binId = (jx / 1000).toInt
      hit = bandVals(a).intersect(bandVals(b)).nonEmpty
    } yield (binId, hit)).groupBy(_._1).map { case (bin, xs) =>
      bin -> ((xs.size.toLong, xs.count(_._2).toLong)) }
    val got = DedupQueries.bandingRecall(spark, sfDir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === truth)
    // recall is the pinned integer ratio of the same two columns
    DedupQueries.bandingRecall(spark, sfDir).collect().foreach { r =>
      assert(r.getLong(3) == r.getLong(2) * 10000L / r.getLong(1)) }
  }

  test("q166 prefix-filter pairs equal brute-force J>=1/2 exactly, with exact fixed-point jx (sf0.001)") {
    val spark = SparkSpec.spark
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val sets: Seq[(Long, Set[Long])] = docs.toSeq.map { case (id, t) =>
      id -> Hashing.wordShingles(t, DedupQueries.ShingleN)
        .map(Hashing.shingleBaseHash).toSet
    }
    val truth = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      i = (sa & sb).size.toLong
      u = (sa | sb).size.toLong
      if i * DedupQueries.PrefixJacDen >= u * DedupQueries.PrefixJacNum
    } yield (a, b) -> ((i * 10000L + u / 2) / u)).toMap
    val got = DedupQueries.prefixFilterPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // COMPLETE recall (no LSH miss) and no extras: exact set equality
    assert(got === truth)
  }
}
