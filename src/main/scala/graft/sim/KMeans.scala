package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DurableIndex, Tables}

/** Distributed LLOYD'S k-means over the embedding table — the REAL
  * codebook trainer behind the IVF family's deterministic stride
  * stand-in ([[SimilarityQueries.ivfCentroids]] documents itself as
  * exactly that placeholder; reference scope: the training-data
  * pipeline's clustering stage, cf. SemDeDup §3 cluster step,
  * reference `scripts/model_def.py:1-41` trains its model the same
  * offline-then-broadcast way).
  *
  * Each iteration is the canonical scalable shape:
  *  - ASSIGN: broadcast the (nlist × dim) codebook, one corpus scan,
  *    nearest centroid by round-6-quantized cosine with cent_id
  *    tiebreak ([[SimilarityQueries.ivfAssign]] reused verbatim — the
  *    same argmax q44/q78/q88 run);
  *  - UPDATE: per-(centroid, dim) mean — a hash aggregate BOUNDED at
  *    nlist·dim rows regardless of corpus size, reassembled to arrays
  *    with a dim-bounded sorted collect and localCheckpoint'ed (the
  *    CC-rounds discipline: plan growth per iteration is truncated,
  *    and the tiny frame broadcasts into the next assign).
  *
  * So an iteration costs one scan + one bounded aggregate; iterations
  * are few and fixed. At 100 TB the only upgrades are k-means|| style
  * oversampled INIT instead of the stride seed and more lists — the
  * loop shape is unchanged.
  *
  * FLOAT RULE: centroid components are `round(avg, 9)` in BOTH
  * engines, so the next iteration's cosines are computed from
  * bit-identical inputs and the cross-engine ULP drift of
  * sum-of-doubles dies at each iteration boundary instead of
  * compounding; the registered output itself ([[kmeansAssign]]) is
  * integer-only (vec_id, cent_id, iteration count of its cluster).
  * Clusters that attract no vectors drop out of the codebook — the
  * standard Lloyd's behavior, identical in both engines because the
  * assignment is. */
object KMeans {

  /** Fixed refinement depth of the registered query (unrolled in the
    * oracle SQL — keep them in lockstep). */
  val Iters = 2

  // spreadScan: the single-row-group test parquet pins the scan — and
  // with it the whole pipelined cross-product cosine pass — to ONE
  // task (r18 profile: q110's 20 s was one core computing N·nlist
  // cosines); redistribute before the broadcast join
  private def embFrame(s: SparkSession, d: String): DataFrame =
    graft.dedup.DedupQueries.spreadScan(s, Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  /** One UPDATE step: assigned (cent_id, vec_id, e) → refreshed
    * codebook (cent_id, ce), round-9 components, lineage-truncated. */
  def updateCentroids(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cent_id"), posexplode(col("e")).as(Seq("pos", "v")))
      .groupBy("cent_id", "pos").agg(round(avg("v"), 9).as("cv"))
      .groupBy("cent_id")
      .agg(expr("transform(sort_array(collect_list(struct(pos, cv))), x -> x.cv)")
        .as("ce"))
      .localCheckpoint(true)

  /** The trained codebook after `iters` Lloyd rounds from the stride
    * seed, over an explicit (vec_id, e) frame — the unit the spec
    * drives on planted blobs. */
  def codebookFrom(emb: DataFrame, iters: Int = Iters): DataFrame = {
    var cents = SimilarityQueries.ivfCentroids(emb)
    for (_ <- 1 to iters)
      cents = updateCentroids(SimilarityQueries.ivfAssign(emb, cents))
    cents
  }

  /** Table-level [[codebookFrom]]. */
  def codebook(s: SparkSession, d: String): DataFrame =
    codebookFrom(embFrame(s, d))

  /** Durable TRAINED-CODEBOOK table: the Lloyd centroids persisted
    * once per corpus snapshot under the [[graft.ops.DurableIndex]]
    * lifecycle (snapshot tag from the embeddings files, build-once
    * lock, completion marker, per-session catalog re-registration) —
    * the q271 persist-and-probe precedent applied to training. The
    * registered q110 was the registry's most expensive sf1 query
    * (69.8 s isolated) because it re-ran Lloyd training inside every
    * pull; training now runs ONCE per snapshot into this table
    * (carried in Bench's `index_build` split like the other durable
    * artifacts) and every assignment pull broadcasts the stored
    * codebook. The table IS [[codebook]]'s result written down —
    * round-9 centroid components survive the parquet round-trip
    * bit-exactly, so assignment from the stored codebook equals
    * assignment from a fresh train (KMeansSpec pins it) and the
    * oracle is unchanged. A data refresh changes the tag and versions
    * the table; stale reuse is impossible. */
  def centroidsTable(s: SparkSession, d: String): String =
    DurableIndex.open(s, d, Centroids).table(s"kmeans_centroids_$Iters")

  /** The location and table names carry [[Iters]], so a change of
    * refinement depth versions the stored codebook. */
  val Centroids: DurableIndex.Spec = DurableIndex.Spec(s"kmeans$Iters", "embeddings.parquet",
    Seq(DurableIndex.Table(s"kmeans_centroids_$Iters", "centroids",
      "cent_id BIGINT, ce ARRAY<DOUBLE>")),
    Some("kmeans_centroids")) { (s, d, ix) =>
    ix.write(s"kmeans_centroids_$Iters", codebook(s, d))
  }

  /** The persisted codebook as a frame — the probe side of every
    * trained-centroid consumer (q110 assignment, q113 search). */
  def storedCodebook(s: SparkSession, d: String): DataFrame =
    s.table(centroidsTable(s, d))

  /** [[kmeansAssign]] over an explicit (vec_id, e) frame. */
  def kmeansAssignFrom(emb: DataFrame, iters: Int = Iters): DataFrame = {
    val assigned = SimilarityQueries
      .ivfAssignSlim(emb, codebookFrom(emb, iters))
    val sizes = assigned.groupBy("cent_id").agg(count(lit(1)).as("cluster_size"))
    assigned.join(broadcast(sizes), "cent_id")
      .select(col("vec_id"), col("cent_id"), col("cluster_size"))
  }

  /** q110 — final assignment of every vector against the trained
    * codebook, plus each cluster's member count (one more bounded
    * aggregate on the same exchange). Integer-only output.
    *
    * PERSIST-AND-PROBE: the codebook comes from the durable
    * [[centroidsTable]] (trained once per snapshot), so the registered
    * query is ONE broadcast-assign corpus pass + the nlist-bounded
    * size aggregate — no Lloyd iterations inside the pull; the assign
    * is the SLIM struct-max form ([[SimilarityQueries.ivfAssignSlim]])
    * since only labels leave this query — r18 measured the rank-1
    * window form sorting the whole N·nlist cross product (22.4 s vs
    * 1.5 s at sf1), which was the entire r16/r17 "q110 residual". The
    * training-inclusive form lives on as [[kmeansAssignFrom]] (the
    * spec's blob-test unit and the build path itself). */
  def kmeansAssign(s: SparkSession, d: String): DataFrame = {
    val assigned = SimilarityQueries
      .ivfAssignSlim(embFrame(s, d), storedCodebook(s, d))
    val sizes = assigned.groupBy("cent_id").agg(count(lit(1)).as("cluster_size"))
    assigned.join(broadcast(sizes), "cent_id")
      .select(col("vec_id"), col("cent_id"), col("cluster_size"))
  }

  /** q113 — IVF top-k SEARCHING OVER THE TRAINED CODEBOOK: q110's
    * Lloyd centroids plugged into the exact [[SimilarityQueries
    * .ivfSearch]] machinery q44/q78 run — the full train→index→search
    * arc in one registered plan. Probe-all makes the output identical
    * to brute force WHATEVER the codebook (every list is scanned), so
    * the q20 oracle checks the composition end-to-end; the codebook's
    * effect at a fixed production nProbe is MEASURED in KMeansSpec
    * against the stride seed (the q76/q78 discipline: oracle the
    * exhaustive setting, measure the restricted one). Measured result
    * on the synthetic corpus: WORSE recall than the stride seed (0.48
    * vs 0.64 at nProbe=4) — the test embeddings are structureless, so
    * Lloyd rounds drift centroids toward the global mean; on clustered
    * data (every real encoder's space — the KMeansSpec blob test) the
    * trained centroids align with the clusters, which is when you'd
    * deploy this. Recorded as-is rather than tuned away. */
  def ivfTopKTrained(s: SparkSession, d: String, k: Int = 5,
                     nProbe: Int = Int.MaxValue): DataFrame = {
    val emb = embFrame(s, d)
    val cents = storedCodebook(s, d) // the durable train artifact (q110's)
    SimilarityQueries.ivfSearch(SimilarityQueries.ivfQueries(emb),
      SimilarityQueries.ivfAssign(emb, cents), cents, k, nProbe)
  }

  val kmeansAssignSql: String = {
    import SimilarityQueries.{CentStride, CentOffset}
    // one ASSIGN CTE pair from codebook `cin`, producing assignment
    // a<i>; one UPDATE CTE pair producing codebook c<i>
    def assign(i: Int, cin: String): String =
      s"""s$i AS (SELECT v.vec_id, c.cent_id,
         |  list_cosine_similarity(v.e, c.ce) AS cc FROM v CROSS JOIN $cin c),
         |a$i AS (SELECT vec_id, cent_id FROM (SELECT vec_id, cent_id,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY round(cc, 6) DESC, cent_id) AS r
         |  FROM s$i) WHERE r = 1)""".stripMargin
    def update(i: Int): String =
      s"""d$i AS (SELECT a$i.cent_id, generate_subscripts(v.e, 1) - 1 AS pos, unnest(v.e) AS x
         |  FROM a$i JOIN v USING (vec_id)),
         |m$i AS (SELECT cent_id, pos, round(avg(x), 9) AS cv FROM d$i GROUP BY cent_id, pos),
         |c$i AS (SELECT cent_id, list(cv ORDER BY pos) AS ce FROM m$i GROUP BY cent_id)""".stripMargin
    val iterCtes = (1 to Iters)
      .map(i => assign(i, if (i == 1) "c0" else s"c${i - 1}") + ", " + update(i))
      .mkString(", ")
    val fin = Iters + 1
    (s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |c0 AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id % $CentStride = $CentOffset),
        |$iterCtes,
        |${assign(fin, s"c$Iters")},
        |sz AS (SELECT cent_id, count(*) AS cluster_size FROM a$fin GROUP BY cent_id)
        |SELECT a$fin.vec_id, a$fin.cent_id, sz.cluster_size
        |FROM a$fin JOIN sz USING (cent_id)""").stripMargin.replace("\n", " ")
  }
}
