package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.DurableIndex

/** q287 — the JL family's DEPLOYED configuration: IVF search in the
  * 16-dim JL-projected space over a TRAINED √N-list Lloyd codebook,
  * probing a PERSISTED index — the composition q284's own design note
  * (`SimilarityQueries.scala` jlTopKIvf doc) says a deployment runs,
  * registered and oracle-checked at the production probe setting
  * (VERDICT r17 item 5).
  *
  * Why this exists next to q284: q284 proves the projected-space IVF
  * machinery but rides the deterministic stride codebook, whose
  * nlist ∝ N makes its assignment stage N·nlist = quadratic at 100×
  * scale. Here the codebook is (a) TRAINED — [[KMeans.updateCentroids]]
  * Lloyd rounds, the real clustering — and (b) √N-sized by
  * construction ([[seedStride]] keeps nlist ≈ √N whatever the corpus),
  * so codebook broadcast stays tiny, assignment is N·√N once per
  * SNAPSHOT (inside the durable index build, carried in Bench's
  * `index_build` split), and the registered query is probe-only:
  * queries × √N-codebook broadcast + a join that shuffles only the
  * probe side (the bucketed list scan arrives pre-partitioned on
  * cent_id — the q78 cost model, in the 4× cheaper space).
  *
  * Oracle discipline: the q44 rule — oracle what you deploy. The
  * DuckDB twin recomputes the WHOLE arc inline (JL projection, √N
  * stride seed, [[KMeans.Iters]] unrolled Lloyd rounds, assignment,
  * probe, search) at the production nProbe; probe-ALL equivalence to
  * the brute [[SimilarityQueries.jlTopK]] is additionally spec-pinned
  * (the q113 discipline), so both the restricted and exhaustive
  * settings are checked.
  *
  * Determinism: every stage reuses an already-pinned contract — JL
  * folds are sequential per-coordinate (q282/q284), Lloyd updates are
  * round(avg, 9) per component with lineage truncation (q110),
  * assignment/probe ranking is round-6 cosine + lowest-id tiebreak
  * everywhere (q44). */
object JlIvf {

  /** Seed-stride for a √N-list codebook: stride ≈ N/⌊√N⌋ so
    * nlist ≈ √N at every corpus size (sf0.01: 70 lists; sf1: 223;
    * 10¹⁰ vectors: 10⁵ lists — the codebook broadcast stays MBs).
    * floor(sqrt(double)) is IEEE-correctly-rounded in both engines
    * (unlike ln), so the stride — and with it the seed set — is
    * engine-exact. */
  def seedStride(n: Long): Long = {
    val isqrt = math.max(1L, math.sqrt(n.toDouble).toLong)
    math.max(1L, n / isqrt)
  }

  /** The √N-stride seed over a projected (vec_id, e) frame. Offset is
    * `1 % stride` so the degenerate stride-1 corpus (n ≤ 1) still
    * seeds (everything) instead of seeding nothing. */
  def seededCentroids(emb: DataFrame, n: Long): DataFrame = {
    val stride = seedStride(n)
    emb.filter(col("vec_id") % stride === (1L % stride))
      .select(col("vec_id").as("cent_id"), col("e").as("ce"))
  }

  /** The trained projected-space codebook from an explicit frame —
    * the unit the spec drives. One `count` job for the stride, then
    * [[KMeans.Iters]] Lloyd rounds (each: broadcast-assign scan +
    * nlist·dim-bounded update aggregate, lineage-truncated). */
  def codebookFrom(emb: DataFrame, iters: Int = KMeans.Iters): DataFrame = {
    var cents = seededCentroids(emb, emb.count())
    for (_ <- 1 to iters)
      cents = KMeans.updateCentroids(SimilarityQueries.ivfAssign(emb, cents))
    cents
  }

  /** The durable JL-IVF index: trained √N-list codebook + assigned
    * lists (projected vectors, bucketed by cent_id), built once per
    * embeddings snapshot under the shared [[graft.ops.DurableIndex]]
    * lifecycle. The N·√N assignment lives HERE, not in any pull. */
  def jlIvfIndex(s: SparkSession, d: String): (String, String) = {
    val ix = DurableIndex.open(s, d, JlIvfIndex)
    (ix.table("jlivf_cents"), ix.table("jlivf_lists"))
  }

  val JlIvfIndex: DurableIndex.Spec = DurableIndex.Spec("jlivf", "embeddings.parquet", Seq(
      DurableIndex.Table("jlivf_cents", "cents", "cent_id BIGINT, ce ARRAY<DOUBLE>"),
      DurableIndex.Table("jlivf_lists", "lists", "cent_id BIGINT, vec_id BIGINT, e ARRAY<DOUBLE>",
        Some("cent_id" -> SimilarityQueries.IvfIndexBuckets))),
    Some("jl_ivf")) { (s, d, ix) =>
    val emb = SimilarityQueries.jlProjected(s, d)
    val cents = codebookFrom(emb)
    ix.write("jlivf_cents", cents)
    ix.write("jlivf_lists", SimilarityQueries.ivfAssign(emb, cents))
  }

  /** q287 — probe-only search against the persisted JL-IVF index at
    * the production probe setting. Queries are read FROM the list
    * table (they are corpus vectors; the index already holds their
    * projections), so the pull touches only index files: one
    * |Q| × √N broadcast probe-selection pass + the bucketed list join
    * + the bounded top-k aggregate. Output schema = q44's. */
  def jlTrainedTopK(s: SparkSession, d: String, k: Int = 5,
                    nProbe: Int = SimilarityQueries.NProbe): DataFrame = {
    val (centTbl, listTbl) = jlIvfIndex(s, d)
    val lists = s.table(listTbl)
    val queries = lists.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    SimilarityQueries.ivfSearch(queries, lists, s.table(centTbl), k, nProbe)
  }

  /** Full DuckDB twin of the deployed arc: projection → √N seed →
    * [[KMeans.Iters]] Lloyd rounds → assignment → production-nProbe
    * probe → search. CTE shapes mirror [[KMeans.kmeansAssignSql]]
    * (training) and [[SimilarityQueries.ivfTopKSqlFrom]] (search). */
  val jlTrainedTopKSql: String = {
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
    val iters = KMeans.Iters
    val iterCtes = (1 to iters)
      .map(i => assign(i, if (i == 1) "c0" else s"c${i - 1}") + ", " + update(i))
      .mkString(", ")
    val fin = iters + 1
    (s"""WITH v AS (${SimilarityQueries.jlProjectedSqlBody}),
        |nn AS (SELECT greatest(1, count(*) //
        |  greatest(1, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))) AS stride FROM v),
        |c0 AS (SELECT vec_id AS cent_id, e AS ce FROM v, nn
        |  WHERE vec_id % nn.stride = 1 % nn.stride),
        |$iterCtes,
        |${assign(fin, s"c$iters")},
        |assigned AS (SELECT a$fin.vec_id, a$fin.cent_id, v.e FROM a$fin JOIN v USING (vec_id)),
        |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id % 100 = 0),
        |pc AS (SELECT q.qid, c.cent_id, list_cosine_similarity(q.qe, c.ce) AS qcos FROM q CROSS JOIN c$iters c),
        |pr AS (SELECT qid, cent_id, row_number() OVER (PARTITION BY qid ORDER BY round(qcos, 6) DESC, cent_id) AS r FROM pc),
        |probes AS (SELECT qid, cent_id FROM pr WHERE r <= ${SimilarityQueries.NProbe}),
        |scored AS (SELECT p.qid, a.vec_id, list_cosine_similarity(q.qe, a.e) AS cos
        |  FROM probes p JOIN assigned a ON a.cent_id = p.cent_id JOIN q ON q.qid = p.qid WHERE a.vec_id <> p.qid),
        |ranked AS (SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, vec_id) AS rank FROM scored)
        |SELECT qid, vec_id AS neighbor_id, rank, round(cos, 4) AS cos FROM ranked WHERE rank <= 5""")
      .stripMargin.replace("\n", " ")
  }
}
