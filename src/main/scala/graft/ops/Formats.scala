package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Columnar-format interchange: the engine's tables are parquet, but
  * a lakehouse ingests from (and hands off to) ORC as a matter of
  * course — Hive-era warehouses emit it, and a migration is only
  * trustworthy when the round-trip is PROVEN lossless, not assumed.
  * The q132 order-insensitive checksum is exactly the right proof:
  * identical (count, xor) cells over the rendered rows on both sides
  * of the format boundary mean no row was dropped, duplicated, or
  * mangled by the conversion — the anti-entropy discipline applied to
  * a format migration instead of a replica pair. */
object Formats {

  /** q221 — ORC ROUND-TRIP CHECKSUM: persist the documents table as
    * ORC (build-once via [[DurableIndex]] — the write happens exactly
    * once per data snapshot, so the registered query is idempotent),
    * read it back through the ORC reader, and emit the per-source
    * row count + XOR-fold of the 63-bit row hash over the full
    * rendered row (doc_id, lang, n_chars AND the text body — the
    * columns a conversion could plausibly corrupt). The oracle
    * computes the same cells from the PARQUET original, so a
    * hash-match is machine-checked proof the ORC sink+source path is
    * lossless end to end.
    *
    * Scale shape: the conversion is one scan → one columnar write
    * partitioned the same as the source (here: spark's default file
    * grain); the audit is one ORC scan into a |sources|-bounded
    * aggregate with map-side partial XORs (commutative+associative —
    * file and partition order cannot change the fold, which is the
    * property that makes the check valid at any parallelism). At
    * 100 TB both sides stream; nothing is driver-sized. */
  def orcRoundTrip(s: SparkSession, d: String): DataFrame = {
    val docs = DurableIndex.open(s, d, OrcDocs).path("docs")
    val h = graft.functions.GraftFunctions.md5Lower64(
      concat_ws("|", lit("orc:"), col("doc_id"), col("lang"),
        col("n_chars"), col("text")))
      .bitwiseAND(Long.MaxValue)
    s.read.orc(docs)
      .select(col("source"), h.as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"), bit_xor(col("h")).as("xor_sum"))
  }

  /** q221's ORC copy of the documents table (a file, no catalog table). */
  val OrcDocs: DurableIndex.Spec =
    DurableIndex.Spec("orc-docs", "documents.parquet") { (s, d, ix) =>
      Tables.documents(s, d).write.mode("overwrite").orc(ix.path("docs"))
    }

  // The oracle reads the PARQUET original — that asymmetry IS the
  // check: parquet-in must equal orc-out cell for cell.
  val orcRoundTripSql: String =
    s"""WITH h AS (SELECT source,
       |  CAST(md5_number_lower('orc:' || '|' || CAST(doc_id AS VARCHAR)
       |    || '|' || lang || '|' || CAST(n_chars AS VARCHAR) || '|' || text)
       |  & ${Long.MaxValue} AS BIGINT) AS h FROM documents)
       |SELECT source, count(*) AS n_rows, CAST(bit_xor(h) AS BIGINT) AS xor_sum
       |FROM h GROUP BY 1""".stripMargin.replace("\n", " ")

  /** q266 — JSON-LINES ROUND-TRIP CHECKSUM: q221's proof applied to
    * the OTHER interchange format a pipeline actually meets — every
    * crawl dump, API export, and event feed arrives as JSONL, and
    * the writer/reader pair has more ways to corrupt a row than ORC
    * does (string escaping, unicode, newlines-in-text, number
    * rendering). Same q132 discipline: gzip-compressed JSONL written
    * once per snapshot ([[DurableIndex]]), read back through Spark's
    * native json source with the SCHEMA DECLARED (inference is both a
    * second scan and a correctness hazard — a numeric-looking text
    * column would come back as a number), then the per-source
    * (count, XOR) cells against the parquet original.
    *
    * Scale shape: identical to q221 — one scan → one streamed
    * compressed write, one JSONL scan into a |sources|-bounded
    * aggregate with commutative map-side XOR partials. */
  def jsonRoundTrip(s: SparkSession, d: String): DataFrame = {
    val docs = DurableIndex.open(s, d, JsonDocs).path("docs")
    val h = graft.functions.GraftFunctions.md5Lower64(
      concat_ws("|", lit("jsonl:"), col("doc_id"), col("lang"),
        col("n_chars"), col("text")))
      .bitwiseAND(Long.MaxValue)
    s.read.schema(Tables.documents(s, d).schema)
      .json(docs)
      .select(col("source"), h.as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"), bit_xor(col("h")).as("xor_sum"))
  }

  /** q266's gzip JSON-lines copy of the documents table (a file). */
  val JsonDocs: DurableIndex.Spec =
    DurableIndex.Spec("json-docs", "documents.parquet") { (s, d, ix) =>
      Tables.documents(s, d).write.mode("overwrite")
        .option("compression", "gzip").json(ix.path("docs"))
    }

  val jsonRoundTripSql: String =
    s"""WITH h AS (SELECT source,
       |  CAST(md5_number_lower('jsonl:' || '|' || CAST(doc_id AS VARCHAR)
       |    || '|' || lang || '|' || CAST(n_chars AS VARCHAR) || '|' || text)
       |  & ${Long.MaxValue} AS BIGINT) AS h FROM documents)
       |SELECT source, count(*) AS n_rows, CAST(bit_xor(h) AS BIGINT) AS xor_sum
       |FROM h GROUP BY 1""".stripMargin.replace("\n", " ")
}
